package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.Scans

/** Text-analysis + deduplication operators over the `documents` table —
  * the LLM-training-data-pipeline extension surface (SURVEY.md §2
  * extension rows). All heuristics are expressed as codegen-friendly
  * built-in function compositions (no UDFs), so they stay inside
  * whole-stage codegen and scale linearly with the corpus; the pairwise
  * steps (LSH banding) shuffle only on band keys — never O(n²) over the
  * corpus.
  *
  * Every deterministic hash is md5-based so DuckDB computes the identical
  * value for the oracle; both dialect fragments are generated from shared
  * definitions below.
  */
object TextQueries {

  /** Preferred index path → the path actually staged this JVM
    * (dedup_incremental; differs from preferred only when the
    * beside-the-corpus default was unwritable and the scratch fallback
    * engaged). The index is persisted pipeline state, not part of the
    * measured per-ingest op.
    */
  private val fpIndexStaged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-index-path monitors: staging and ingest serialize on THEIR
    * index only, so one session's minutes-long index build never blocks
    * another session's unrelated path (and the whole-object lock stays
    * free for the cheap cache bookkeeping it guards).
    */
  private val fpIndexLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def fpIndexLock(path: String): Object =
    fpIndexLocks.computeIfAbsent(path, _ => new Object)

  /** Append the fingerprint column `fp` to a frame carrying `text` —
    * the ONE definition of the winnowing-lite fingerprint (min md5
    * over 8-char shingles at stride 4 of the lowered text; shingle
    * starts bounded by the RAW text length, because lowercasing is not
    * length-preserving in Unicode (İ → i̇) and the DuckDB twin derives
    * starts from the raw length): the persisted incremental-dedup index
    * AND the declared text_fingerprint output both derive from here, so
    * the two cannot drift. One codegen'd loop per row — the native
    * [[graft.functions.MinShingleMd5]]; ExtensionsSpec pins it
    * bit-equal to the built-in composition.
    */
  def withFingerprint(df: DataFrame): DataFrame =
    df.withColumn("fp", call_function("min_shingle_md5", col("text")))

  def fingerprintFrame(docs: DataFrame): DataFrame =
    withFingerprint(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("fp"))

  /** Where the persisted fingerprint index for a corpus lives. Persisted
    * pipeline state belongs BESIDE the data it indexes — default
    * `<dir>/_graft_fp_index`, riding the same filesystem/replication as
    * the corpus (the `_` prefix keeps it invisible to corpus scans, like
    * `_SUCCESS`). `graft.fp.index.dir` relocates it for corpora on
    * read-only storage (this repo's testdata; a locked-down lake zone) —
    * keyed by a corpus-dir digest so distinct corpora never collide
    * under one scratch root.
    */
  def fpIndexPath(s: SparkSession, dir: String): String =
    s.conf.getOption(PersistedState.FpIndexDirKey) match {
      case Some(root) => s"$root/fp_index_${PersistedState.corpusKey(dir)}"
      case None       => s"$dir/_graft_fp_index"
    }

  /** Stage the history fingerprint index once per (JVM, path) — building
    * the index is pipeline SETUP (done once, then appended per ingest),
    * not part of the measured per-ingest op; Bench pre-stages it before
    * the timed region. Returns the path actually staged: a read-only
    * corpus with no relocation conf degrades to local scratch instead of
    * failing the query.
    */
  def ensureFpIndex(s: SparkSession, dir: String, history: => DataFrame): String = {
    val preferred = fpIndexPath(s, dir)
    val hit = fpIndexStaged.get(preferred)
    if (hit != null) hit
    else fpIndexLock(preferred).synchronized {
      // double-check under THIS path's lock — a concurrent staging of
      // the same index must not run the build twice, but an unrelated
      // path must never wait on this build
      val again = fpIndexStaged.get(preferred)
      if (again != null) again
      else {
        val staged =
          PersistedState.writeWithFallback(s, PersistedState.FpIndexDirKey,
            preferred, dir, "fp_index") { p =>
            history.select(col("fp")).distinct()
              .write.mode("overwrite").parquet(p)
          }
        fpIndexStaged.put(preferred, staged)
        staged
      }
    }
  }

  /** Default-history staging (the declared query's shape): history =
    * docs below the 90% doc_id cut. */
  def ensureFpIndex(s: SparkSession, dir: String): String = {
    import s.implicits._
    val docs = Scans.table(s, dir, "documents")
    // coalesce: max() is NULL on an empty corpus — a cut of 0 degrades
    // to an empty history exactly like the oracle's NULL cut, instead
    // of an NPE decoding a non-nullable Long
    val cut = docs.agg(expr("coalesce(max(doc_id) * 9 div 10, 0)")).as[Long].head()
    ensureFpIndex(s, dir, fingerprintFrame(docs).filter(col("doc_id") < cut))
  }

  /** Grow the index with an ingested batch's fingerprints, so the NEXT
    * ingest sees this batch as history. Appends a new parquet segment —
    * no rewrite of the existing index (O(batch) per ingest); duplicate
    * fps across segments are harmless to the anti join.
    */
  def appendToFpIndex(batchFps: DataFrame, indexPath: String): Unit =
    batchFps.select(col("fp")).distinct().write.mode("append").parquet(indexPath)

  /** One incremental-dedup ingest: batch (doc_id, text) → the rows whose
    * fingerprint the index has not seen, then the index grows by the
    * batch's fingerprints. The survivor set is materialized with its
    * lineage CUT (eager localCheckpoint, O(batch) storage) before the
    * append: writing to the index path refreshes every plan that scans
    * it — a merely-cached anti join would be invalidated and lazily
    * recomputed against the grown index, deduping the batch against
    * itself.
    */
  def ingestBatch(s: SparkSession, batch: DataFrame, indexPath: String): DataFrame =
    // serialized per index path: two concurrent ingests would BOTH
    // anti-join the pre-append index (cross-batch duplicates all
    // survive, violating the next-ingest-sees-this-batch contract) and
    // their append jobs would share one _temporary dir, where the first
    // committer's cleanup can silently drop the second's files
    fpIndexLock(indexPath).synchronized {
      // checkpoint the FINGERPRINTS, not just the survivors: fps feeds
      // the anti-join AND the index append, and without materializing
      // it first the append re-evaluates the tokenize + min-shingle-md5
      // lineage from the source — doubling the dominant per-ingest cost
      val fps = fingerprintFrame(batch).localCheckpoint(true)
      val survivors = fps
        .join(s.read.parquet(indexPath), Seq("fp"), "left_anti")
        .localCheckpoint(true)
      appendToFpIndex(fps, indexPath)
      survivors
    }

  /** Bench-isolation hook: drop the session-scoped cached signature
    * table so one query's executor-storage footprint doesn't leak into
    * the next query's measurement. */
  def releaseCaches(): Unit = synchronized {
    // best-effort for the same stopped-session reason as lshCandidates
    cachedSigs.foreach(p => try p._2.unpersist(false)
      catch { case _: Exception => () })
    cachedSigs = None
  }

  // Tokenization, shared semantics in both dialects: lowercase, split on
  // non-alphanumeric runs, drop empties. concat_ws skips NULLs in both
  // engines, so 3-gram shingling agrees on short docs too.
  private val toksSpark = "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"
  private val toksDuck  = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '')"

  /** The documents scan spread to session width (Scans.spreadBytes) — used
    * by every key whose first stage runs a per-document kernel
    * (tokenize / shingle-digest / regex) heavy enough that the local
    * single-row-group scan's one task would serialize it on one core.
    * Identity on an already-split corpus; Catalyst prunes the exchange
    * to the columns the kernel actually reads.
    */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    Scans.spreadBytes(s, Scans.table(s, dir, "documents"),
      Scans.tableBytes(dir, "documents"))

  /** text_bm25_topk's fixed query: one rare term (`dup` appears only in
    * the synthetic corpus's duplicated documents) + two common ones, so
    * the (N−df+½)/(df+½) rarity weight separates documents instead of
    * collapsing to a constant.
    */
  private val bm25Terms = Seq("dup", "vector", "customer")


  // PII patterns — bracket-class-only regex (no backslash classes, no
  // lookarounds) so Java regex and RE2 agree character for character.
  // SSN is masked BEFORE phones: 3-2-4 digits must not half-match the
  // 3-3-4 phone shape after partial replacement.
  private val emailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private val phoneRx = "[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"
  private val ssnRx   = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val esStop = Seq("el", "la", "de", "y", "que", "en")
  private val deStop = Seq("der", "die", "das", "und", "ist")
  private val frStop = Seq("le", "la", "et", "les", "des", "est")

  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** text_quality_score's published ratios, ONE definition shared with
    * the spec that pins their BIGINT arithmetic: length()/size() are
    * INT, and 2*count*10^6 overflows INT at count ≥ 1074 (≈7 KB of
    * prose) — under ANSI mode that's a thrown query. The 2L leads the
    * chain so every product is BIGINT, matching the DuckDB oracle's
    * native BIGINT length(). D-suffixed fractional literals: a bare
    * 1000000.0 inside an expr STRING parses as DECIMAL (unlike
    * lit(1000000.0)), silently changing the published column dtype.
    */
  private[graft] def punctRatioExpr: org.apache.spark.sql.Column =
    expr("""((2L * (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', ''))) * 1000000L
           |    + greatest(length(text), 1))
           |  div (2L * greatest(length(text), 1))) / 1000000.0D""".stripMargin)

  private[graft] def stopwordRatioExpr: org.apache.spark.sql.Column =
    expr(s"""((2L * size(filter($toksSpark, t -> array_contains(array(${sqlList(enStop)}), t))) * 1000000L
            |    + greatest(size($toksSpark), 1))
            |  div (2L * greatest(size($toksSpark), 1))) / 1000000.0D""".stripMargin)

  /** The stopword-hit language classifier, one definition per dialect —
    * shared by text_language_id (per-doc predictions) and
    * text_langid_eval (confusion matrix), so the two can never drift.
    * Emits (doc_id, lang, predicted_lang); argmax with the fixed
    * en > es > de > fr tie order, 'und' when nothing hits.
    */
  private def langIdSql: String =
    s"""SELECT doc_id, lang,
       |       CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en > 0 THEN 'en'
       |            WHEN h_es >= h_de AND h_es >= h_fr AND h_es > 0 THEN 'es'
       |            WHEN h_de >= h_fr AND h_de > 0 THEN 'de'
       |            WHEN h_fr > 0 THEN 'fr' ELSE 'und' END AS predicted_lang
       |FROM (
       |  SELECT doc_id, lang,
       |         len(list_intersect(list_distinct($toksDuck), [${sqlList(enStop)}])) AS h_en,
       |         len(list_intersect(list_distinct($toksDuck), [${sqlList(esStop)}])) AS h_es,
       |         len(list_intersect(list_distinct($toksDuck), [${sqlList(deStop)}])) AS h_de,
       |         len(list_intersect(list_distinct($toksDuck), [${sqlList(frStop)}])) AS h_fr
       |  FROM documents) h""".stripMargin

  private def langIdFrame(s: SparkSession, dir: String): DataFrame = {
    def hits(ws: Seq[String]) =
      expr(s"size(array_intersect(array_distinct($toksSpark), array(${sqlList(ws)})))")
    Scans.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        hits(enStop).as("h_en"), hits(esStop).as("h_es"),
        hits(deStop).as("h_de"), hits(frStop).as("h_fr"))
      .select(col("doc_id"), col("lang"),
        when(col("h_en") >= col("h_es") && col("h_en") >= col("h_de") &&
             col("h_en") >= col("h_fr") && col("h_en") > 0, "en")
          .when(col("h_es") >= col("h_de") && col("h_es") >= col("h_fr") &&
                col("h_es") > 0, "es")
          .when(col("h_de") >= col("h_fr") && col("h_de") > 0, "de")
          .when(col("h_fr") > 0, "fr")
          .otherwise("und").as("predicted_lang"))
  }

  /** MinHash signature table: doc_id, sig_0..sig_7 (BIGINT). One md5 per
    * 3-word shingle folded to [0, p), then 8 affine families.
    */
  def minhashSigs(s: SparkSession, dir: String): DataFrame = {
    // The corpus arrives in few file-splits relative to core count (one
    // split here; at 100 TB still often CPU-bound vs split count), so fan
    // the per-row digest work out to full cluster width first — the tiny
    // (doc_id, text) shuffle buys hash computation at full parallelism.
    val docs = Scans.table(s, dir, "documents").repartition(col("doc_id"))
    // Fused row-local path (r7): `minhash_sigs(text)` computes tokenize →
    // shingle → md5 → fold → 8 affine minima in one codegen'd kernel call
    // (bit-identical to the HOF composition — spec-pinned in
    // ExtensionsSpec); interpreted transform lambdas re-pay
    // expression-tree dispatch per shingle and never enter whole-stage
    // codegen.
    docs.select(col("doc_id"), call_function("minhash_sigs", col("text")).as("mh"))
      .select(col("doc_id") +:
        (0 until 8).map(i => element_at(col("mh"), i + 1).as(s"sig_$i")): _*)
  }

  /** LSH band buckets → distinct candidate pairs: 4 bands × 2 signature
    * rows; docs sharing any (band, k1, k2) bucket become candidates. The
    * signature table is cached (at scale: materialized) so the self-join
    * reads it once; the join shuffles on band keys only — never
    * all-pairs over the corpus.
    */
  // one cached signature table at a time, keyed by source dir: the
  // LSH queries (candidates / verified / cluster-collapse) all start
  // from the same signatures, so within a session the table is computed
  // once and reused — the "materialize the sketch table" step of an
  // at-scale near-dedup pipeline. A different dir releases the previous
  // cache so repeated runs don't pin executor storage forever.
  private var cachedSigs: Option[(String, DataFrame)] = None

  /** The session-cached signature table, shared by EVERY key that reads
    * signatures (candidates / verified / calibration / the declared
    * signature key) — a second `minhashSigs` call would re-pay the full
    * tokenize + per-shingle md5 pass the cache exists to amortize. */
  def sharedSigs(s: SparkSession, dir: String): DataFrame = synchronized {
    cachedSigs match {
      case Some((d, df)) if d == dir && df.sparkSession.eq(s) => df
      case prev =>
        // best-effort: the previous cache may belong to a STOPPED
        // session (multi-session JVM) — its blocks died with the
        // context, and the unpersist RPC against it throws; that must
        // not fail the new session's first query
        prev.foreach(p => try p._2.unpersist(false)
          catch { case _: Exception => () })
        val fresh = minhashSigs(s, dir).cache()
        cachedSigs = Some((dir, fresh))
        fresh
    }
  }

  def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    val sigs = sharedSigs(s, dir)
    val bands = sigs.select(col("doc_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), col(s"sig_${2 * b}").as("k1"),
            col(s"sig_${2 * b + 1}").as("k2"))): _*))
          .as("x"))
      .select(col("doc_id"), col("x.band").as("band"),
        col("x.k1").as("k1"), col("x.k2").as("k2"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1") &&
        col("a.k2") === col("b.k2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Connected components over a pair graph, min node id per component
    * as the cluster representative — the "collapse near-dups to one
    * kept doc" step.
    *
    * Hybrid by edge count, like broadcast-vs-shuffle join selection:
    * a candidate graph that fits the driver (the common case — LSH
    * candidates are a sparse subset even of a 100 TB corpus) runs
    * union-find locally in O(E α(E)); a bigger graph falls back to
    * distributed min-label propagation, one shuffle per round,
    * converging in O(component diameter) rounds.
    */
  def collapseClusters(pairs: DataFrame, driverMaxEdges: Long = 2000000L): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val cached = pairs.cache()
    if (cached.count() <= driverMaxEdges) {
      val edges = cached.select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // always root at the smaller id ⇒ final root = component min
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      cached.unpersist(false) // edges are on the driver now
      edges.flatMap(e => Seq(e._1, e._2)).distinct.toSeq
        .map(n => (n, find(n)))
        .toDF("doc_id", "cluster_id")
    } else {
      val edges = cached.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(cached.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .cache()
      var labels = edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
        .cache()
      // Each round does edge-propagation AND a pointer jump (label :=
      // label's own label — every label is a node id, so it has a row).
      // Plain min-label propagation alone converges in O(diameter)
      // rounds, so a log-derived cap would spuriously abort a legitimate
      // long-chain component (the r10 review finding); with the jump the
      // label graph halves in depth per round like
      // graph_connected_components' pointer-jumped loop, making the
      // O(log |V|) cap sound. Floored at the prior 50-round contract.
      val nNodes = labels.count()
      val maxRounds = math.max(50,
        (math.log(math.max(nNodes.toDouble, 2.0)) / math.log(2.0)).ceil.toInt * 8)
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxRounds) {
        val propagated = edges
          .join(labels, edges("src") === labels("node"))
          .select(col("dst").as("node"), col("label"))
        // checkpoint BEFORE the self-join: it cuts the per-round lineage
        // AND gives the jump join an unambiguous plan (a self-join
        // through the union trips Catalyst's constraint rewrite)
        val folded = labels.select(col("node"), col("label"))
          .unionAll(propagated)
          .groupBy(col("node")).agg(min(col("label")).as("label"))
          .localCheckpoint()
        // pointer jump: jnode = label always exists as a node, and
        // jlabel ≤ jnode, so the join only ever lowers labels — the
        // fixpoint (label = component min) is unchanged, reached in
        // O(log d) with the jump instead of O(d) without
        val byLabel = folded
          .select(col("node").as("jnode"), col("label").as("jlabel"))
        val next = folded.join(byLabel, col("label") === col("jnode"))
          .select(col("node"), col("jlabel").as("label"))
          .localCheckpoint()
        changed = next.as("a")
          .join(labels.as("b"), col("a.node") === col("b.node"))
          .filter(col("a.label") =!= col("b.label")).count()
        folded.unpersist(false)
        labels.unpersist(false)
        labels = next
        iter += 1
      }
      edges.unpersist(false)
      cached.unpersist(false) // labels live on checkpointed blocks now
      // silent non-convergence would publish a component split into
      // multiple clusters as if it were the answer — fail loudly
      // instead, like the graph component loop
      require(changed == 0,
        s"cluster collapse did not converge within $iter rounds")
      labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
    }
  }

  /** The matching DuckDB CTE chain ending in `cand(doc_a, doc_b)`
    * (also exposes `toks`). */
  private def lshCandDuck: String =
    s"""toks AS (SELECT doc_id, $toksDuck AS tk FROM documents),
       |sh AS (SELECT doc_id,
       |              (CAST(concat('0x', substr(md5(concat_ws(' ', tk[i], tk[i+1], tk[i+2])), 1, 15)) AS BIGINT)
       |               % 1000000007) AS h
       |       FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1), 2)) AS u(i)),
       |sigs AS (SELECT doc_id,
       |         ${(0 until 8).map(i => s"min((h * ${2 * i + 1} + $i) % 1000000007) AS sig_$i").mkString(",\n         ")}
       |         FROM sh GROUP BY doc_id),
       |bands AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band, sig_${2 * b} AS k1, sig_${2 * b + 1} AS k2 FROM sigs")
          .mkString("\n          UNION ALL ")}),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       |          AND a.doc_id < b.doc_id)""".stripMargin

  /** The DuckDB oracle's 64-bit SimHash vote sums from token md5s
    * (`th`): bit b (= 4·(d−1)+k: bit k of hex digit d) votes +1/−1 per
    * token, one `s_b` column per bit; the signature bit is sign(sum)
    * ([[simhashAssemble]]). The native `simhash64` folds the same votes
    * per document ([[graft.functions.SimhashTextKernel]]).
    */
  private def simhashSumsDuck: String = (0 until 64).map { b =>
    val d = b / 4 + 1; val k = b % 4
    s"sum(CASE WHEN (((strpos('0123456789abcdef', substr(th, $d, 1)) - 1) >> $k) & 1) = 1 THEN 1 ELSE -1 END) AS s_$b"
  }.mkString(",\n       ")
  private def simhashAssemble(bit: Int => String): String =
    (1 to 16).map { d =>
      val v = (0 until 4).map(k => s"(${bit(4 * (d - 1) + k)}) * ${1 << k}").mkString(" + ")
      s"substring('0123456789abcdef', ($v) + 1, 1)"
    }.mkString("concat(", ", ", ")")

  val entries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // dedup_exact — exact dedup as hash-groupBy on content: keep the
    // min doc_id per distinct text. One shuffle on the content hash.
    // ------------------------------------------------------------------
    QueryDef("dedup_exact",
      """SELECT min(doc_id) AS doc_id, count(*) AS copies, md5(text) AS text_md5
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("copies"),
          md5(col("text")).as("text_md5"))
        .select(col("doc_id"), col("copies"), col("text_md5"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // dedup_chunk_exact — SUB-document exact dedup: the line/paragraph-
    // level pass of a training pipeline (the FineWeb/RefinedWeb shape —
    // documents are mostly unique while their fragments repeat). Chunks
    // use text_chunk_overlap's exact lattice (256 chars, stride 192);
    // identity is the chunk md5; the keeper is the corpus-wide first
    // instance by (doc_id, position). Plan: the explode keeps only the
    // 16-byte digest + a long instance key per chunk (text never leaves
    // its row); the ownership aggregate shuffles those ~40-byte rows on
    // the digest, and at bench scale Spark then BROADCASTS the ownership
    // table back over the probe side (observed plan: BroadcastHashJoin
    // over one digest Exchange). At 100 TB ownership outgrows the
    // broadcast threshold and both sides hash-partition on the digest —
    // still only digest-width rows in flight, never chunk text.
    // ------------------------------------------------------------------
    QueryDef("dedup_chunk_exact",
      """WITH c AS (
        |  SELECT d.source, d.doc_id, u.i AS pos_char,
        |         md5(substr(d.text, u.i, 256)) AS h
        |  FROM documents d,
        |       unnest(generate_series(1, greatest(length(d.text) - 63, 1), 192)) AS u(i)),
        |o AS (
        |  SELECT h, count(*) AS copies,
        |         min({'doc_id': doc_id, 'pos_char': pos_char}) AS owner
        |  FROM c GROUP BY h)
        |SELECT c.source, count(*) AS n_chunks,
        |       CAST(count(CASE WHEN o.copies > 1
        |                        AND {'doc_id': c.doc_id, 'pos_char': c.pos_char} <> o.owner
        |                       THEN 1 END) AS BIGINT) AS n_dup_chunks,
        |       CAST(count(DISTINCT CASE WHEN o.copies > 1
        |                        AND {'doc_id': c.doc_id, 'pos_char': c.pos_char} <> o.owner
        |                                THEN c.doc_id END) AS BIGINT) AS n_docs_affected
        |FROM c JOIN o USING (h)
        |GROUP BY c.source ORDER BY c.source""".stripMargin) { (s, dir) =>
      val chunks = Scans.table(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          posexplode(expr(
            "transform(sequence(1, greatest(length(text) - 63, 1), 192), i -> md5(substring(text, i, 256)))")))
        .select(col("source"), col("doc_id"),
          // char position 1 + 192*ordinal; the keep-first instance key is
          // the STRUCT (doc_id, pos_char) — lexicographic min on both
          // engines, collision-free at any document length (a packed
          // numeric key bleeds across doc_ids once a doc outgrows the
          // multiplier)
          (lit(1) + col("pos") * 192).as("pos_char"),
          col("col").as("h"))
      val owners = chunks.groupBy(col("h"))
        .agg(count(lit(1)).as("copies"),
          min(struct(col("doc_id"), col("pos_char"))).as("owner"))
      chunks.join(owners, "h")
        .withColumn("is_dup",
          col("copies") > 1 &&
            struct(col("doc_id"), col("pos_char")) =!= col("owner"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("is_dup"), 1)).cast("long").as("n_dup_chunks"),
          countDistinct(when(col("is_dup"), col("doc_id"))).cast("long")
            .as("n_docs_affected"))
        .orderBy(col("source"))
    },

    // ------------------------------------------------------------------
    // text_token_count — whitespace/punct tokenizer + counts: the
    // token-accounting pass of a data pipeline.
    // ------------------------------------------------------------------
    QueryDef("text_token_count",
      s"""SELECT doc_id,
         |       len($toksDuck) AS n_tokens,
         |       length(text) AS n_chars_actual,
         |       len(list_distinct($toksDuck)) AS n_unique_tokens
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "documents")
        .select(col("doc_id"),
          expr(s"size($toksSpark)").cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_actual"),
          expr(s"size(array_distinct($toksSpark))").cast("long").as("n_unique_tokens"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // text_quality_score — length / punctuation / stopword-ratio
    // quality heuristics, rational arithmetic only (oracle-stable).
    // ------------------------------------------------------------------
    QueryDef("text_quality_score",
      s"""SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
         |       floor((CASE WHEN n_tokens < 100 THEN n_tokens / 100.0 ELSE 1.0 END
         |              * (1.0 - stopword_ratio) * (1.0 - punct_ratio))
         |             * 1000000 + 0.5) / 1000000.0 AS quality_score
         |FROM (
         |  SELECT doc_id,
         |         len($toksDuck) AS n_tokens,
         |         ((2 * (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1000000
         |             + greatest(length(text), 1))
         |           // (2 * greatest(length(text), 1))) / 1000000.0 AS punct_ratio,
         |         ((2 * len(list_filter($toksDuck, t -> list_contains([${sqlList(enStop)}], t))) * 1000000
         |             + greatest(len($toksDuck), 1))
         |           // (2 * greatest(len($toksDuck), 1))) / 1000000.0 AS stopword_ratio
         |  FROM documents) q
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // Ratio discipline (the events-slice form): both published ratios
      // are integer half-up quotients at 6 dp — round() of a ratio
      // double is the non-portable step. The composite score multiplies
      // the two published grid doubles and a n/100.0 term (all derived
      // from identical integers through identical IEEE ops on both
      // engines), so the final 6-dp quantize is sign-free
      // floor(x*1e6 + 0.5) — portable because floor of an identical
      // double is identical, unlike round()'s rendering-vs-binary split.
      // The punct strip runs on LOWER(text) — the tokenizer's own case
      // fold — so sentence-case letters are not counted as punctuation
      // (a gate-blind both-sides defect the r10 review caught: both
      // engines agreed on the wrong ratio, so the oracle never saw it).
      Scans.table(s, dir, "documents")
        .select(col("doc_id"),
          expr(s"size($toksSpark)").cast("long").as("n_tokens"),
          // BIGINT-chained half-up quotients — see punctRatioExpr's doc
          // (the spec drives the same defs over a >1074-punct document)
          punctRatioExpr.as("punct_ratio"),
          stopwordRatioExpr.as("stopword_ratio"))
        .select(col("doc_id"), col("n_tokens"), col("punct_ratio"), col("stopword_ratio"),
          expr("""floor((CASE WHEN n_tokens < 100 THEN n_tokens / 100.0D ELSE 1.0D END
                 |       * (1.0D - stopword_ratio) * (1.0D - punct_ratio))
                 |      * 1000000 + 0.5D) / 1000000.0D""".stripMargin)
            .as("quality_score"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // text_language_id — n-gram/stopword-hit language heuristic over
    // distinct tokens; argmax with a fixed tie order. Classifier shared
    // with text_langid_eval (langIdSql / langIdFrame).
    // ------------------------------------------------------------------
    QueryDef("text_language_id",
      s"""SELECT doc_id, lang, predicted_lang FROM ($langIdSql) p
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      langIdFrame(s, dir).orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // text_langid_eval — classifier quality against the labeled corpus:
    // the full confusion matrix of the stopword-hit language heuristic
    // vs the ground-truth lang column, with each cell's share of its
    // true-language row (per-language recall reads off the diagonal).
    // The measurement every heuristic gate needs before it filters a
    // corpus — THE distinct pipeline step on top of the classifier the
    // two keys share by construction (one definition, both dialects).
    // The matrix is |langs|²-sized, so the share window runs over a
    // frame that never grows with the corpus; shares are exact integer
    // ratios.
    // ------------------------------------------------------------------
    QueryDef("text_langid_eval",
      s"""WITH p AS ($langIdSql)
         |SELECT lang, predicted_lang, count(*) AS n_docs,
         |       ((2 * count(*) * 1000000 + sum(count(*)) OVER (PARTITION BY lang))
         |         // (2 * sum(count(*)) OVER (PARTITION BY lang))) / 1000000.0
         |         AS share_of_lang
         |FROM p GROUP BY lang, predicted_lang
         |ORDER BY lang, predicted_lang""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // integer half-up quotient at 6 dp (the events-slice discipline):
      // round() of a count-ratio double diverges between engines when
      // the exact ratio has >6 significant decimals and its shortest
      // rendering sits on a half boundary (41/640 = 0.0640625 → Spark
      // 0.064063, DuckDB 0.064062) — the same class the forecast/funnel
      // keys already fixed
      langIdFrame(s, dir)
        .groupBy(col("lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("lang_total",
          sum(col("n_docs")).over(Window.partitionBy(col("lang"))))
        .select(col("lang"), col("predicted_lang"), col("n_docs"),
          (expr("(2 * n_docs * 1000000 + lang_total) div (2 * lang_total)")
            / lit(1000000.0)).as("share_of_lang"))
        .orderBy(col("lang"), col("predicted_lang"))
    },

    // ------------------------------------------------------------------
    // text_entropy_filter — word-level Shannon entropy quality gate:
    // low-entropy documents are boilerplate/repetition (a handful of
    // tokens looping), high entropy is lexical diversity — a standard
    // pretraining quality signal next to the ratio heuristics. The
    // Spark side is fully ROW-LOCAL (one fused `token_entropy` native
    // call per doc — `functions/TokenEntropy.scala` — no explode, no
    // token-grain shuffle; at 100 TB this runs embarrassingly parallel
    // over the scan like the other gates);
    // the oracle states the same entropy as grouped SQL. Both compute
    // h = log2(T) − Σ c·log2(c) / T and round at 4 decimals. The round
    // REDUCES, not eliminates, cross-engine divergence: summation order
    // differs (Spark folds sorted runs, DuckDB sums hash groups) and
    // libm log2 is only ≤1-ulp accurate, so a document whose entropy
    // lands within ~1 ulp of a 0.00005 boundary could round apart. An
    // exact integer form does not exist for logs (unlike the ratio
    // keys); the residual risk is accepted as per-doc ~1e-12 — if it
    // ever fires, the fix is a sorted deterministic fold on BOTH
    // dialects, not a wider round.
    // ------------------------------------------------------------------
    QueryDef("text_entropy_filter",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksDuck) AS w FROM documents),
         |wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
         |ent AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |         round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS word_entropy
         |  FROM wc GROUP BY doc_id)
         |SELECT doc_id, n_tokens, word_entropy,
         |       (n_tokens >= 5 AND word_entropy >= 2.0) AS passes
         |FROM ent ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // The profile (one fused token_entropy call per doc —
      // entropyProfile) feeds a `passes` COLUMN,
      // not a filter on the computed entropy: predicate pushdown
      // substitutes aliases into a pushed filter with no cost guard, so
      // `WHERE word_entropy >= 2` re-runs the whole profile tree inside
      // the inlined condition — measured 92 s vs 0.5 s at sf0.1 on the
      // HOF form. The only filter is on the RAW column (has an
      // alphanumeric char ⇔ the tokenizer yields ≥ 1 token — exactly
      // the oracle's domain), which pushes into the parquet scan for
      // free.
      entropyProfile(
        Scans.table(s, dir, "documents")
          .filter(lower(col("text")).rlike("[a-z0-9]"))) // tokenizer-exact domain: toks nonempty iff
        // LOWER(text) has [a-z0-9] (a raw-text ASCII class would drop
        // docs whose only alphanumerics lowercase INTO the class,
        // e.g. U+212A)
        .select(col("doc_id"), col("n_tokens"), col("word_entropy"),
          (col("n_tokens") >= 5 && col("word_entropy") >= 2.0).as("passes"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // text_bpe_tokens — BPE-style pre-tokenization accounting: the
    // GPT-2-ish pre-token split (letter runs | digit runs | punctuation
    // runs) vs plain whitespace tokens, per document. The regex is
    // lookaround-free so Java regex (Spark) and RE2 (DuckDB) agree.
    // ------------------------------------------------------------------
    QueryDef("text_bpe_tokens",
      // the whitespace class is EXPLICIT ([\t\n\f\r ]) on both sides,
      // never \s: Java's \s includes U+000B (vertical tab) while
      // DuckDB/RE2's does not, so a VT in a document would make the
      // token counts diverge between the engines — the explicit class
      // is the intersection both implement identically
      """SELECT doc_id,
        |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\t\n\f\r ]+')) AS n_bpe_tokens,
        |       len(list_filter(string_split_regex(text, '[\t\n\f\r ]+'), t -> t != '')) AS n_ws_tokens,
        |       ((2 * len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\t\n\f\r ]+')) * 1000000
        |           + greatest(len(list_filter(string_split_regex(text, '[\t\n\f\r ]+'), t -> t != '')), 1))
        |         // (2 * greatest(len(list_filter(string_split_regex(text, '[\t\n\f\r ]+'), t -> t != '')), 1)))
        |         / 1000000.0 AS bpe_per_word
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bpe = "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\t\\\\n\\\\f\\\\r ]+', 0)"
      val ws = "filter(split(text, '[\\\\t\\\\n\\\\f\\\\r ]+'), t -> t != '')"
      Scans.table(s, dir, "documents")
        .select(col("doc_id"),
          expr(s"size($bpe)").cast("long").as("n_bpe_tokens"),
          expr(s"size($ws)").cast("long").as("n_ws_tokens"))
        // integer half-up quotient at 6 dp (both counts are LONGs) —
        // the round()-of-ratio-double class the jaccard keys shed
        .select(col("doc_id"), col("n_bpe_tokens"), col("n_ws_tokens"),
          (expr("(2 * n_bpe_tokens * 1000000 + greatest(n_ws_tokens, 1))" +
            " div (2 * greatest(n_ws_tokens, 1))") / lit(1000000.0))
            .as("bpe_per_word"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // text_fingerprint — rolling-hash document fingerprint: min md5 over
    // 8-char shingles at stride 4 of the lowercased text (winnowing-lite).
    // ------------------------------------------------------------------
    QueryDef("text_fingerprint",
      """SELECT d.doc_id,
        |       min(md5(substr(lower(d.text), u.i, 8))) AS fingerprint,
        |       count(*) AS n_shingles
        |FROM documents d,
        |     unnest(generate_series(1, greatest(length(d.text) - 7, 1), 4)) AS u(i)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      // One row-local projection. The fingerprint column IS
      // withFingerprint's — the same single definition the persisted
      // incremental-dedup index uses, so the two cannot drift (the
      // guarantee used to rest on a copy-pasted restatement here).
      // n_shingles is the shingle-start count — the length of
      // sequence(1, greatest(len - 7, 1), 4) as plain arithmetic,
      // never a materialized array.
      withFingerprint(Scans.table(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("fp").as("fingerprint"),
          expr("cast((greatest(length(text) - 7, 1) - 1) div 4 + 1 AS bigint)")
            .as("n_shingles"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // text_ngram_freq — corpus vocabulary statistics: top-20 token
    // bigrams by frequency. Map-side partial counts per bigram, one
    // shuffle on the bigram key, a TakeOrdered for the top slice —
    // never a global sort of the vocabulary.
    // ------------------------------------------------------------------
    QueryDef("text_ngram_freq",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS tk FROM documents),
         |bg AS (SELECT concat(tk[i], ' ', tk[i+1]) AS bigram
         |       FROM toks, unnest(generate_series(1, len(tk) - 1)) AS u(i))
         |SELECT bigram, freq, rank FROM (
         |  SELECT bigram, count(*) AS freq,
         |         row_number() OVER (ORDER BY count(*) DESC, bigram) AS rank
         |  FROM bg GROUP BY bigram) r
         |WHERE rank <= 20 ORDER BY rank""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Scans.table(s, dir, "documents")
        .select(expr(toksSpark).as("tks"))
        // guard: Spark's sequence(1, 0) is DESCENDING [1,0], not empty —
        // short docs must yield no bigrams
        .select(explode(expr(
          """CASE WHEN size(tks) >= 2
            |  THEN transform(sequence(1, size(tks) - 1),
            |         i -> concat(element_at(tks, i), ' ', element_at(tks, i + 1)))
            |  ELSE cast(array() AS array<string>) END""".stripMargin)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("freq"))
        // distributed TakeOrdered for the top slice FIRST; the
        // single-partition rank window then sees only 20 rows (a global
        // row_number window over the vocabulary would funnel every
        // bigram through one task)
        .orderBy(col("freq").desc, col("bigram")).limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("freq").desc, col("bigram")))
            .cast("long"))
        .select(col("bigram"), col("freq"), col("rank"))
        .orderBy(col("rank"))
    },

    // ------------------------------------------------------------------
    // text_boilerplate_ngrams — cross-document boilerplate mining (the
    // C4/RefinedWeb "find the template text" pass): the top-20 8-token
    // shingles that appear in MORE THAN ONE document, ranked by
    // document reach then total occurrences. Scale-right two-pass
    // design: pass 1 aggregates 16-byte md5 digests (never shingle
    // text) — (digest, doc_id) partial-dedup then digest rollup, both
    // map-side combined, so the token-grain shuffle carries digest-
    // width rows and collapses onto the boilerplate head; the top-20
    // is a distributed TakeOrdered. Pass 2 recovers the 20 shingle
    // TEXTS by broadcasting the winning digests back over the corpus —
    // candidate-proportional, no second data-sized shuffle. Ties at
    // the cut break on the digest hex (identical in both engines), so
    // the slice is deterministic.
    // ------------------------------------------------------------------
    QueryDef("text_boilerplate_ngrams",
      s"""WITH d AS (SELECT doc_id, $toksDuck AS tk FROM documents),
         |s AS (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS shingle
         |      FROM d, unnest(generate_series(1, len(tk) - 7)) AS u(i)
         |      WHERE len(tk) >= 8),
         |stats AS (
         |  SELECT md5(shingle) AS h, min(shingle) AS shingle,
         |         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |         CAST(count(*) AS BIGINT) AS n_occ
         |  FROM s GROUP BY md5(shingle)
         |  HAVING count(DISTINCT doc_id) > 1)
         |SELECT rank, shingle, n_docs, n_occ FROM (
         |  SELECT shingle, n_docs, n_occ,
         |         row_number() OVER (ORDER BY n_docs DESC, n_occ DESC, h)
         |           AS rank
         |  FROM stats) r
         |WHERE rank <= 20 ORDER BY rank""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // per-doc shingle digests: the native fused kernel (one codegen'd
      // pass: tokenize → 8-token shingle → md5 hex; empty for a doc
      // under 8 tokens)
      val hsCol = call_function("shingle_md5s", col("text"))
      // spread BEFORE the digest kernel: both passes run the fused
      // tokenize→shingle→md5 kernel over every document, and the local
      // single-row-group scan would serialize that on one core
      // (Scans.spreadBytes is the identity on an already-split corpus)
      def docsHs = Scans.spreadBytes(s, Scans.table(s, dir, "documents")
          .select(col("doc_id"), col("text")), Scans.tableBytes(dir, "documents"))
        .select(col("doc_id"), col("text"), hsCol.as("hs"))
      val perDoc = docsHs
        .select(col("doc_id"), explode(col("hs")).as("h"))
        .groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("occ"))
      // materialize the 20-winner cut ONCE: the recovery pass references
      // it three ways (the prefilter array, the membership test, the
      // stats join), and a lazy frame would re-run the whole digest
      // aggregation for each — 20 rows collected to a LocalRelation is
      // the k-means-centroid precedent, not a driver-side data loop
      val topRows = perDoc.groupBy(col("h"))
        .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"))
        .filter(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("h")).limit(20)
        .collect()
      val top = s.createDataFrame(
        java.util.Arrays.asList(topRows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_docs",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_occ",
            org.apache.spark.sql.types.LongType))))
      val topHs = typedlit(topRows.map(_.getAs[String]("h")).toSeq)
      // recovery pass: prefilter docs to those holding a winning digest
      // (arrays_overlap against the literal 20-digest array) BEFORE
      // exploding, so the text column is only unpacked per shingle for
      // the handful of matching documents; the shingle string itself is
      // rebuilt row-locally from (text, pos) for survivors only — all
      // instances of a digest are the same string, so min() over the
      // surviving instances equals min() over all of them
      docsHs
        .filter(arrays_overlap(col("hs"), topHs))
        .select(col("text"), posexplode(col("hs")).as(Seq("pos", "h")))
        .filter(array_contains(topHs, col("h")))
        .select(col("h"),
          expr(s"array_join(slice($toksSpark, pos + 1, 8), ' ')").as("shingle"))
        .join(broadcast(top), "h")
        .groupBy(col("h"), col("n_docs"), col("n_occ"))
        .agg(min(col("shingle")).as("shingle"))
        .withColumn("rank",
          row_number().over(
            Window.orderBy(col("n_docs").desc, col("n_occ").desc, col("h")))
            .cast("long"))
        .select(col("rank"), col("shingle"),
          col("n_docs").cast("long").as("n_docs"),
          col("n_occ").cast("long").as("n_occ"))
        .orderBy(col("rank"))
    },

    // ------------------------------------------------------------------
    // dedup_ngram_jaccard — n-gram Jaccard similarity between candidate
    // pairs (adjacent doc_ids as the deterministic candidate set):
    // |A∩B| / |A∪B| over distinct token sets.
    // ------------------------------------------------------------------
    QueryDef("dedup_ngram_jaccard",
      s"""WITH toks AS (
         |  SELECT doc_id, list_distinct($toksDuck) AS ts FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       ((2 * len(list_intersect(a.ts, b.ts)) * 1000000
         |           + greatest(len(list_distinct(a.ts || b.ts)), 1))
         |         // (2 * greatest(len(list_distinct(a.ts || b.ts)), 1)))
         |         / 1000000.0 AS jaccard
         |FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
         |ORDER BY doc_a""".stripMargin) { (s, dir) =>
      val toks = docsSpread(s, dir)
        .select(col("doc_id"), expr(s"array_distinct($toksSpark)").as("ts"))
      // integer half-up quotient at 6 dp: both counts are exact ints,
      // so the published grid value is engine-identical — round() of the
      // ratio double diverges on rendering-half cases (41/640 class)
      toks.as("a").join(toks.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("""((2L * size(array_intersect(a.ts, b.ts)) * 1000000L
                 |    + greatest(size(array_union(a.ts, b.ts)), 1))
                 |  div (2L * greatest(size(array_union(a.ts, b.ts)), 1))) / 1000000.0D"""
            .stripMargin).as("jaccard"))
        .orderBy(col("doc_a"))
    },

    // ------------------------------------------------------------------
    // dedup_minhash — MinHash signatures over 3-word shingles. One md5
    // per shingle folded to a 60-bit integer, then 8 affine hash
    // families (h·(2i+1)+i mod p) — the classic one-hash minhash trick:
    // 8× cheaper than 8 independent digests, identical math in DuckDB.
    // ------------------------------------------------------------------
    QueryDef("dedup_minhash",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS tk FROM documents),
         |sh AS (SELECT doc_id,
         |              (CAST(concat('0x', substr(md5(concat_ws(' ', tk[i], tk[i+1], tk[i+2])), 1, 15)) AS BIGINT)
         |               % 1000000007) AS h
         |       FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1), 2)) AS u(i))
         |SELECT doc_id,
         |       ${(0 until 8).map(i => s"min((h * ${2 * i + 1} + $i) % 1000000007) AS sig_$i").mkString(",\n       ")}
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      sharedSigs(s, dir).orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // dedup_minhash_lsh — LSH banding over the MinHash signatures: 4
    // bands × 2 rows; docs sharing any band bucket become candidate
    // pairs. The signature table is cached (at scale: materialized) so
    // the self-join reads it once; the join shuffles on band keys only —
    // the scale path for near-dedup (never all-pairs).
    // ------------------------------------------------------------------
    QueryDef("dedup_minhash_lsh",
      s"""WITH $lshCandDuck
         |SELECT doc_a, doc_b FROM cand
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      lshCandidates(s, dir).orderBy(col("doc_a"), col("doc_b"))
    },

    // ------------------------------------------------------------------
    // dedup_lsh_verified — the COMPLETE near-dedup pipeline: LSH
    // candidate generation (shuffle on band keys) followed by exact
    // Jaccard verification of only the candidate pairs. The verify
    // shuffle is proportional to candidates, not the corpus — the
    // at-scale pattern (all-pairs never happens, false positives never
    // survive).
    // ------------------------------------------------------------------
    QueryDef("dedup_lsh_verified",
      s"""WITH $lshCandDuck,
         |tsets AS (SELECT doc_id, list_distinct(tk) AS ts FROM toks)
         |SELECT * FROM (
         |  SELECT c.doc_a, c.doc_b,
         |         ((2 * len(list_intersect(ta.ts, tb.ts)) * 1000000
         |             + greatest(len(list_distinct(ta.ts || tb.ts)), 1))
         |           // (2 * greatest(len(list_distinct(ta.ts || tb.ts)), 1)))
         |           / 1000000.0 AS jaccard
         |  FROM cand c
         |  JOIN tsets ta ON ta.doc_id = c.doc_a
         |  JOIN tsets tb ON tb.doc_id = c.doc_b) v
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      // no broadcast hint: at 100 TB the token-set side is corpus-sized,
      // so the right plan is a shuffle join on doc ids (candidates are
      // few); AQE still broadcasts when the side is actually small.
      val tsets = Scans.table(s, dir, "documents")
        .select(col("doc_id"), expr(s"array_distinct($toksSpark)").as("ts"))
      val cand = lshCandidates(s, dir)
      cand
        .join(tsets.select(col("doc_id").as("doc_a"), col("ts").as("ts_a")), Seq("doc_a"))
        .join(tsets.select(col("doc_id").as("doc_b"), col("ts").as("ts_b")), Seq("doc_b"))
        // integer half-up quotient: the jaccard the >= 0.5 VERIFY gate
        // filters on must be engine-identical, or a ratio on a rounding
        // boundary passes on one engine and drops on the other — a
        // row-COUNT mismatch, not just a cell difference
        .select(col("doc_a"), col("doc_b"),
          expr("""((2L * size(array_intersect(ts_a, ts_b)) * 1000000L
                 |    + greatest(size(array_union(ts_a, ts_b)), 1))
                 |  div (2L * greatest(size(array_union(ts_a, ts_b)), 1))) / 1000000.0D"""
            .stripMargin).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ------------------------------------------------------------------
    // dedup_sketch_calibration — how well does the 8-permutation
    // MinHash estimate track true Jaccard on the candidate pairs? Per
    // LSH candidate: the sketch estimate (matching-signature fraction,
    // an exact k/8 — 8 is a power of two, so the estimate is
    // bit-exact), the true token-set Jaccard, and the absolute error —
    // the calibration read that sizes a production signature width
    // (more permutations ⇄ tighter estimates ⇄ bigger sketch table).
    // Candidate-proportional cost: two sig-table joins + two token-set
    // joins, all doc_id-keyed; the cached signature table is shared
    // with the other LSH keys.
    // ------------------------------------------------------------------
    QueryDef("dedup_sketch_calibration",
      s"""WITH $lshCandDuck,
         |tsets AS (SELECT doc_id, list_distinct(tk) AS ts FROM toks),
         |est AS (SELECT c.doc_a, c.doc_b,
         |        (${(0 until 8).map(i =>
                    s"CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END")
                    .mkString(" + ")}) / 8.0 AS est_j
         |        FROM cand c
         |        JOIN sigs sa ON sa.doc_id = c.doc_a
         |        JOIN sigs sb ON sb.doc_id = c.doc_b),
         |tru AS (SELECT c.doc_a, c.doc_b,
         |        ((2 * len(list_intersect(ta.ts, tb.ts)) * 1000000
         |            + greatest(len(list_distinct(ta.ts || tb.ts)), 1))
         |          // (2 * greatest(len(list_distinct(ta.ts || tb.ts)), 1)))
         |          / 1000000.0 AS true_j
         |        FROM cand c
         |        JOIN tsets ta ON ta.doc_id = c.doc_a
         |        JOIN tsets tb ON tb.doc_id = c.doc_b)
         |SELECT e.doc_a, e.doc_b,
         |       round(e.est_j, 6) AS est_jaccard,
         |       t.true_j AS true_jaccard,
         |       round(abs(e.est_j - t.true_j), 6) AS abs_err
         |FROM est e JOIN tru t ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b
         |ORDER BY e.doc_a, e.doc_b""".stripMargin) { (s, dir) =>
      val cand = lshCandidates(s, dir)
      // the CACHED table (lshCandidates just built it) — a fresh
      // minhashSigs lineage here would re-tokenize and re-md5 the corpus
      // once per join side, the cost the session cache exists to share
      val sigs = sharedSigs(s, dir)
      val matchExpr = (0 until 8)
        .map(i => when(col(s"a_sig_$i") === col(s"b_sig_$i"), 1).otherwise(0))
        .reduce(_ + _)
      val tsets = Scans.table(s, dir, "documents")
        .select(col("doc_id"), expr(s"array_distinct($toksSpark)").as("ts"))
      cand
        .join(sigs.select(col("doc_id").as("doc_a") +:
          (0 until 8).map(i => col(s"sig_$i").as(s"a_sig_$i")): _*), Seq("doc_a"))
        .join(sigs.select(col("doc_id").as("doc_b") +:
          (0 until 8).map(i => col(s"sig_$i").as(s"b_sig_$i")): _*), Seq("doc_b"))
        .join(tsets.select(col("doc_id").as("doc_a"), col("ts").as("ts_a")),
          Seq("doc_a"))
        .join(tsets.select(col("doc_id").as("doc_b"), col("ts").as("ts_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (matchExpr / lit(8.0)).as("est_j"),
          // integer half-up quotient like the other jaccard keys; the
          // abs_err round below is then stable too (est_j is an exact
          // k/8 and true_jaccard an exact 6-dp grid value, so their
          // difference is an engine-identical double ON the grid)
          expr("""((2L * size(array_intersect(ts_a, ts_b)) * 1000000L
                 |    + greatest(size(array_union(ts_a, ts_b)), 1))
                 |  div (2L * greatest(size(array_union(ts_a, ts_b)), 1))) / 1000000.0D"""
            .stripMargin).as("true_jaccard"))
        .select(col("doc_a"), col("doc_b"),
          round(col("est_j"), 6).as("est_jaccard"), col("true_jaccard"),
          round(abs(col("est_j") - col("true_jaccard")), 6).as("abs_err"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ------------------------------------------------------------------
    // dedup_containment — ASYMMETRIC near-dup detection over the same
    // LSH candidates: containment |A∩B|/|A| catches a document that is
    // a near-SUBSET of another (boilerplate wrapping, quoted articles —
    // the web-data case symmetric Jaccard under-scores, since the union
    // in its denominator is dominated by the larger doc). Same
    // candidate-proportional cost as the Jaccard verify; the cached
    // signature table is shared.
    // ------------------------------------------------------------------
    QueryDef("dedup_containment",
      s"""WITH $lshCandDuck,
         |tsets AS (SELECT doc_id, list_distinct(tk) AS ts FROM toks)
         |SELECT * FROM (
         |  SELECT c.doc_a, c.doc_b,
         |         ((2 * len(list_intersect(ta.ts, tb.ts)) * 1000000
         |             + greatest(len(ta.ts), 1))
         |           // (2 * greatest(len(ta.ts), 1))) / 1000000.0 AS contain_a,
         |         ((2 * len(list_intersect(ta.ts, tb.ts)) * 1000000
         |             + greatest(len(tb.ts), 1))
         |           // (2 * greatest(len(tb.ts), 1))) / 1000000.0 AS contain_b
         |  FROM cand c
         |  JOIN tsets ta ON ta.doc_id = c.doc_a
         |  JOIN tsets tb ON tb.doc_id = c.doc_b) v
         |WHERE greatest(contain_a, contain_b) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val tsets = docsSpread(s, dir)
        .select(col("doc_id"), expr(s"array_distinct($toksSpark)").as("ts"))
      lshCandidates(s, dir)
        .join(tsets.select(col("doc_id").as("doc_a"), col("ts").as("ts_a")), Seq("doc_a"))
        .join(tsets.select(col("doc_id").as("doc_b"), col("ts").as("ts_b")), Seq("doc_b"))
        // integer half-up quotients like the jaccard keys: the >= 0.5
        // admission gate below reads these, so they must be
        // engine-identical or the published row SET forks
        .select(col("doc_a"), col("doc_b"),
          expr("""((2L * size(array_intersect(ts_a, ts_b)) * 1000000L
                 |    + greatest(size(ts_a), 1))
                 |  div (2L * greatest(size(ts_a), 1))) / 1000000.0D""".stripMargin)
            .as("contain_a"),
          expr("""((2L * size(array_intersect(ts_a, ts_b)) * 1000000L
                 |    + greatest(size(ts_b), 1))
                 |  div (2L * greatest(size(ts_b), 1))) / 1000000.0D""".stripMargin)
            .as("contain_b"))
        .filter(greatest(col("contain_a"), col("contain_b")) >= 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ------------------------------------------------------------------
    // dedup_cluster_collapse — collapse near-dup candidate pairs into
    // clusters: connected components over the LSH pair graph, min doc_id
    // as the cluster representative (what a pipeline keeps). Spark side:
    // iterative min-label propagation — per iteration one shuffle on
    // node id, converges in O(component diameter) steps; at 100 TB this
    // is the standard CC loop (checkpoint every few iterations to cut
    // lineage). Oracle: recursive-CTE transitive closure.
    // ------------------------------------------------------------------
    QueryDef("dedup_cluster_collapse",
      s"""WITH RECURSIVE $lshCandDuck,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |nodes AS (SELECT DISTINCT doc_a AS n FROM cand
         |          UNION SELECT doc_b FROM cand)
         |SELECT n AS doc_id, least(n, min(r.dst)) AS cluster_id
         |FROM nodes JOIN reach r ON r.src = n
         |GROUP BY n ORDER BY doc_id""".stripMargin) { (s, dir) =>
      collapseClusters(lshCandidates(s, dir)).orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // pipeline_quality_filter — the composed training-data filter: keep
    // a document iff it is (a) English, (b) long enough (>= 20 tokens),
    // and (c) the first copy of its exact text (min doc_id wins). One
    // window shuffle on the text hash + one aggregation on source — the
    // end-to-end shape of a corpus-cleaning pass, reported per source.
    // ------------------------------------------------------------------
    QueryDef("pipeline_quality_filter",
      s"""WITH d AS (
         |  SELECT doc_id, source, lang,
         |         len($toksDuck) AS n_tokens,
         |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS copy_rank
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN lang = 'en' AND n_tokens >= 20
         |                      AND copy_rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_kept
         |FROM d GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      Scans.table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          expr(s"size($toksSpark)").as("n_tokens"))
        .withColumn("copy_rank", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === "en" && col("n_tokens") >= 20 &&
            col("copy_rank") === 1, 1).otherwise(0)).cast("long").as("n_kept"))
        .orderBy(col("source"))
    },

    // ------------------------------------------------------------------
    // dedup_levenshtein — edit-distance verification of candidate pairs
    // (adjacent doc_ids as the deterministic candidate set): Levenshtein
    // over an 80-char prefix. Bounding the operand keeps the O(n·m) DP
    // constant-cost per pair — the at-scale form (full-text edit
    // distance over a corpus is quadratic in document length; prefix
    // distance is the standard cheap verifier before an exact pass).
    // ------------------------------------------------------------------
    QueryDef("dedup_levenshtein",
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       levenshtein(substr(lower(a.text), 1, 80),
        |                   substr(lower(b.text), 1, 80)) AS prefix_dist,
        |       round(1.0 - levenshtein(substr(lower(a.text), 1, 80),
        |                               substr(lower(b.text), 1, 80)) * 1.0 /
        |             greatest(length(substr(lower(a.text), 1, 80)),
        |                      length(substr(lower(b.text), 1, 80)), 1), 6)
        |         AS prefix_sim
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin) { (s, dir) =>
      val docs = Scans.table(s, dir, "documents")
        .select(col("doc_id"), substring(lower(col("text")), 1, 80).as("p"))
      val pairs = docs.as("a")
        .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      // spread the DP work: the O(80·80) edit-distance kernel runs
      // twice per pair in the projection below, and on the local
      // single-split corpus AQE coalesces the tiny id-keyed join to one
      // post-shuffle partition (serializing the only expensive
      // expression in the query); the exchange ships 160-char prefix
      // pairs — proxy-sized rows. spreadBytes gates it on the same
      // under-split test as every other spread site, so a multi-split
      // corpus — whose join output is already wide — pays NO extra
      // shuffle and keeps AQE's own width at scale.
      Scans.spreadBytes(s, pairs, Scans.tableBytes(dir, "documents"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.p"), col("b.p")).cast("long").as("prefix_dist"),
          round(lit(1.0) - levenshtein(col("a.p"), col("b.p")) * lit(1.0) /
            greatest(length(col("a.p")), length(col("b.p")), lit(1)), 6)
            .as("prefix_sim"))
        .orderBy(col("doc_a"))
    },

    // ------------------------------------------------------------------
    // text_tfidf_top_terms — corpus-weighted term importance: top-3
    // terms per document (doc_id < 20) by tf × N/df. The rarity weight
    // is the LINEAR idf variant (N/df, exact rational arithmetic) so the
    // oracle is bit-stable — production would swap in ln(N/df), same
    // plan shape. Two shuffles: one on token (document frequency), one
    // on doc_id (per-doc rank); df for the 100 TB case is the
    // materialized vocabulary table.
    // ------------------------------------------------------------------
    QueryDef("text_tfidf_top_terms",
      s"""WITH toks AS (SELECT doc_id, unnest($toksDuck) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
         |n AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
         |scored AS (
         |  SELECT tf.doc_id, tf.tok,
         |         floor(tf.tf * n.n * 1.0 / df.df * 1000000.0 + 0.5) / 1000000.0 AS tfidf
         |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
         |  WHERE tf.doc_id < 20)
         |SELECT doc_id, tok, tfidf, rk FROM (
         |  SELECT doc_id, tok, tfidf,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY tfidf DESC, tok) AS rk
         |  FROM scored) r
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Scans.table(s, dir, "documents")
        .select(col("doc_id"), explode(expr(toksSpark)).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val df = toks.groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = toks.agg(countDistinct(col("doc_id")).as("n"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))
      tf.filter(col("doc_id") < 20)
        .join(df, "tok")
        .crossJoin(broadcast(n))
        // sign-free half-up quantize, floor(x*1e6 + 0.5): x is the SAME
        // double on both engines (identical integer operands, identical
        // op order), and floor of an identical double is identical —
        // round() splits on the rendering-vs-binary half case (the
        // forecast-key class). An integer quotient is avoided here
        // because 2*tf*n*10^6 can overflow BIGINT at corpus scale.
        .select(col("doc_id"), col("tok"),
          (floor(col("tf") * col("n") * lit(1.0) / col("df")
            * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("tfidf"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("tok"), col("tfidf"), col("rk"))
        .orderBy(col("doc_id"), col("rk"))
    },

    // ------------------------------------------------------------------
    // text_bm25_topk — BM25 retrieval over the corpus: score every
    // document against a fixed 3-term query (one rare term, two common
    // ones, so the rarity weight actually discriminates) and return the
    // top-10 with ranks. Okapi shape (k1 = 1.2, b = 0.75) with the
    // LINEAR idf variant ((N − df + ½)/(df + ½), no ln) — the same
    // rational-arithmetic trade text_tfidf_top_terms makes so the
    // oracle compare is bit-stable; production swaps in ln(·), same
    // plan. Per-doc tf and length are ROW-LOCAL (size/filter over the
    // token array — no explode, no token shuffle); the corpus stats
    // (N, Σdl, per-term df) are ONE tiny agg broadcast back, so the
    // whole query is two corpus scans + a TakeOrdered — no shuffle
    // touches a data-sized key at any scale. The 100 TB variant only
    // changes where the stats row comes from (the materialized corpus
    // statistics table a production index maintains).
    // ------------------------------------------------------------------
    QueryDef("text_bm25_topk", {
      val tfs = bm25Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter($toksDuck, t -> t = '$t')) AS DOUBLE) AS tf_$i"
      }.mkString(",\n         |       ")
      val dfs = bm25Terms.indices.map { i =>
        s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
      }.mkString(", ")
      val score = bm25Terms.indices.map { i =>
        s"(n - df_$i + 0.5) / (df_$i + 0.5) * (tf_$i * 2.2) / (tf_$i + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n)))"
      }.mkString("\n         |           + ")
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len($toksDuck) AS DOUBLE) AS dl,
         |       $tfs
         |  FROM documents),
         |stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sum_dl, $dfs
         |  FROM d),
         |scored AS (
         |  SELECT doc_id,
         |         floor(($score) * 10000.0 + 0.5) / 10000.0 AS bm25
         |  FROM d CROSS JOIN stats)
         |SELECT rank, doc_id, bm25 FROM (
         |  SELECT doc_id, bm25,
         |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
         |  FROM scored) r
         |WHERE rank <= 10 ORDER BY rank""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val perDoc = docsSpread(s, dir)
        .select(col("doc_id") +:
          expr(s"size($toksSpark)").cast("double").as("dl") +:
          bm25Terms.zipWithIndex.map { case (t, i) =>
            expr(s"size(filter($toksSpark, t -> t = '$t'))")
              .cast("double").as(s"tf_$i")
          }: _*)
      val stats = perDoc.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("dl")).as("sum_dl") +:
          bm25Terms.indices.map(i =>
            sum(when(col(s"tf_$i") > 0, 1).otherwise(0)).cast("double")
              .as(s"df_$i")): _*)
      // identical association order to the oracle text: every +/*/'/' is
      // correctly-rounded IEEE double, so same order ⇒ same bits. The
      // 4-dp quantize is then floor(x*1e4 + 0.5) — portable because
      // floor of an identical double is identical, while round()
      // diverges on rendering-half cases (forecast-key class) — and the
      // score is non-negative (linear idf, tf ≥ 0), so floor(+0.5) IS
      // half-up. The quantized value drives ORDER BY and the rank cut,
      // so a divergence near rank 10/11 would change the row SET.
      val score = bm25Terms.indices.map { i =>
        (col("n") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)) *
          (col(s"tf_$i") * lit(2.2)) /
          (col(s"tf_$i") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / (col("sum_dl") / col("n"))))
      }.reduce(_ + _)
      perDoc.crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (floor(score * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
            .cast("long"))
        .select(col("rank"), col("doc_id"), col("bm25"))
        .orderBy(col("rank"))
    },

    // ------------------------------------------------------------------
    // dedup_simhash — 64-bit SimHash signature per document: per-token
    // md5 bits vote ±1, signature bit = sign of the vote sum. Near-dups
    // share most bits (Hamming distance, spec-tested).
    // ------------------------------------------------------------------
    QueryDef("dedup_simhash",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksDuck) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS th FROM toks),
         |votes AS (
         |  SELECT doc_id,
         |       $simhashSumsDuck
         |  FROM h GROUP BY doc_id)
         |SELECT doc_id,
         |       ${simhashAssemble(b => s"CASE WHEN s_$b > 0 THEN 1 ELSE 0 END")} AS simhash64
         |FROM votes ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // Fused row-local path (r7): `simhash64(text)` computes tokenize →
      // md5-per-token → vote fold → signature in one codegen'd call per
      // document, removing the ~50× token explode AND the operator's
      // only Exchange (the doc_id aggregate) — the signature needs no
      // cross-row state, so it never deserved a shuffle. NULL marks a
      // token-less document (the explode pipeline drops those rows —
      // same output set). Bit-equivalence against the composed pipeline
      // is spec-pinned (ExtensionsSpec); DuckDB oracle unchanged.
      Scans.table(s, dir, "documents")
        .select(col("doc_id"),
          call_function("simhash64", col("text")).as("simhash64"))
        .filter(col("simhash64").isNotNull)
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // pipeline_train_split — deterministic train/val/test assignment by
    // key hash (80/10/10): the split every training pipeline needs, and
    // it must be a PURE FUNCTION of the document key — reproducible
    // across runs/engines, stable under re-partitioning, new documents
    // never reshuffle old ones between splits (an RNG split gives all
    // of that up). Row-level projection, zero shuffle at 100 TB; the
    // one tiny aggregation here exists to make the assignment
    // hash-verifiable per split. Same md5-fold portability trick as
    // scan_deterministic_sample.
    // ------------------------------------------------------------------
    QueryDef("pipeline_train_split",
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |              AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "documents")
        .withColumn("bucket",
          expr("cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint) % 100"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(col("doc_id")).cast("long").as("sum_ids"))
        .orderBy(col("split"))
    },

    // ------------------------------------------------------------------
    // pipeline_stratified_sample — per-language deterministic 10%
    // sample: corpus balancing samples WITHIN each stratum, not
    // globally (a global sample keeps the majority language's
    // dominance). The membership predicate is a pure row-level hash —
    // no per-group state, no shuffle to sample; the per-language
    // report is one tiny aggregation. Salted differently from
    // pipeline_train_split so the two assignments are independent.
    // ------------------------------------------------------------------
    QueryDef("pipeline_stratified_sample",
      """WITH b AS (
        |  SELECT lang, doc_id,
        |         CAST(concat('0x', substr(md5(concat('strat-', CAST(doc_id AS VARCHAR))), 1, 15))
        |              AS BIGINT) % 10 = 0 AS sampled
        |  FROM documents)
        |SELECT lang, count(*) AS n_total,
        |       CAST(count(CASE WHEN sampled THEN 1 END) AS BIGINT) AS n_sampled,
        |       CAST(coalesce(sum(CASE WHEN sampled THEN doc_id END), 0) AS BIGINT) AS sum_sampled_ids
        |FROM b GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val sampled =
        expr("cast(conv(substring(md5(concat('strat-', cast(doc_id AS string))), 1, 15), 16, 10) AS bigint) % 10 = 0")
      Scans.table(s, dir, "documents")
        .withColumn("sampled", sampled)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("sampled"), 1)).cast("long").as("n_sampled"),
          coalesce(sum(when(col("sampled"), col("doc_id"))), lit(0L))
            .cast("long").as("sum_sampled_ids"))
        .orderBy(col("lang"))
    },

    // ------------------------------------------------------------------
    // dedup_incremental — dedup a NEW batch against the EXISTING corpus
    // (the daily-ingest shape: within-batch dedup alone re-admits
    // everything history already has). History = docs below the 90%
    // doc_id cut, the new batch = the rest; a new doc is a near-dup if
    // its winnowing fingerprint (same min-shingle-md5 as
    // text_fingerprint) already exists in history. The history
    // fingerprint INDEX is persisted state in a real pipeline — built
    // once, appended per ingest — so it is staged once per source dir
    // (setup, like pipeline_compact's fragmentation); the measured op
    // is what every ingest pays: fingerprint the batch + anti join the
    // index. The join shuffles 16-byte digests, never text — at 100 TB
    // the batch cost is O(batch + matching index partitions), not
    // O(corpus).
    // ------------------------------------------------------------------
    QueryDef("dedup_incremental",
      """WITH f AS (
        |  SELECT doc_id, min(md5(substr(lower(d.text), u.i, 8))) AS fp
        |  FROM documents d,
        |       unnest(generate_series(1, greatest(length(d.text) - 7, 1), 4)) AS u(i)
        |  GROUP BY doc_id),
        |cut AS (SELECT (max(doc_id) * 9) // 10 AS c FROM documents),
        |h AS (SELECT DISTINCT fp FROM f, cut WHERE doc_id < cut.c),
        |n AS (SELECT doc_id, fp FROM f, cut WHERE doc_id >= cut.c),
        |s AS (SELECT doc_id FROM n WHERE fp NOT IN (SELECT fp FROM h))
        |SELECT (SELECT count(*) FROM n) AS n_new,
        |       (SELECT count(*) FROM n) - (SELECT count(*) FROM s) AS n_dupes,
        |       (SELECT count(*) FROM s) AS n_survivors,
        |       (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s)
        |         AS sum_survivor_ids""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Scans.table(s, dir, "documents")
      // coalesce for the empty corpus — see ensureFpIndex
      val cut = docs.agg(expr("coalesce(max(doc_id) * 9 div 10, 0)")).as[Long].head()
      val f = fingerprintFrame(docs)
      val indexPath = ensureFpIndex(s, dir, f.filter(col("doc_id") < cut))
      val hist = s.read.parquet(indexPath)
      val fresh = f.filter(col("doc_id") >= cut)
      val survivors = fresh.join(hist, Seq("fp"), "left_anti")
      fresh.agg(count(lit(1)).as("n_new"))
        .crossJoin(survivors.agg(count(lit(1)).as("n_survivors"),
          coalesce(sum(col("doc_id")), lit(0L)).cast("long")
            .as("sum_survivor_ids")))
        .select(col("n_new"), (col("n_new") - col("n_survivors")).as("n_dupes"),
          col("n_survivors"), col("sum_survivor_ids"))
    },

    // ------------------------------------------------------------------
    // pipeline_pack_sequences — contiguous sequence packing: assign
    // consecutive documents (per source, ordered by doc_id) into packs
    // of ~2048 tokens by binning each doc's cumulative START offset —
    // the training-sequence assembly step of an LLM data pipeline. The
    // cumulative sum windows PER SOURCE (a real partition key), so the
    // plan is one shuffle on source and parallel within-partition
    // scans — no global sort. Reported as per-pack document/token
    // totals, which pins the full assignment (any doc moving packs
    // changes two sums).
    // ------------------------------------------------------------------
    QueryDef("pipeline_pack_sequences",
      s"""WITH t AS (SELECT source, doc_id, len($toksDuck) AS n_tokens
         |           FROM documents),
         |c AS (SELECT source, doc_id, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |                            ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM t)
         |SELECT source, CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Scans.table(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          expr(s"size($toksSpark)").cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id", expr("(cum - n_tokens) div 2048"))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("source"), col("pack_id"))
    },

    // ------------------------------------------------------------------
    // text_repetition_ratio — intra-document repetition signal (the
    // Gopher-style "repeated content" quality gate): fraction of tokens
    // that are repeats of an earlier token in the SAME document. Pure
    // row-level array arithmetic (size − size(distinct)) inside
    // whole-stage codegen, then one tiny per-language rollup — zero
    // extra shuffle at 100 TB beyond the report aggregation. All
    // outputs integer-exact (the >50% flag uses 2·rep > total, never a
    // float ratio), so the oracle hash is rounding-proof.
    // ------------------------------------------------------------------
    QueryDef("text_repetition_ratio",
      s"""WITH r AS (
         |  SELECT lang,
         |         len($toksDuck) AS n_tok,
         |         len($toksDuck) - len(list_distinct($toksDuck)) AS n_rep
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |       CAST(sum(n_rep) AS BIGINT) AS sum_repeated,
         |       CAST(count(CASE WHEN 2 * n_rep > n_tok THEN 1 END) AS BIGINT)
         |         AS n_high_rep
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "documents")
        .select(col("lang"), expr(toksSpark).as("tk"))
        .select(col("lang"), expr("size(tk)").as("n_tok"),
          expr("size(tk) - size(array_distinct(tk))").as("n_rep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("sum_tokens"),
          sum(col("n_rep")).cast("long").as("sum_repeated"),
          count(when(lit(2) * col("n_rep") > col("n_tok"), 1)).cast("long")
            .as("n_high_rep"))
        .orderBy(col("lang"))
    },

    // ------------------------------------------------------------------
    // text_chunk_overlap — fixed-size overlapping chunking (256-char
    // windows, 64-char overlap ⇒ stride 192): the context-window
    // splitting step that feeds embedding/training jobs. Chunk starts
    // are generated per row with sequence() and exploded — row-local,
    // no shuffle; a short tail (<64 chars past the previous window) is
    // absorbed by the previous chunk rather than emitted, so every
    // emitted chunk carries ≥64 fresh chars. Reported per source with
    // integer char sums (hash-stable).
    // ------------------------------------------------------------------
    QueryDef("text_chunk_overlap",
      """WITH c AS (
        |  SELECT d.source, d.doc_id,
        |         length(substr(d.text, u.i, 256)) AS chunk_chars
        |  FROM documents d,
        |       unnest(generate_series(1, greatest(length(d.text) - 63, 1), 192)) AS u(i))
        |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
        |       CAST(sum(chunk_chars) AS BIGINT) AS sum_chunk_chars
        |FROM c GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(expr(
            "transform(sequence(1, greatest(length(text) - 63, 1), 192), i -> length(substring(text, i, 256)))"))
            .as("chunk_chars"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("chunk_chars")).cast("long").as("sum_chunk_chars"))
        .orderBy(col("source"))
    },

    // ------------------------------------------------------------------
    // pipeline_domain_mix — deterministic source-weighted mixing: each
    // source gets a target sampling rate (here derived from the source
    // index: 25/50/75/100%) and rows are admitted by a pure hash
    // predicate against that rate — the "domain reweighting" step of
    // training-corpus assembly. Like train_split: row-level, stable
    // under repartitioning, new rows never flip old admissions; the
    // only shuffle is the tiny per-source report.
    // ------------------------------------------------------------------
    QueryDef("pipeline_domain_mix",
      """WITH b AS (
        |  SELECT source, doc_id,
        |         (CAST(substr(source, 4) AS INT) % 4 + 1) * 25 AS pct,
        |         CAST(concat('0x', substr(md5(concat('mix-', CAST(doc_id AS VARCHAR))), 1, 15))
        |              AS BIGINT) % 100 AS h
        |  FROM documents)
        |SELECT source, CAST(max(pct) AS BIGINT) AS target_pct, count(*) AS n_total,
        |       CAST(count(CASE WHEN h < pct THEN 1 END) AS BIGINT) AS n_kept,
        |       CAST(coalesce(sum(CASE WHEN h < pct THEN doc_id END), 0) AS BIGINT)
        |         AS sum_kept_ids
        |FROM b GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "documents")
        .withColumn("pct", (expr("cast(substring(source, 4) AS int)") % 4 + 1) * 25)
        .withColumn("h",
          expr("cast(conv(substring(md5(concat('mix-', cast(doc_id AS string))), 1, 15), 16, 10) AS bigint) % 100"))
        .groupBy(col("source"))
        .agg(max(col("pct")).cast("long").as("target_pct"),
          count(lit(1)).as("n_total"),
          count(when(col("h") < col("pct"), 1)).cast("long").as("n_kept"),
          coalesce(sum(when(col("h") < col("pct"), col("doc_id"))), lit(0L))
            .cast("long").as("sum_kept_ids"))
        .orderBy(col("source"))
    },

    // ------------------------------------------------------------------
    // pipeline_temperature_sample — temperature-flattened domain
    // sampling (the multilingual/multi-domain balancing step: small
    // domains keep everything, large domains are downsampled toward
    // equal effective counts). Domain d is admitted at rate
    // r_d = sqrt(n_min / n_d) — the α = ½ point of the p ∝ n^α
    // temperature family, anchored at the SMALLEST domain so no
    // cross-domain float normalization sum exists: n_min and n_d are
    // exact integers, one correctly-rounded division + sqrt gives the
    // SAME bits on both engines. Domains are the first digit character
    // of the source name — deliberately SKEWED (domain '1' absorbs
    // src1 + src10..src19, 11× the rest), so the big domain really is
    // downsampled (r ≈ 0.30) and the drop branch is exercised, unlike a
    // per-source grouping where the synthetic corpus is uniform and
    // every rate collapses to 1. Admission is the domain_mix hash
    // predicate widened to 40 bits (rate is real-valued, not a percent)
    // — row-level, stable under repartitioning, new rows never flip old
    // admissions. Corpus path: one broadcast join of the tiny per-domain
    // stats + a row-local predicate; the only corpus shuffle is the
    // per-domain report's partial agg.
    // ------------------------------------------------------------------
    QueryDef("pipeline_temperature_sample",
      """WITH d0 AS (SELECT doc_id, substr(source, 4, 1) AS domain FROM documents),
        |ns AS (SELECT domain, count(*) AS n_d FROM d0 GROUP BY domain),
        |mn AS (SELECT min(n_d) AS n_min FROM ns),
        |b AS (
        |  SELECT d.domain, d.doc_id,
        |         sqrt(CAST(mn.n_min AS DOUBLE) / CAST(ns.n_d AS DOUBLE)) AS r,
        |         CAST(concat('0x', substr(md5(concat('temp-', CAST(d.doc_id AS VARCHAR))), 1, 15))
        |              AS BIGINT) % 1099511627776 AS h
        |  FROM d0 d JOIN ns ON d.domain = ns.domain CROSS JOIN mn)
        |SELECT domain, count(*) AS n_total, round(max(r), 6) AS rate,
        |       CAST(count(CASE WHEN CAST(h AS DOUBLE) < r * 1099511627776.0
        |                       THEN 1 END) AS BIGINT) AS n_kept,
        |       CAST(coalesce(sum(CASE WHEN CAST(h AS DOUBLE) < r * 1099511627776.0
        |                              THEN doc_id END), 0) AS BIGINT)
        |         AS sum_kept_ids
        |FROM b GROUP BY domain ORDER BY domain""".stripMargin) { (s, dir) =>
      val docs = Scans.table(s, dir, "documents")
        .select(col("doc_id"), substring(col("source"), 4, 1).as("domain"))
      val ns = docs.groupBy(col("domain")).agg(count(lit(1)).as("n_d"))
      val mn = ns.agg(min(col("n_d")).as("n_min"))
      docs.join(broadcast(ns), "domain").crossJoin(broadcast(mn))
        .withColumn("r", sqrt(col("n_min").cast("double") / col("n_d").cast("double")))
        .withColumn("h",
          expr("cast(conv(substring(md5(concat('temp-', cast(doc_id AS string))), 1, 15), 16, 10) AS bigint) % 1099511627776"))
        .withColumn("keep", col("h").cast("double") < col("r") * lit(1099511627776.0))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_total"),
          round(max(col("r")), 6).as("rate"),
          count(when(col("keep"), 1)).cast("long").as("n_kept"),
          coalesce(sum(when(col("keep"), col("doc_id"))), lit(0L)).cast("long")
            .as("sum_kept_ids"))
        .orderBy(col("domain"))
    },

    // ------------------------------------------------------------------
    // pipeline_dataset_card — the per-source corpus report a pipeline
    // publishes as its dataset card: document/token/char volumes,
    // language cardinality, majority language + its share, and the
    // quality-gate pass count — ALL from ONE corpus scan (the
    // (source, lang) partial agg; everything after runs on the tiny
    // source×lang frame). The quality gate is integer-exact — token
    // count ≥ 20 AND punct_chars·10 ≤ total_chars·3, a cross-multiplied
    // rational so no engine ever rounds a ratio — and the majority
    // language breaks ties (count desc, lang) deterministically.
    // Language-mix concentration is reported as the top language's
    // share (one correctly-rounded division), not a log-based entropy —
    // ln(·) is not guaranteed bit-identical across engines.
    // ------------------------------------------------------------------
    QueryDef("pipeline_dataset_card",
      s"""WITH l1 AS (
         |  SELECT source, lang,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(len($toksDuck)) AS BIGINT) AS n_tokens,
         |         CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |         CAST(sum(CASE WHEN len($toksDuck) >= 20
         |                        AND (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 10
         |                            <= length(text) * 3
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
         |  FROM documents GROUP BY source, lang),
         |tot AS (
         |  SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |         CAST(sum(n_quality_pass) AS BIGINT) AS n_quality_pass,
         |         CAST(count(*) AS BIGINT) AS n_langs
         |  FROM l1 GROUP BY source),
         |top AS (
         |  SELECT source, lang AS top_lang, n_docs AS top_cnt FROM (
         |    SELECT source, lang, n_docs,
         |           row_number() OVER (PARTITION BY source
         |                              ORDER BY n_docs DESC, lang) AS rn
         |    FROM l1) r WHERE rn = 1)
         |SELECT t.source, t.n_docs, t.n_tokens, t.n_chars, t.n_langs,
         |       p.top_lang,
         |       ((2 * p.top_cnt * 1000000 + t.n_docs) // (2 * t.n_docs))
         |         / 1000000.0 AS top_lang_share,
         |       t.n_quality_pass
         |FROM tot t JOIN top p ON t.source = p.source
         |ORDER BY t.source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val l1 = Scans.table(s, dir, "documents")
        .select(col("source"), col("lang"),
          expr(s"size($toksSpark)").cast("long").as("n_toks"),
          length(col("text")).cast("long").as("len"),
          // LOWER(text) like text_quality_score: sentence-case letters
          // are not punctuation
          (length(col("text")) -
            length(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")))
            .cast("long").as("punct"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("n_tokens"),
          sum(col("len")).cast("long").as("n_chars"),
          sum(when(col("n_toks") >= 20 && col("punct") * 10 <= col("len") * 3,
            1L).otherwise(0L)).cast("long").as("n_quality_pass"))
      // per-source totals and the majority row come from WINDOWS over the
      // one l1 lineage (a groupBy + self-join here would re-scan the
      // corpus for the second aggregate) — the window frame is the tiny
      // source×lang grid, partitioned on source
      val w = Window.partitionBy(col("source"))
      val wr = Window.partitionBy(col("source"))
        .orderBy(col("n_docs").desc, col("lang"))
      l1.withColumn("t_docs", sum(col("n_docs")).over(w))
        .withColumn("t_tokens", sum(col("n_tokens")).over(w))
        .withColumn("t_chars", sum(col("n_chars")).over(w))
        .withColumn("t_pass", sum(col("n_quality_pass")).over(w))
        .withColumn("t_langs", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") === 1)
        .select(col("source"), col("t_docs").cast("long").as("n_docs"),
          col("t_tokens").cast("long").as("n_tokens"),
          col("t_chars").cast("long").as("n_chars"),
          col("t_langs").cast("long").as("n_langs"),
          col("lang").as("top_lang"),
          // integer half-up quotient at 6 dp — round() of a ratio double
          // is the non-portable step (the events-slice discipline)
          (expr("(2 * n_docs * 1000000 + t_docs) div (2 * t_docs)")
            / lit(1000000.0)).as("top_lang_share"),
          col("t_pass").cast("long").as("n_quality_pass"))
        .orderBy(col("source"))
    },

    // ------------------------------------------------------------------
    // dedup_decontaminate — benchmark decontamination: drop training
    // documents that share any 5-token shingle with a held-out
    // benchmark set (here the deterministic doc_id % 97 slice standing
    // in for an eval suite) — the step that keeps test data out of the
    // training corpus. The benchmark shingle set scales with the
    // benchmark slice, so the membership probe carries NO forced
    // broadcast (a hint would be a driver-OOM cliff when the bench
    // side is large): AQE broadcasts the probe side while it measures
    // small — the bench-scale plan — and degrades to a shuffled semi
    // join beyond that instead of collapsing the driver. Short docs
    // (<5 tokens) contribute their full-token shingle; empty shingles
    // are excluded on both engines.
    // ------------------------------------------------------------------
    QueryDef("dedup_decontaminate",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS tk FROM documents),
         |g AS (SELECT doc_id,
         |             concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) AS sh
         |      FROM toks, unnest(generate_series(1, greatest(len(tk) - 4, 1))) AS u(i)),
         |gs AS (SELECT doc_id, sh FROM g WHERE sh <> ''),
         |bench AS (SELECT DISTINCT sh FROM gs WHERE doc_id % 97 = 0),
         |train AS (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0),
         |cont AS (SELECT DISTINCT doc_id FROM gs
         |         WHERE doc_id % 97 <> 0 AND sh IN (SELECT sh FROM bench)),
         |clean AS (SELECT doc_id FROM train
         |          WHERE doc_id NOT IN (SELECT doc_id FROM cont))
         |SELECT (SELECT count(*) FROM documents WHERE doc_id % 97 = 0) AS n_benchmark,
         |       (SELECT count(*) FROM train) AS n_train,
         |       (SELECT count(*) FROM cont) AS n_contaminated,
         |       (SELECT count(*) FROM clean) AS n_clean,
         |       (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM clean)
         |         AS sum_clean_ids""".stripMargin) { (s, dir) =>
      val docs = Scans.table(s, dir, "documents")
      // the 5-gram shingle kernel below is the query's dominant per-row
      // cost — spread it; the count-only reads of `docs` stay unspread
      val sh = docsSpread(s, dir).select(col("doc_id"), expr(toksSpark).as("tk"))
        .select(col("doc_id"), explode(expr(
          // try_element_at, not element_at: a short doc (<5 tokens)
          // contributes one partial shingle from whatever tokens exist
          // (concat_ws skips the NULL lookups) — plain element_at
          // THROWS on the out-of-bounds index under ANSI mode (the
          // session default), where the oracle's tk[i] yields NULL
          """transform(sequence(1, greatest(size(tk) - 4, 1)),
            |  i -> concat_ws(' ', try_element_at(tk, i), try_element_at(tk, i+1),
            |                 try_element_at(tk, i+2), try_element_at(tk, i+3),
            |                 try_element_at(tk, i+4)))"""
            .stripMargin)).as("sh"))
        .filter(col("sh") =!= "")
      // NO broadcast hint on the benchmark shingle set: it is
      // corpus-proportional (all distinct 5-gram shingles of the 1/97
      // slice — hundreds of GB at the 100 TB target), so forcing it to
      // the driver is the scale cliff dedup_lsh_verified deliberately
      // avoids; AQE broadcasts it anyway when it measures small
      val bench = sh.filter(col("doc_id") % 97 === 0).select(col("sh")).distinct()
      val contaminated = sh.filter(col("doc_id") % 97 =!= 0)
        .join(bench, Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
      val train = docs.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"))
      val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
      docs.filter(col("doc_id") % 97 === 0).agg(count(lit(1)).as("n_benchmark"))
        .crossJoin(train.agg(count(lit(1)).as("n_train")))
        .crossJoin(contaminated.agg(count(lit(1)).as("n_contaminated")))
        .crossJoin(clean.agg(count(lit(1)).as("n_clean"),
          coalesce(sum(col("doc_id")), lit(0L)).cast("long").as("sum_clean_ids")))
    },

    // ------------------------------------------------------------------
    // text_unigram_perplexity — language-model quality gate (the
    // CCNet/Gopher-style perplexity filter): score each document by its
    // cross-entropy under the corpus's own unigram model, the classic
    // "drop gibberish and boilerplate" signal. Two corpus passes: one
    // tokenize + partial-aggregated token-frequency rollup (the model),
    // one tokenize + frequency join + per-doc average. The vocabulary
    // shuffles on the token key (map-side combined — ≤|vocab| partials
    // per task); at 100 TB the model table is vocabulary-sized, not
    // corpus-sized, and the scoring join lets AQE broadcast it when it
    // fits. Declared per-doc for doc_id < 20. The 4-dp/2-dp rounds
    // REDUCE, not eliminate, cross-engine divergence (summation order
    // of ln terms + ≤1-ulp libm ln — the same accepted residual as
    // text_entropy_filter's comment spells out; no exact integer form
    // exists for logs).
    // ------------------------------------------------------------------
    QueryDef("text_unigram_perplexity",
      s"""WITH toks AS (SELECT doc_id, unnest($toksDuck) AS tok FROM documents),
         |freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
         |tot AS (SELECT sum(tf) AS n FROM freq),
         |scored AS (
         |  SELECT t.doc_id, count(*) AS n_tokens,
         |         avg(-ln(f.tf * 1.0 / tot.n)) AS ce
         |  FROM toks t JOIN freq f ON f.tok = t.tok CROSS JOIN tot
         |  WHERE t.doc_id < 20
         |  GROUP BY t.doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       round(ce, 4) AS cross_entropy,
         |       round(exp(ce), 2) AS perplexity
         |FROM scored ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = Scans.table(s, dir, "documents")
        .select(col("doc_id"), explode(expr(toksSpark)).as("tok"))
      val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      // total tokens from the vocabulary-sized model table — never a
      // third tokenization pass over the corpus
      val tot = freq.agg(sum(col("tf")).as("n"))
      toks.filter(col("doc_id") < 20)
        .join(freq, "tok")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          avg(-log(col("tf") * lit(1.0) / col("n"))).as("ce"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("ce"), 4).as("cross_entropy"),
          round(exp(col("ce")), 2).as("perplexity"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // text_pii_scrub — PII detection + masking (the privacy-scrub gate
    // every published training corpus runs): count and replace emails,
    // phone numbers and SSN-shaped ids with typed mask tokens. Pure
    // row-local regexp work inside whole-stage codegen — at 100 TB it
    // rides the ingest scan for free, like the other row-level gates.
    // The synthetic documents corpus contains no PII by construction,
    // so the declared surface runs over an inline fixture corpus (the
    // config_parse pattern); the patterns use the bracket-class regex
    // subset that Java regex and RE2 interpret identically, and the
    // Spark side's replace-all default is spelled with the 'g' flag on
    // the DuckDB side.
    // ------------------------------------------------------------------
    QueryDef("text_pii_scrub",
      s"""WITH docs(doc_id, text) AS (VALUES
         |  (1, 'contact alice at alice@example.com or 555-867-5309'),
         |  (2, 'no personal data here at all'),
         |  (3, 'bob.smith@corp.example.org wrote to carol@example.net'),
         |  (4, 'call 555 123 4567 and ask for dave'),
         |  (5, 'ssn 123-45-6789 must never reach training data'))
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$emailRx')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$phoneRx')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '$ssnRx')) AS BIGINT) AS n_ssn,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$emailRx', '[EMAIL]', 'g'),
         |    '$ssnRx', '[SSN]', 'g'),
         |    '$phoneRx', '[PHONE]', 'g') AS scrubbed
         |FROM docs ORDER BY doc_id""".stripMargin) { (s, _) =>
      import s.implicits._
      Seq(
        (1, "contact alice at alice@example.com or 555-867-5309"),
        (2, "no personal data here at all"),
        (3, "bob.smith@corp.example.org wrote to carol@example.net"),
        (4, "call 555 123 4567 and ask for dave"),
        (5, "ssn 123-45-6789 must never reach training data"))
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(emailRx), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("text"), lit(phoneRx), lit(0)))
            .cast("long").as("n_phones"),
          size(regexp_extract_all(col("text"), lit(ssnRx), lit(0)))
            .cast("long").as("n_ssn"),
          regexp_replace(regexp_replace(regexp_replace(col("text"),
            lit(emailRx), lit("[EMAIL]")),
            lit(ssnRx), lit("[SSN]")),
            lit(phoneRx), lit("[PHONE]")).as("scrubbed"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------------
    // pipeline_curriculum_order — length-curriculum batch schedule: the
    // trainer consumes short documents first (the standard
    // easy-to-hard curriculum signal when no loss model exists yet), so
    // the assembly step bands each source's docs into length quartiles
    // (ntile(4) over (n_chars, doc_id) — a total order, so band edges
    // are deterministic on both engines) and packs each band into
    // fixed-8-doc batches in doc order. The published schedule is the
    // batch manifest — (source, band, batch) → count, char volume, id
    // range, membership checksum — which IS the curriculum: trainers
    // read batches in (band, batch_id) order. Scale: both windows
    // partition on source(+band) and carry only ids and ints — the text
    // never shuffles; the manifest is batch-count-sized. ntile needs
    // its partition sorted once — the same per-source sort the pack
    // step needs anyway; nothing is global.
    // ------------------------------------------------------------------
    QueryDef("pipeline_curriculum_order",
      """WITH banded AS (
        |  SELECT doc_id, source, n_chars,
        |         ntile(4) OVER (PARTITION BY source
        |                        ORDER BY n_chars, doc_id) AS band
        |  FROM documents),
        |batched AS (
        |  SELECT doc_id, source, n_chars, band,
        |         CAST((row_number() OVER (PARTITION BY source, band
        |                                  ORDER BY doc_id) - 1) // 8
        |              AS BIGINT) AS batch_id
        |  FROM banded)
        |SELECT source, band, batch_id, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
        |       CAST(sum(CAST(concat('0x',
        |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT))
        |         AS BIGINT) AS id_hash
        |FROM batched GROUP BY source, band, batch_id
        |ORDER BY source, band, batch_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wBand = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      val wBatch = Window.partitionBy(col("source"), col("band"))
        .orderBy(col("doc_id"))
      Scans.table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("band", ntile(4).over(wBand).cast("long"))
        .withColumn("batch_id",
          ((row_number().over(wBatch) - 1).cast("long") / lit(8L)).cast("long"))
        .groupBy(col("source"), col("band"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"),
          sum(expr(
            "cast(conv(substring(md5(cast(doc_id AS string)), 1, 7), 16, 10) AS bigint)"))
            .cast("long").as("id_hash"))
        .orderBy(col("source"), col("band"), col("batch_id"))
    },

    // ------------------------------------------------------------------
    // pipeline_kfold_split — k-fold cross-validation assignment (k=5):
    // fold membership is a pure hash of the document key (md5-fold, a
    // salt distinct from train_split/stratified_sample so assignments
    // stay independent), so folds are reproducible across engines and
    // stable under corpus growth — a new document never moves an old
    // one between folds. Row-local assignment, zero shuffle beyond the
    // k-row report; each fold row also reports its complement (the
    // training set when that fold validates) via one broadcast total.
    // ------------------------------------------------------------------
    QueryDef("pipeline_kfold_split",
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |         CAST(concat('0x', substr(md5(concat('fold-',
        |              CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 5 AS fold
        |  FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM b)
        |SELECT fold, count(*) AS n_val_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_val_chars,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_val_ids,
        |       CAST(tot.n_total - count(*) AS BIGINT) AS n_train_docs
        |FROM b, tot GROUP BY fold, tot.n_total
        |ORDER BY fold""".stripMargin) { (s, dir) =>
      val b = Scans.table(s, dir, "documents")
        .withColumn("fold",
          expr("cast(conv(substring(md5(concat('fold-', cast(doc_id AS string))), 1, 15), 16, 10) AS bigint) % 5"))
      val tot = b.agg(count(lit(1)).as("n_total"))
      b.groupBy(col("fold"))
        .agg(count(lit(1)).as("n_val_docs"),
          sum(col("n_chars")).cast("long").as("sum_val_chars"),
          sum(col("doc_id")).cast("long").as("sum_val_ids"))
        .crossJoin(broadcast(tot))
        .select(col("fold"), col("n_val_docs"), col("sum_val_chars"),
          col("sum_val_ids"),
          (col("n_total") - col("n_val_docs")).cast("long").as("n_train_docs"))
        .orderBy(col("fold"))
    },

    // ------------------------------------------------------------------
    // text_zipf_coverage — head-of-vocabulary coverage: the top-50
    // terms by corpus frequency with each term's cumulative share of
    // total token mass — the Zipf curve head every tokenizer/vocab
    // design decision reads (how much of the corpus do N vocab entries
    // buy?). Shape: one token-keyed count shuffle (map-side partial),
    // a distributed TakeOrdered for the top slice, and the cumulative
    // window runs AFTER the limit — over 50 rows, never the vocabulary.
    // The term-frequency rollup is computed once (localCheckpoint) and
    // feeds both the top slice and the total-mass row; shares are exact
    // integer ratios so the 6-dp round is engine-stable.
    // ------------------------------------------------------------------
    QueryDef("text_zipf_coverage",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS tk FROM documents),
         |tf AS (SELECT t.t AS term, count(*) AS freq
         |       FROM toks, unnest(tk) AS t(t) GROUP BY term),
         |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM tf),
         |top AS (SELECT term, freq, rank FROM (
         |  SELECT term, freq,
         |         row_number() OVER (ORDER BY freq DESC, term) AS rank
         |  FROM tf) r WHERE rank <= 50)
         |SELECT rank, term, freq,
         |       ((2 * sum(freq) OVER (ORDER BY rank) * 1000000 + tot.total)
         |         // (2 * tot.total)) / 1000000.0 AS cum_share
         |FROM top, tot ORDER BY rank""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tf = Scans.table(s, dir, "documents")
        .select(explode(expr(toksSpark)).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        .localCheckpoint(true) // feeds the top slice AND the total row
      val tot = tf.agg(sum(col("freq")).cast("long").as("total"))
      tf.orderBy(col("freq").desc, col("term")).limit(50)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("freq").desc, col("term")))
            .cast("long"))
        .crossJoin(broadcast(tot))
        // integer half-up quotient (cumulative freq and total are exact
        // LONGs; total >= 1 whenever a top row exists) — the
        // round()-of-ratio class the jaccard keys shed. The numerator
        // is TOKEN-scale (top Zipfian terms cover several percent of
        // the corpus each, so cum_freq reaches ~1e13 on 100 TB of
        // text — past the ~4.6e12 ceiling where 2*n*1000000 overflows
        // LONG): decimal-widened like the corpus-scale event shares
        // (rationale at events_markov_transitions); the published
        // share quotient stays ≤ 1e6, value-identical on sane counts.
        .withColumn("cum_freq",
          sum(col("freq")).over(Window.orderBy(col("rank"))))
        .withColumn("cum_share",
          expr("(2 * cast(cum_freq as decimal(38,0)) * 1000000 + total)" +
            " div (2 * total)") / lit(1000000.0))
        .select(col("rank"), col("term"), col("freq"), col("cum_share"))
        .orderBy(col("rank"))
    },

    // ------------------------------------------------------------------
    // text_hashing_vectorize — the hashing-trick featurizer: every
    // token hashes to one of 64 dimensions (md5-derived, engine-
    // portable), a document's feature vector is the per-dimension
    // count profile — the classic alternative to a trained vocabulary
    // (no vocab table to build, ship, or version; collisions are the
    // declared trade). Published per doc: token count, nnz, L2 norm,
    // and the argmax dimension. The Spark side is fully ROW-LOCAL —
    // one fused `hash_vectorize64(text)` native call per document
    // (tokenize → md5 → 64-bucket histogram → profile in one codegen'd
    // pass, `functions/HashVectorize.scala` — the minhash_sigs/simhash64
    // treatment applied to this family's kernel). No explode, no
    // token-grain shuffle; at 100 TB this rides the corpus scan like
    // the other gates. The oracle states the same vector as grouped
    // SQL. Integer counts make norm and argmax engine-exact; the
    // native≡HOF equivalence is spec-pinned (ExtensionsSpec) and the
    // native kernel's interpreted≡codegen parity in
    // CodegenConsistencySpec.
    // ------------------------------------------------------------------
    QueryDef("text_hashing_vectorize",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksDuck) AS w FROM documents),
         |dt AS (SELECT doc_id,
         |              CAST(concat('0x', substr(md5(w), 1, 7)) AS BIGINT) % 64
         |                AS dim
         |       FROM tok),
         |dc AS (SELECT doc_id, dim, count(*) AS c FROM dt GROUP BY doc_id, dim),
         |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |               count(*) AS nnz,
         |               round(sqrt(sum(c * c)), 4) AS l2_norm
         |        FROM dc GROUP BY doc_id),
         |top AS (SELECT doc_id, dim AS top_dim, c AS top_count FROM (
         |    SELECT doc_id, dim, c,
         |           row_number() OVER (PARTITION BY doc_id
         |                              ORDER BY c DESC, dim) AS rn
         |    FROM dc) t WHERE rn = 1)
         |SELECT a.doc_id, a.n_tokens, a.nnz, a.l2_norm, t.top_dim, t.top_count
         |FROM agg a JOIN top t ON t.doc_id = a.doc_id
         |ORDER BY a.doc_id""".stripMargin) { (s, dir) =>
      hashVectorizeProfile(
        Scans.table(s, dir, "documents")
          // same scan-pushable domain as the entropy gate: a doc hashes
          // to ≥ 1 dimension iff its text has an alphanumeric character
          .filter(lower(col("text")).rlike("[a-z0-9]"))) // tokenizer-exact domain: toks nonempty iff
        // LOWER(text) has [a-z0-9] (a raw-text ASCII class would drop
        // docs whose only alphanumerics lowercase INTO the class,
        // e.g. U+212A)
        .orderBy(col("doc_id"))
    })

  /** The hashing-trick feature profile of `docs` (doc_id, text):
    * {n_tokens, nnz, l2_norm, top_dim, top_count} per document from one
    * fused native `hash_vectorize64` call. A token-less document is the
    * zero vector with no argmax; the declared key filters those out to
    * match the oracle's domain. */
  private[graft] def hashVectorizeProfile(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        call_function("hash_vectorize64", col("text")).as("v"))
      .select(col("doc_id"), col("v.n_tokens").as("n_tokens"),
        col("v.nnz").as("nnz"), col("v.l2_norm").as("l2_norm"),
        col("v.top_dim").as("top_dim"), col("v.top_count").as("top_count"))

  /** The word-entropy profile of `docs` (doc_id, text): {n_tokens,
    * word_entropy} per document from one fused native `token_entropy`
    * call. A token-less document has 0 tokens and NULL entropy; the
    * declared key filters those out to match the oracle's domain. */
  private[graft] def entropyProfile(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        call_function("token_entropy", col("text")).as("e"))
      .select(col("doc_id"), col("e.n_tokens").as("n_tokens"),
        col("e.word_entropy").as("word_entropy"))
}
