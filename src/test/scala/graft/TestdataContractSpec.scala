package graft

import org.apache.spark.sql.types._
import graft.exec.Scans
import graft.meta.Catalog

/** Canary for the TESTDATA CONTRACT: the driver regenerates
  * `/root/testdata` between rounds, and a physical-representation change
  * there must break ONE named test with a typed message — not 30
  * downstream analysis errors (r8: `events.ts` moved from ns-as-long to
  * parquet `timestamp[us]` NTZ and 16 query keys silently vanished from
  * the correctness record).
  *
  * Two layers:
  *  1. the engine's NORMALIZED view ([[Scans.table]]) is pinned: whatever
  *     the writer emitted, downstream operators must see `TimestampType`
  *     event time and the agreed logical types;
  *  2. the RAW representation of drift-prone columns is enumerated: a new
  *     physical encoding outside the accepted set fails here first, with
  *     the actual type in the message, before any query runs.
  */
class TestdataContractSpec extends SparkSpecBase {

  private val acceptedTs: Set[DataType] =
    Set(LongType, TimestampNTZType, TimestampType)

  test("raw events.ts representation is one of the three accepted encodings") {
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    assert(acceptedTs.contains(raw),
      s"events.ts arrived as $raw — a NEW physical encoding; extend " +
        "Scans.normalizeTs (and this spec) before anything else this round")
  }

  test("normalized events schema: ts is TimestampType, keys are longs") {
    val sch = Scans.table(spark, sfDir, "events").schema
    assert(sch("ts").dataType == TimestampType,
      s"normalized events.ts must be TimestampType, got ${sch("ts").dataType}")
    assert(sch("event_id").dataType == LongType)
    assert(sch("user_id").dataType == LongType)
    assert(sch("event_type").dataType == StringType)
    assert(sch("value").dataType == DoubleType)
    assert(sch("props").dataType == StringType)
  }

  test("normalizeTs handles all three physical encodings identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2024-01-15 12:00:00.123456 UTC in each representation
    val micros = 1705320000123456L
    val fromLong = Scans.normalizeTs(
      Seq(micros * 1000L).toDF("ts")) // long = NANOS since epoch
    val fromNtz = Scans.normalizeTs(
      Seq(java.time.LocalDateTime.ofEpochSecond(
        micros / 1000000L, ((micros % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)).toDF("ts"))
    val fromTs = Scans.normalizeTs(
      Seq(java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS))
        .toDF("ts"))
    for ((df, tag) <- Seq((fromLong, "long-ns"), (fromNtz, "ntz"), (fromTs, "tz"))) {
      assert(df.schema("ts").dataType == TimestampType, s"$tag not normalized")
      val got = df.select(expr("unix_micros(ts)")).head().getLong(0)
      assert(got == micros, s"$tag: unix_micros=$got != $micros")
    }
  }

  test("date-partition columns arrive as a timestamp flavor Scans can range-scan") {
    for ((t, c) <- Seq(("lineitem", "l_shipdate"), ("orders", "o_orderdate"))) {
      val dt = spark.read.parquet(s"$sfDir/$t.parquet").schema(c).dataType
      assert(dt == TimestampType || dt == TimestampNTZType || dt == DateType,
        s"$t.$c arrived as $dt — physicalPartitionRange's literal cast " +
          "and the year() partition function need review")
    }
  }

  test("embeddings vector column is array<float>") {
    val sch = spark.read.parquet(s"$sfDir/embeddings.parquet").schema
    val vec = sch.fields.find(f => f.dataType.isInstanceOf[ArrayType])
      .getOrElse(fail(s"no array column in embeddings: ${sch.simpleString}"))
    assert(vec.dataType == ArrayType(FloatType, containsNull = true) ||
      vec.dataType == ArrayType(FloatType, containsNull = false),
      s"embedding column ${vec.name} is ${vec.dataType}, expected array<float>")
  }

  test("documents table carries the text-pipeline contract columns") {
    val sch = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val names = sch.fieldNames.toSet
    for (c <- Seq("doc_id", "text"))
      assert(names.contains(c), s"documents missing '$c': ${sch.simpleString}")
    assert(sch("text").dataType == StringType)
  }

  test("documents text is pure ASCII (multimodal byte/char oracle premise)") {
    // the multimodal oracles replay byte-level engine work (decodeStub's
    // unsigned payload bytes, resize/metadata lengths) with CHARACTER
    // functions (ascii/length/substr) — identical only while every text
    // is single-byte ASCII. If the corpus ever grows multi-byte text,
    // this fires loudly and those oracles must move to byte-level forms
    // (octet_length/blob indexing, as multimodal_shard_manifest already
    // does) instead of silently hash-mismatching.
    val nonAscii = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(org.apache.spark.sql.functions.expr(
        "octet_length(text) != length(text)"))
      .count()
    assert(nonAscii == 0,
      s"$nonAscii documents contain non-ASCII text — the char-based " +
        "multimodal oracles no longer equal the byte-based engine")
  }

  // --- Scans.table's footer schema stands in for Spark's inference -----

  /** What the reader infers for `path`, normalized as Scans.table is. */
  private def inferred(path: String): StructType =
    Scans.normalizeTs(spark.read.parquet(path)).schema

  test("Scans.table's footer schema equals Spark's inferred schema on every table") {
    Catalog.tableNames.foreach { n =>
      val p = s"$sfDir/$n.parquet"
      assert(Scans.footerSchema(spark, p).isDefined, s"$n: footer schema not read")
      assert(Scans.table(spark, sfDir, n).schema == inferred(p), n)
    }
  }

  test("building Scans.table submits no Spark job") {
    Catalog.tableNames.foreach(n =>
      assert(jobsDuring(Scans.table(spark, sfDir, n)) == 0, n))
  }

  test("footer schema matches inference on multi-file, hive, _temporary, summary and overlap layouts") {
    import org.apache.spark.sql.functions.{col, date_trunc}
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_footer_schema")
    try {
      val dir = root.toString
      val li = Scans.table(spark, sfDir, "lineitem")
      li.repartition(8).write.parquet(s"$dir/multi/lineitem.parquet")
      li.withColumn("l_shipdate", date_trunc("year", col("l_shipdate")))
        .write.partitionBy("l_shipdate").parquet(s"$dir/hive/lineitem.parquet")
      // a crashed writer's attempt holding ANOTHER table's file: `_temporary`
      // sorts before `part-`, so reading it would give region's schema
      li.write.parquet(s"$dir/tmp/lineitem.parquet")
      val attempt = Paths.get(s"$dir/tmp/lineitem.parquet/_temporary/0/_temporary/attempt_0")
      Files.createDirectories(attempt)
      Files.copy(Paths.get(s"$sfDir/region.parquet"), attempt.resolve("part-00000.parquet"))
      // a summary file, which inference prefers over every data file, even
      // one that sorts before it
      val summary = Files.createDirectories(Paths.get(s"$dir/summary/lineitem.parquet"))
      Files.copy(Paths.get(s"$sfDir/lineitem.parquet"), summary.resolve("0.parquet"))
      Files.copy(Paths.get(s"$sfDir/region.parquet"), summary.resolve("_common_metadata"))
      // files that still carry a column their directory also names: a
      // given schema would move that column to the end
      li.write.parquet(s"$dir/overlap/lineitem.parquet/l_linestatus=F")
      for (layout <- Seq("multi", "hive", "tmp", "summary", "overlap")) {
        val d = s"$dir/$layout"
        assert(Scans.table(spark, d, "lineitem").schema == inferred(s"$d/lineitem.parquet"),
          layout)
        assert(Scans.footerSchema(spark, s"$d/lineitem.parquet").isDefined ==
          Set("multi", "hive", "tmp").contains(layout),
          s"$layout: footer taken only where it stands in for inference")
      }
      assert(Scans.table(spark, s"$dir/hive", "lineitem").schema("l_shipdate").dataType ==
        TimestampType, "partition column keeps its inferred type")
      assert(jobsDuring(Scans.table(spark, s"$dir/multi", "lineitem")) == 0)
      assert(jobsDuring(Scans.table(spark, s"$dir/hive", "lineitem")) == 0)
    } finally deleteTree(root)
  }

  test("a missing or empty source raises the same error as Spark's inference") {
    val root = java.nio.file.Files.createTempDirectory("graft_footer_missing")
    try {
      java.nio.file.Files.createDirectories(root.resolve("empty.parquet"))
      for (name <- Seq("missing", "empty")) {
        val before = intercept[Exception](spark.read.parquet(s"$root/$name.parquet"))
        val now = intercept[Exception](Scans.table(spark, root.toString, name))
        assert(now.getClass == before.getClass, name)
        assert(now.getMessage == before.getMessage, name)
      }
    } finally deleteTree(root)
  }
}
