package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused hashing-trick featurizer kernel: tokenize → md5 → 64-dim
  * bucket histogram → {n_tokens, nnz, l2_norm, top_dim, top_count} in
  * ONE row-local pass. Static-forwarder object so generated code calls
  * `graft.functions.HashVectorizeKernel.compute(...)` directly (the
  * [[ShingleMd5]] shape).
  *
  * Contract is value-identical to the engine's HOF composition that fed
  * `text_hashing_vectorize`, kept as the reference in ExtensionsSpec:
  *
  * {{{ tk  = filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')
  *     st  = array_sort(transform(tk,
  *             t -> cast(conv(substring(md5(t), 1, 7), 16, 10) AS BIGINT) % 64))
  *     ... run-length over st → counts per dim, then
  *     n_tokens = size(st); nnz = #distinct dims
  *     l2_norm  = round(sqrt(sum c^2), 4)
  *     top      = argmax count, tie -> smaller dim }}}
  *
  * replicated detail by detail:
  *  - tokens: maximal `[a-z0-9]` byte runs over the CollationSupport
  *    lowering (see [[SimhashTextKernel]] for why the byte scan equals
  *    the regex split);
  *  - dim(t): the first 7 hex digits of md5(t) are 7 nibbles folded
  *    big-endian (28 bits, always non-negative — bytes 0..2 whole plus
  *    byte 3's high nibble), mod 64 — i.e. the low 6 bits;
  *  - the sort + run-length of the HOF tree is replaced by a direct
  *    64-bucket histogram — same counts, no per-row sort;
  *  - l2_norm rounds exactly as Spark's `round(_, 4)` on DoubleType
  *    (BigDecimal.valueOf → HALF_UP), bit-identical to the HOF result;
  *  - a token-less document vectorizes to the zero vector: n_tokens 0,
  *    nnz 0, l2_norm 0.0, and NO argmax — top_dim/top_count are NULL.
  *    (The HOF pipeline only ever ran behind the `[a-z0-9]` domain
  *    filter, so the zero-vector row is this kernel's extension of the
  *    contract, not a divergence on any row the query compares.)
  */
object HashVectorizeKernel {

  final val Dims = 64

  def compute(text: UTF8String, useICU: Boolean): InternalRow = {
    val bytes = TextKernel.lowered(text, useICU).getBytes
    val spans = TextKernel.tokenSpans(bytes)
    val (starts, ends, nTok) = (spans.starts, spans.ends, spans.n)
    val counts = new Array[Long](Dims)
    val md = TextKernel.md5()
    var t = 0
    while (t < nTok) {
      md.reset()
      md.update(bytes, starts(t), ends(t) - starts(t))
      val dig = md.digest()
      // first 7 hex digits = 7 nibbles big-endian (shared fold); % 64
      // keeps the low 6 bits of the 28-bit value
      counts((TextKernel.foldNibbles(dig, 7) % Dims).toInt) += 1
      t += 1
    }
    var nnz = 0L; var sumSq = 0.0
    var topDim = -1; var topCount = 0L
    var d = 0
    while (d < Dims) {
      val c = counts(d)
      if (c > 0) {
        nnz += 1
        sumSq += c.toDouble * c
        if (c > topCount) { topCount = c; topDim = d } // tie keeps smaller d
      }
      d += 1
    }
    val l2 = java.math.BigDecimal.valueOf(math.sqrt(sumSq))
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val row = new GenericInternalRow(5)
    row.setLong(0, nTok.toLong) // n_tokens IS the token count; the buckets partition it
    row.setLong(1, nnz)
    row.setDouble(2, l2)
    if (topDim < 0) { row.setNullAt(3); row.setNullAt(4) }
    else { row.setLong(3, topDim.toLong); row.setLong(4, topCount) }
    row
  }
}

/** Native fused hashing vectorizer — `hash_vectorize64(text)`,
  * registered by [[graft.GraftSparkExtensions]]: a struct {n_tokens,
  * nnz, l2_norm, top_dim, top_count}, the per-document profile of the
  * 64-dimension hashing-trick feature vector. One codegen'd call per
  * document replaces the interpreted HOF tree (md5-hash transform +
  * array_sort + run-boundary filter + three zip/transform passes) that
  * fed `text_hashing_vectorize` — and drops the per-row O(n log n) sort
  * for an O(n + 64) bucket histogram. Row-local: features compute where
  * the text lives; the corpus never shuffles.
  */
case class HashVectorize(child: Expression,
    useICU: Boolean = TextKernel.sessionUseICU) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("nnz", LongType, nullable = false),
    StructField("l2_norm", DoubleType, nullable = false),
    // NULL exactly when the document has no tokens (no argmax exists)
    StructField("top_dim", LongType, nullable = true),
    StructField("top_count", LongType, nullable = true)))
  override def prettyName: String = "hash_vectorize64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string input, got ${other.catalogString}")
  }

  // useICU: case-class parameter defaulted at construction — see
  // TextKernel.sessionUseICU for the equality/copy() rationale

  override protected def nullSafeEval(input: Any): Any =
    HashVectorizeKernel.compute(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashVectorizeKernel.compute($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): HashVectorize =
    copy(child = newChild)
}
