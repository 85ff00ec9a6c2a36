package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused word-entropy kernel: tokenize → sort → run-length → Shannon
  * entropy in ONE row-local pass. Static-forwarder object so generated
  * code calls `graft.functions.TokenEntropyKernel.compute(...)` directly
  * (the [[ShingleMd5]] shape).
  *
  * Contract is bit-identical to the engine's HOF composition that fed
  * `text_entropy_filter`, kept as the reference in ExtensionsSpec:
  *
  * {{{ tk = filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')
  *     st = array_sort(tk)
  *     ... run boundaries over st → counts c, then
  *     word_entropy = round(log2(n) - (fold acc + c*log2(c)) / n, 4) }}}
  *
  * replicated detail by detail:
  *  - tokens: maximal `[a-z0-9]` byte runs over the CollationSupport
  *    lowering (see [[SimhashTextKernel]] for why the byte scan equals
  *    the regex split); post-lowering tokens are pure ASCII, so Java
  *    String order below IS `array_sort`'s UTF8String binary order;
  *  - the c·log2(c) terms fold IN SORTED-TOKEN RUN ORDER with a 0.0
  *    seed — the exact float-summation order of the HOF `aggregate`, so
  *    the 4-decimal result can never round apart from the composition
  *    it replaces (double addition is order-sensitive in the last ulp);
  *  - the TWO log2 call sites replicate Spark's split personality,
  *    verified against the 4.1.2 bytecode: lambda bodies inside
  *    `aggregate`/`zip_with` never codegen, so the fold's `log2(c)` ran
  *    Spark's INTERPRETED Log2 (`scala math.log` = `Math.log`), while
  *    the outer `log2(n_tokens)` sat in a codegen'd Project
  *    (`StrictMath.log` — Log2's generated template). Math.log is an
  *    intrinsic permitted to differ from StrictMath.log in the last
  *    ulp, so using one log for both sites could round a borderline
  *    document apart from the committed record;
  *  - the round is Spark's `round(_, 4)` on DoubleType
  *    (BigDecimal.valueOf → HALF_UP), bit-identical;
  *  - a token-less document has no entropy: n_tokens 0, word_entropy
  *    NULL. (The HOF pipeline only ever ran behind the `[a-z0-9]`
  *    domain filter, where its 0/0 path is unreachable; NULL is this
  *    kernel's extension of the contract, not a divergence on any row
  *    the query compares.)
  */
object TokenEntropyKernel {

  // interpreted Log2 (HOF lambda bodies): scala math.log = Math.log;
  // NOT pre-folded constants — Spark evaluates log(2) per call, and the
  // division must see the exact same operand bits
  @inline private def log2Interp(x: Double): Double =
    Math.log(x) / Math.log(2.0)

  // codegen'd Log2 (Project expressions): StrictMath.log, per the
  // `java.lang.StrictMath.log($c) / java.lang.StrictMath.log(2)`
  // template in the 4.1.2 bytecode
  @inline private def log2Gen(x: Double): Double =
    StrictMath.log(x) / StrictMath.log(2.0)

  def compute(text: UTF8String, useICU: Boolean): InternalRow = {
    val bytes = TextKernel.lowered(text, useICU).getBytes
    val spans = TextKernel.tokenSpans(bytes)
    val (starts, ends, nTok) = (spans.starts, spans.ends, spans.n)
    val row = new GenericInternalRow(2)
    if (nTok == 0) {
      row.setLong(0, 0L)
      row.setNullAt(1)
      return row
    }
    // materialize + sort the tokens: ASCII [a-z0-9] runs, so Java's
    // String order equals array_sort's binary order; the JVM sort of a
    // few hundred short strings is orders cheaper than the interpreted
    // HOF tree it replaces
    val toks = new Array[String](nTok)
    var i = 0
    while (i < nTok) {
      toks(i) = new String(bytes, starts(i), ends(i) - starts(i),
        java.nio.charset.StandardCharsets.US_ASCII)
      i += 1
    }
    java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]])
    // run-length fold in sorted order — the HOF aggregate's exact
    // float-op sequence: acc = 0.0; acc += c * log2(c) per run
    var acc = 0.0
    var runStart = 0
    i = 1
    while (i <= nTok) {
      if (i == nTok || toks(i) != toks(runStart)) {
        val c = (i - runStart).toDouble
        acc += c * log2Interp(c)
        runStart = i
      }
      i += 1
    }
    val n = nTok.toDouble
    val ent = java.math.BigDecimal.valueOf(log2Gen(n) - acc / n)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    row.setLong(0, nTok.toLong)
    row.setDouble(1, ent)
    row
  }
}

/** Native fused word-entropy profile — `token_entropy(text)`, registered
  * by [[graft.GraftSparkExtensions]]: a struct {n_tokens, word_entropy},
  * the per-document word-level Shannon entropy the quality gate reads.
  * One codegen'd call per document replaces the interpreted HOF tree
  * (array_sort over token strings + run-boundary filter + zip_with +
  * aggregate fold) that fed `text_entropy_filter`. Row-local: the
  * corpus never shuffles.
  */
case class TokenEntropy(child: Expression,
    useICU: Boolean = TextKernel.sessionUseICU) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    // NULL exactly when the document has no tokens (entropy undefined)
    StructField("word_entropy", DoubleType, nullable = true)))
  override def prettyName: String = "token_entropy"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string input, got ${other.catalogString}")
  }

  // useICU: case-class parameter defaulted at construction — see
  // TextKernel.sessionUseICU for the equality/copy() rationale

  override protected def nullSafeEval(input: Any): Any =
    TokenEntropyKernel.compute(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenEntropyKernel.compute($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): TokenEntropy =
    copy(child = newChild)
}
