package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused whole-document SimHash kernel: tokenize → md5-per-token →
  * 64-bit vote fold → signature, in ONE row-local pass over the lowered
  * bytes. Static-forwarder object so generated code calls
  * `graft.functions.SimhashTextKernel.compute(...)` directly (the
  * [[ShingleMd5]] shape).
  *
  * Contract is bit-identical to the engine's composed pipeline
  *
  * {{{ explode(filter(split(lower(text), '[^a-z0-9]+'), t -> t != ''))
  *     → md5(tok) → 64 per-bit vote sums → per-digit majority hex }}}
  *
  * replicated detail by detail:
  *  - lowering is the built-in `lower()`'s exact CollationSupport path
  *    (incl. the ICU toggle), like [[ShingleMd5]];
  *  - `[a-z0-9]` is an ASCII class, and in UTF-8 every byte of a
  *    non-ASCII code point is ≥ 0x80, so maximal alphanumeric BYTE runs
  *    over the lowered bytes are exactly the regex split's non-empty
  *    tokens;
  *  - votes: hex digit d (1-based) of a token's md5, bit k, votes
  *    `+1/−1` on signature bit `4·(d−1)+k` — the DuckDB oracle's
  *    digit-wise `sum(CASE …)` columns (`TextQueries.simhashSumsDuck`);
  *  - signature digit d = Σₖ (votes(4·(d−1)+k) > 0) · 2ᵏ, hex-encoded
  *    in digit order — the `simhashAssemble` form;
  *  - a document with NO tokens yields NULL (the explode pipeline drops
  *    such a document entirely; callers filter nulls to keep the output
  *    sets identical).
  */
object SimhashTextKernel {

  def compute(text: UTF8String, useICU: Boolean): UTF8String = {
    val bytes = TextKernel.lowered(text, useICU).getBytes
    val spans = TextKernel.tokenSpans(bytes)
    // no-token fast path BEFORE the vote/digest machinery (the
    // TokenEntropyKernel shape): the NULL contract is visible up top
    // and a corpus slice of token-less rows pays no dead allocations
    if (spans.n == 0) return null
    val votes = new Array[Int](64)
    val md = TextKernel.md5()
    var t = 0
    while (t < spans.n) {
      md.reset()
      md.update(bytes, spans.starts(t), spans.ends(t) - spans.starts(t))
      val dig = md.digest()
      var b = 0
      while (b < 64) {
        val d = (b >> 2) // 0-based digit index
        val nib =
          if ((d & 1) == 0) (dig(d >> 1) >> 4) & 0xf
          else dig(d >> 1) & 0xf
        votes(b) += (((nib >> (b & 3)) & 1) << 1) - 1
        b += 1
      }
      t += 1
    }
    val out = new Array[Byte](16)
    var d = 0
    while (d < 16) {
      var v = 0
      var k = 0
      while (k < 4) {
        if (votes(4 * d + k) > 0) v |= 1 << k
        k += 1
      }
      out(d) = TextKernel.hexDigits(v)
      d += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** Native whole-document SimHash — `simhash64(text)`, registered by
  * [[graft.GraftSparkExtensions]]. Replaces dedup_simhash's ENTIRE
  * distributed pipeline (a ~50× token explode, per-token md5 rows, and
  * a doc_id-keyed aggregate Exchange) with one codegen'd call per
  * document row: the signature never needs more state than one token's
  * digest and a 64-int vote array, so computing it where the text
  * already lives removes the operator's only shuffle. NULL for a
  * document with no tokens (the composed pipeline drops those rows;
  * see [[SimhashTextKernel]]).
  *
  * Reference semantics documented at SURVEY.md §2 (dedup family);
  * signature equivalence against the composed pipeline is spec-tested
  * over the corpus (ExtensionsSpec) and the DuckDB oracle is unchanged.
  */
case class SimhashText(child: Expression,
    useICU: Boolean = TextKernel.sessionUseICU) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string input, got ${other.catalogString}")
  }

  // useICU: case-class parameter defaulted at construction — see
  // TextKernel.sessionUseICU for the equality/copy() rationale

  override protected def nullSafeEval(input: Any): Any =
    SimhashTextKernel.compute(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SimhashTextKernel.compute($c, $useICU);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): SimhashText =
    copy(child = newChild)
}
