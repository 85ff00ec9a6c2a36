package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions.{BloomBitsAgg, BloomMightContain, CosineSim, HashVectorize, MinShingleMd5, MinhashSigs, RewriteDotProduct, ShingleMd5s, SimhashText, TokenEntropy}

/** Engine extension point — install with
  * `.config("spark.sql.extensions", "graft.GraftSparkExtensions")` (done
  * by [[GraftSession]] and the test base). Registers the engine's native
  * Catalyst expressions in the session function registry (so they
  * resolve from SQL text and `call_function` alike) and the
  * [[RewriteDotProduct]] optimizer rule that fuses the public
  * `aggregate(zip_with(...))` dot-product and squared-difference idioms
  * into the native [[graft.functions.DotProduct]] /
  * [[graft.functions.SquaredL2]] loops.
  *
  * The extension is a precondition of every declared key that calls a
  * native: those keys have no built-in fallback. On a session built
  * without it, such a key fails at analysis with Spark's
  * `UNRESOLVED_ROUTINE` error naming the missing function.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim expects exactly 2 arguments")
        CosineSim(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("min_shingle_md5"),
      new ExpressionInfo(classOf[MinShingleMd5].getName, "min_shingle_md5"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => MinShingleMd5(t, 8, 4)
        case Seq(t, Literal(l: Int, IntegerType), Literal(s: Int, IntegerType)) =>
          MinShingleMd5(t, l, s)
        case _ => throw new IllegalArgumentException(
          "min_shingle_md5 expects (text) or (text, <int literal len>, <int literal stride>)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSigs].getName, "minhash_sigs"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "minhash_sigs expects exactly 1 argument")
        MinhashSigs(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("shingle_md5s"),
      new ExpressionInfo(classOf[ShingleMd5s].getName, "shingle_md5s"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "shingle_md5s expects exactly 1 argument")
        ShingleMd5s(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("token_entropy"),
      new ExpressionInfo(classOf[TokenEntropy].getName, "token_entropy"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "token_entropy expects exactly 1 argument")
        TokenEntropy(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("hash_vectorize64"),
      new ExpressionInfo(classOf[HashVectorize].getName, "hash_vectorize64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "hash_vectorize64 expects exactly 1 argument")
        HashVectorize(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimhashText].getName, "simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash64 expects exactly 1 argument")
        SimhashText(args.head)
      }))
    // aggregate functions registered here are wrapped in an
    // AggregateExpression by the analyzer's function resolution, same as
    // Spark's own registry-built aggregates
    ext.injectFunction((
      new FunctionIdentifier("bloom_bits_agg"),
      new ExpressionInfo(classOf[BloomBitsAgg].getName, "bloom_bits_agg"),
      (args: Seq[Expression]) => args match {
        case Seq(k) => BloomBitsAgg(k, 1 << 20, 5)
        case Seq(k, Literal(bits: Int, IntegerType), Literal(h: Int, IntegerType)) =>
          BloomBitsAgg(k, bits, h)
        case _ => throw new IllegalArgumentException(
          "bloom_bits_agg expects (key) or (key, <int literal numBits>, <int literal numHashes>)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "bloom_might_contain expects exactly 2 arguments")
        BloomMightContain(args.head, args(1))
      }))
    ext.injectOptimizerRule(_ => RewriteDotProduct)
  }
}
