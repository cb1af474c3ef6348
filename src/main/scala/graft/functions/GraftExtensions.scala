package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook registering the graft native expressions as
  * SQL functions, so they are reachable from `spark.sql` / pure-SQL
  * clients, not only the Column API. [[graft.GraftSession]] sets it; on
  * any other builder:
  *
  * {{{
  * builder.withExtensions(new GraftExtensions)   // or
  * builder.config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * Registered: `float_vector_dot(a, b)`, `long_vector_sqdist(a, b)`,
  * `word_shingles(text, n)`,
  * `minhash_signature(shingles)` (the default 9-seed banding config of
  * `graft.catalog.DedupCatalog`), `simhash_signature(tokens)`,
  * `hashed_word_shingles(text, n)`, `pair_candidates(docs[, num, den])`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.floatVectorDot)
    ext.injectFunction(GraftExtensions.longVectorSqDist)
    ext.injectFunction(GraftExtensions.wordShingles)
    ext.injectFunction(GraftExtensions.minhashSignature)
    ext.injectFunction(GraftExtensions.simhashSignature)
    ext.injectFunction(GraftExtensions.hashedWordShingles)
    ext.injectFunction(GraftExtensions.pairCandidates)
    ext.injectFunction(GraftExtensions.bloomBuild)
    ext.injectFunction(GraftExtensions.bloomMightContain)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** Default minhash config — keep in sync with `graft.catalog.DedupCatalog`. */
  val DefaultModulus = 1073741789L
  val DefaultCoeffs: Seq[(Long, Long)] = Seq(
    (912367261L, 83476291L), (734525851L, 921837463L), (598273217L, 45612839L),
    (401239847L, 672348121L), (287561933L, 154729381L), (993847561L, 888213377L),
    (174829363L, 562917841L), (648391247L, 239184673L), (862154329L, 710293847L))

  private def badArity(name: String, usage: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map("functionName" -> name, "expectedNum" -> usage,
        "actualNum" -> "see usage", "docroot" -> ""))

  val floatVectorDot: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("float_vector_dot"),
    info("float_vector_dot", "_FUNC_(a, b) - dot product of two float vectors in double precision"),
    {
      case Seq(a, b) => FloatVectorDot(a, b)
      case _ => badArity("float_vector_dot", "2")
    })

  val longVectorSqDist: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("long_vector_sqdist"),
    info("long_vector_sqdist", "_FUNC_(a, b) - exact integer squared L2 distance of two bigint vectors"),
    {
      case Seq(a, b) => LongVectorSqDist(a, b)
      case _ => badArity("long_vector_sqdist", "2")
    })

  val wordShingles: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_shingles"),
    info("word_shingles", "_FUNC_(text[, n]) - distinct lowercased word n-gram shingles (default n=3)"),
    {
      case Seq(t) => WordShingles(t, 3)
      case Seq(t, n) if n.foldable && n.eval() != null =>
        WordShingles(t, n.eval().asInstanceOf[Number].intValue())
      case Seq(_, _) =>
        throw new IllegalArgumentException("word_shingles: n must be a non-null constant")
      case _ => badArity("word_shingles", "1 or 2")
    })

  val minhashSignature: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_signature"),
    info("minhash_signature", "_FUNC_(shingles) - 9-seed universal-hash MinHash signature"),
    {
      case Seq(s) => new MinHashSignature(s, DefaultCoeffs, DefaultModulus)
      case _ => badArity("minhash_signature", "1")
    })

  val simhashSignature: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash_signature"),
    info("simhash_signature", "_FUNC_(tokens) - 32-bit tf-weighted SimHash as a bitstring"),
    {
      case Seq(t) => new SimHashSignature(t)
      case _ => badArity("simhash_signature", "1")
    })

  val hashedWordShingles: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hashed_word_shingles"),
    info("hashed_word_shingles",
      "_FUNC_(text[, n]) - 64-bit hashes of the distinct lowercased word n-gram shingles (default n=3)"),
    {
      case Seq(t) => HashedWordShingles(t, 3)
      case Seq(t, n) if n.foldable && n.eval() != null =>
        HashedWordShingles(t, n.eval().asInstanceOf[Number].intValue())
      case Seq(_, _) =>
        throw new IllegalArgumentException("hashed_word_shingles: n must be a non-null constant")
      case _ => badArity("hashed_word_shingles", "1 or 2")
    })

  val pairCandidates: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pair_candidates"),
    info("pair_candidates",
      "_FUNC_(docs[, num, den]) - pruned jaccard candidate pairs over packed bucket members (default prune ratio 1/3)"),
    {
      case Seq(d) => PairCandidates(d, 1, 3)
      case Seq(d, num, den) if num.foldable && den.foldable &&
          num.eval() != null && den.eval() != null =>
        PairCandidates(d, num.eval().asInstanceOf[Number].intValue(),
          den.eval().asInstanceOf[Number].intValue())
      case Seq(_, _, _) =>
        throw new IllegalArgumentException("pair_candidates: num/den must be non-null constants")
      case _ => badArity("pair_candidates", "1 or 3")
    })

  val bloomBuild: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_build"),
    info("bloom_build",
      "_FUNC_(key[, num_bits, num_hashes]) - mergeable bloom filter over BIGINT keys (defaults 2^22 bits, 5 hashes)"),
    {
      case Seq(k) => BloomBuildAgg(k, 1L << 22, 5).toAggregateExpression()
      case Seq(k, bits, hashes) if bits.foldable && hashes.foldable &&
          bits.eval() != null && hashes.eval() != null =>
        BloomBuildAgg(k, bits.eval().asInstanceOf[Number].longValue(),
          hashes.eval().asInstanceOf[Number].intValue()).toAggregateExpression()
      case Seq(_, _, _) =>
        throw new IllegalArgumentException("bloom_build: num_bits/num_hashes must be non-null constants")
      case _ => badArity("bloom_build", "1 or 3")
    })

  val bloomMightContain: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_might_contain"),
    info("bloom_might_contain",
      "_FUNC_(filter, key) - probe a bloom_build filter; may false-positive, never false-negative"),
    {
      case Seq(f, k) => BloomMightContain(f, k)
      case _ => badArity("bloom_might_contain", "2")
    })
}
