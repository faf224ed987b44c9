package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for graft's native expressions, so the library is usable
  * from pure `spark.sql(...)`:
  *
  *   SELECT vec_dot(a, b)                 -- double dot product
  *   SELECT shingle_ngrams(tokens, 3)     -- distinct word n-grams
  *   SELECT minhash_sig(shingles, 64)     -- minhash signature array
  *   SELECT simhash64(tokens)             -- 64-bit simhash
  *
  * Register either at runtime with `GraftFunctions.register(spark)`, or at
  * session build time via
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftFunctions {

  /** Arity gate (round-16, ADVICE): a wrong argument count must surface
    * as a clean error naming the function and expected arity, not an
    * IndexOutOfBoundsException from positional args(i) indexing.
    */
  private def arity(name: String, n: Int, args: Seq[Expression]): Seq[Expression] = {
    if (args.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> n.toString,
          "actualNum" -> args.length.toString, "docroot" -> "-"))
    args
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def stringLit(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  val descriptors: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vec_dot",
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args0: Seq[Expression]) => { val args = arity("vec_dot", 2, args0); VecDot(args(0), args(1)) }),
    ("shingle_ngrams",
      new ExpressionInfo(classOf[ShingleNGrams].getName, "shingle_ngrams"),
      (args0: Seq[Expression]) => { val args = arity("shingle_ngrams", 2, args0); ShingleNGrams(args(0), intLit(args(1), "n")) }),
    ("minhash_sig",
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args0: Seq[Expression]) => { val args = arity("minhash_sig", 2, args0); MinHashSig(args(0), intLit(args(1), "k")) }),
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args0: Seq[Expression]) => { val args = arity("simhash64", 1, args0); SimHash64(args(0)) }),
    ("text_fingerprint",
      new ExpressionInfo(classOf[Fingerprint].getName, "text_fingerprint"),
      (args0: Seq[Expression]) => { val args = arity("text_fingerprint", 1, args0); Fingerprint(args(0)) }),
    ("bloom_might_contain",
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      // (str, bloomB64) — the serialized filter travels as a base64 string
      // literal, decoded once at plan time (a filter artifact in a config
      // store or table property is exactly a string)
      (args0: Seq[Expression]) => { val args = arity("bloom_might_contain", 2, args0); BloomMightContain(args(0),
        new BloomBits(java.util.Base64.getDecoder.decode(stringLit(args(1), "bloomB64")))) }),
    ("sign_band_buckets",
      new ExpressionInfo(classOf[SignBandBuckets].getName, "sign_band_buckets"),
      // (vec, bitsPerBand, bands, dim) — planes derived deterministically
      // inside the expression (Hyperplanes.matrix), never passed as literals
      (args0: Seq[Expression]) => { val args = arity("sign_band_buckets", 4, args0);
        SignBandBuckets(args(0), intLit(args(1), "bitsPerBand"),
          intLit(args(2), "bands"), intLit(args(3), "dim")) }),
    ("hashed_bow",
      new ExpressionInfo(classOf[HashedBow].getName, "hashed_bow"),
      // (tokens, dim, maxN, features) — the classifier/DSIR hashing-trick
      // feature map (round 14): counts when features=0, density-relative
      // doubles when 1
      (args0: Seq[Expression]) => { val args = arity("hashed_bow", 4, args0);
        HashedBow(args(0), intLit(args(1), "dim"), intLit(args(2), "maxN"),
          intLit(args(3), "features") != 0) }),
    // the round-15 ANN fold kernels (DESIGN §18) — the per-candidate
    // scoring primitives, SQL-callable so a pure-SQL user gets the same
    // codegen'd hot path the Column API wires
    ("vec_xor_popcount",
      new ExpressionInfo(classOf[VecXorPopcount].getName, "vec_xor_popcount"),
      (args0: Seq[Expression]) => { val args = arity("vec_xor_popcount", 2, args0); VecXorPopcount(args(0), args(1)) }),
    ("vec_dot_long",
      new ExpressionInfo(classOf[VecDotLong].getName, "vec_dot_long"),
      (args0: Seq[Expression]) => { val args = arity("vec_dot_long", 2, args0); VecDotLong(args(0), args(1)) }),
    ("vec_eq_count",
      new ExpressionInfo(classOf[VecEqCount].getName, "vec_eq_count"),
      (args0: Seq[Expression]) => { val args = arity("vec_eq_count", 2, args0); VecEqCount(args(0), args(1)) }),
    ("vec_l2sq",
      new ExpressionInfo(classOf[VecL2Sq].getName, "vec_l2sq"),
      (args0: Seq[Expression]) => { val args = arity("vec_l2sq", 2, args0); VecL2Sq(args(0), args(1)) }),
    ("vec_dot_plus",
      new ExpressionInfo(classOf[VecDotPlus].getName, "vec_dot_plus"),
      (args0: Seq[Expression]) => { val args = arity("vec_dot_plus", 3, args0); VecDotPlus(args(0), args(1), args(2)) }),
    ("vec_sub",
      new ExpressionInfo(classOf[VecSub].getName, "vec_sub"),
      (args0: Seq[Expression]) => { val args = arity("vec_sub", 2, args0); VecSub(args(0), args(1)) }),
    ("binarize_sign",
      new ExpressionInfo(classOf[BinarizeSign].getName, "binarize_sign"),
      (args0: Seq[Expression]) => { val args = arity("binarize_sign", 2, args0); BinarizeSign(args(0), intLit(args(1), "dim")) }),
    ("vec_sorted_sum",
      new ExpressionInfo(classOf[VecSortedSum].getName, "vec_sorted_sum"),
      (args0: Seq[Expression]) => { val args = arity("vec_sorted_sum", 1, args0); VecSortedSum(args(0)) }),
  )
  // LangId, NearestCentroids, VecResidL2Sq and VecDotScaled stay
  // Column-API-only: their lexicon / centroid-matrix / component-vector /
  // double-divisor parameters aren't expressible as SQL integer literals.

  /** Runtime registration on an existing session (idempotent). */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
}
