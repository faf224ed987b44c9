package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** Unary native expression whose codegen calls back into `compute` on the
  * expression instance (via `addReferenceObj`). Unlike `CodegenFallback`
  * — which drops the WHOLE subtree (including the child, e.g. the
  * tokenizer) to interpreted eval — this keeps the child and the
  * surrounding projection inside whole-stage codegen; only the kernel runs
  * as a JVM method call on an already-computed input value.
  */
trait NativeUnaryKernel extends UnaryExpression {
  /** The kernel: input is the non-null child value (ArrayData etc.). */
  def compute(input: Any): Any

  // null in ⇒ null out (nullSafeEval) — DECLARED so constraint
  // propagation can derive IsNotNull(child) from IsNotNull(kernel(x))
  // and push the cheap guard toward the scan. (Verified this does NOT
  // make the optimizer REPLACE a join-inferred IsNotNull(size(kernel))
  // guard — Spark never rewrites IsNotNull(f(x)) → IsNotNull(x) — so
  // the sizes-leg guard on dedup_containment still evaluates the
  // kernel in its Filter; an acceptable 2× on one of that plan's
  // passes.)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = compute(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftKernel", this, classOf[NativeUnaryKernel].getName)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.javaType(dataType)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ($javaType)(($boxed) $ref.compute($c));")
  }
}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Binary sibling of [[NativeUnaryKernel]]: codegen calls back into
  * `compute(a, b)` on the expression instance, keeping the children and
  * the surrounding projection inside whole-stage codegen. Round 15: the
  * ANN per-candidate scoring folds (`aggregate(zip_with(...))` — the
  * DESIGN §17.1 CodegenFallback cost class) run per candidate PAIR
  * (|queries|·|corpus| in the brute legs), the hottest row count in the
  * ANN family; these kernels do the same arithmetic in one primitive
  * loop. Precondition shared with VecDot: both arrays non-null-elemented
  * and of equal length at every call site (the kernels clamp to the
  * shorter length; the HOF forms they replace instead null-pad — equal
  * lengths are guaranteed by construction at every site).
  */
trait NativeBinaryKernel extends BinaryExpression {
  def compute(a: Any, b: Any): Any

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = compute(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftKernel", this, classOf[NativeBinaryKernel].getName)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.javaType(dataType)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ($javaType)(($boxed) $ref.compute($a, $b));")
  }
}

/** Ternary sibling — for the fused folds whose HOF form nests two HOFs
  * (e.g. ADC's dot-of-elementwise-sum).
  */
trait NativeTernaryKernel
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  def compute(a: Any, b: Any, c: Any): Any

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = compute(a, b, c)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftKernel", this, classOf[NativeTernaryKernel].getName)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.javaType(dataType)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = ($javaType)(($boxed) $ref.compute($a, $b, $c));")
  }
}

/** Analysis-time input-type guards for the SQL-callable kernels (round-15
  * review): the kernels read ArrayData through typed getters, so an
  * array<int> argument — the natural literal type a pure-SQL caller
  * writes — would either ClassCastException mid-query or, worse, read
  * 8-byte strides over 4-byte-packed ints and return silent garbage.
  * These reject wrong element types AT ANALYSIS instead; no implicit
  * cast is injected (a silent int→float cast would change bits).
  */
private[functions] object VecTypeChecks {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  def numericArrays(name: String, es: Seq[Expression]): TypeCheckResult =
    es.find(e => e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => false
      case _ => true
    }).map(e => TypeCheckResult.TypeCheckFailure(
      s"$name expects array<float> or array<double> arguments, got " +
        e.dataType.catalogString))
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  def longArrays(name: String, es: Seq[Expression]): TypeCheckResult =
    es.find(e => e.dataType match {
      case ArrayType(LongType, _) => false
      case _ => true
    }).map(e => TypeCheckResult.TypeCheckFailure(
      s"$name expects array<bigint> arguments, got " + e.dataType.catalogString))
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  def stringArrays(name: String, es: Seq[Expression]): TypeCheckResult =
    es.find(e => e.dataType match {
      case ArrayType(StringType, _) => false
      case _ => true
    }).map(e => TypeCheckResult.TypeCheckFailure(
      s"$name expects array<string> arguments, got " + e.dataType.catalogString))
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
}

/** Runtime guards shared by the vec kernels (round-16, ADVICE): the HOF
  * forms these kernels replace null-pad unequal lengths (returning NULL)
  * and propagate NULL elements; the kernels read ArrayData through typed
  * getters, so without guards a pure-SQL caller's NULL element is
  * silently read as 0 (UnsafeArrayData) and a length mismatch silently
  * clamps to the shorter array — the silent-garbage class. Internal call
  * sites guarantee equal non-null arrays, so these raises never fire on
  * the production paths; the BinarizeSign loud-refusal stance, extended.
  *
  * Cost discipline (§17.1): the per-element null check is gated on the
  * argument's static `containsNull` flag — collect_list / kernel outputs
  * are containsNull=false and skip it entirely; parquet-read embeddings
  * are containsNull=true but the branch is never-taken and measured free
  * at 1M pairs (DESIGN §18 round-16 receipt).
  */
object VecGuards { // public: the VecDot generated code calls it by name
  /** Equal-length check; returns the common length. */
  def sameLen(name: String, a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"$name: input arrays differ in length (${n} vs ${b.numElements()}) — " +
          "refusing to clamp to the shorter (the HOF form null-pads and returns NULL)")
    n
  }

  /** Pre-pass null scan — called once per array (when the static schema
    * admits null elements) so the arithmetic loop stays as tight as the
    * unguarded round-15 form; the interleaved-check variant measured
    * +0.5 s at 20M pairs on the 3-array ADC fold, the pre-pass is free.
    */
  def noNulls(name: String, a: ArrayData): Unit = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) nullElem(name, i); i += 1 }
  }

  def nullElem(name: String, i: Int): Nothing =
    throw new IllegalArgumentException(
      s"$name: NULL array element at index $i — the kernel cannot read it as 0; " +
        "filter or coalesce the nulls upstream")

  /** Static may-contain-nulls flag from an argument's ArrayType. */
  def mayNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
}

/** splitmix64 finalizer — the one deterministic mixer every hash-seeded
  * kernel derives its streams from (MinHash lane coefficients, LSH
  * hyperplanes). Arithmetic-progression schemes correlate lanes — see the
  * MinHashSig note below.
  */
object SplitMix {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Deterministic random-hyperplane matrix shared by every sign-bit LSH
  * surface (SignBandBuckets kernel, SQL registration, Similarity specs):
  * plane p component i = uniform double in [-1, 1) from
  * mix64(p·4096 + i). Derived on demand from (planes, dim) — never carried
  * through a plan as literals.
  */
object Hyperplanes {
  /** The seed stream strides by 4096 per plane; a larger dim would make
    * adjacent planes share shifted value streams (plane p element 4096+k
    * == plane p+1 element k) and silently correlate the LSH bits.
    */
  val MaxDim = 4096

  def matrix(planes: Int, dim: Int): Array[Array[Double]] = {
    require(dim <= MaxDim, s"hyperplanes support dim <= $MaxDim, got $dim")
    Array.tabulate(planes, dim) { (p, i) =>
      // 53-bit mantissa of the mixed hash -> uniform double in [-1, 1)
      (SplitMix.mix64(p.toLong * MaxDim + i) >>> 11).toDouble /
        (1L << 52).toDouble - 1.0
    }
  }
}

/* Native Catalyst expressions for the vector/minhash hot paths.
  *
  * Rationale (SURVEY §7.3, measured): the pure higher-order-function
  * formulations are correct but allocate per element — a 64-dim dot product
  * via `aggregate(zip_with(...))` costs ~100 object allocations per pair,
  * and a k=64 MinHash signature via `transform(sequence(0,63), j ->
  * array_min(transform(hashes, ...)))` re-evaluates the whole shingle
  * pipeline once per lane (measured 33 s for 500 docs). These expressions
  * do the same arithmetic in one tight primitive loop; `VecDot` also
  * participates in whole-stage codegen via `doGenCode`.
  */

/** dot(a, b) over array<float> or array<double>, accumulated in double in
  * element order — bit-identical to the HOF formulation
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)` and to
  * DuckDB's double-list dot, so oracle comparisons are exact.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.numericArrays("vec_dot", Seq(left, right))

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private lazy val lMayNull = VecGuards.mayNull(left)
  private lazy val rMayNull = VecGuards.mayNull(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = VecGuards.sameLen("vec_dot", x, y)
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    if (lMayNull) VecGuards.noNulls("vec_dot", x)
    if (rMayNull) VecGuards.noNulls("vec_dot", y)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    // fresh names: two VecDots in one codegen'd stage (e.g. dot + norm in a
    // single projection) must not collide on locals
    val n = ctx.freshName("vdN")
    val s = ctx.freshName("vdS")
    val i = ctx.freshName("vdI")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // length + (containsNull-gated) null-element guards mirror
      // nullSafeEval — the guard code is only EMITTED when the static
      // schema admits null elements, so the proven-non-null fast path
      // compiles to the bare fused loop
      val nullGuard =
        (if (lMayNull) s"""graft.functions.VecGuards.noNulls("vec_dot", $a);\n""" else "") +
        (if (rMayNull) s"""graft.functions.VecGuards.noNulls("vec_dot", $b);\n""" else "")
      s"""
         |int $n = graft.functions.VecGuards.sameLen("vec_dot", $a, $b);
         |$nullGuard
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** MinHash signature over an array<string> of shingles: for lane j,
  * sig[j] = min over shingles s of ((a_j * h(s) + b_j) mod p), with
  * h(s) = pmod(xxhash64(s, seed=42), p) and deterministic (a_j, b_j)
  * derived from the lane index — the same formula as the HOF version, one
  * pass over the shingles for all k lanes.
  */
case class MinHashSig(child: Expression, k: Int, p: Long = 2147483647L)
    extends UnaryExpression with NativeUnaryKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.stringArrays("minhash_sig", Seq(child))

  // Per-lane coefficients from a splitmix64-style mixer. They must be
  // pairwise-uncorrelated: an earlier arithmetic-progression scheme
  // (a_j = (j*C+1) mod (p-1)) made lane values for a FIXED h an arithmetic
  // progression mod p with step (dA*h+dB) — for unlucky h that step is
  // small, one element wins most lanes simultaneously, and recall
  // collapses for its pairs (found by the 1M-doc scale probe: one planted
  // near-dup pair at jaccard 0.987 shared only 20/64 lanes).
  private lazy val as: Array[Long] =
    Array.tabulate(k)(j => Math.floorMod(SplitMix.mix64(j.toLong), p - 1) + 1L)
  private lazy val bs: Array[Long] =
    Array.tabulate(k)(j => Math.floorMod(SplitMix.mix64(j.toLong + 0x51AF_E00DL), p))

  override def compute(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h0 = XxHash64Function.hash(s, StringType, 42L)
      val h = ((h0 % p) + p) % p
      var j = 0
      while (j < k) {
        val v = (as(j) * h + bs(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over an array<string> of tokens: per-bit vote of
  * xxhash64(token, seed=42); bit set where the vote is positive. Identical
  * to the HOF formulation (aggregate + zip_with over 64 lanes) in one pass.
  */
case class SimHash64(child: Expression) extends UnaryExpression with NativeUnaryKernel {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.stringArrays("simhash64", Seq(child))

  override def compute(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      var b = 0
      while (b < 64) {
        votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word n-gram shingles over an array<string> of tokens —
  * identical semantics to the HOF formulation
  * `array_distinct(transform(sequence(0, greatest(size-n,0)),
  *   i -> array_join(slice(tokens, i+1, n), " ")))`
  * including the clamped final/short shingles, in one pass.
  */
case class ShingleNGrams(child: Expression, n: Int)
    extends UnaryExpression with NativeUnaryKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.stringArrays("shingle_ngrams", Seq(child))

  override def compute(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val len = toks.numElements()
    val starts = math.max(len - n, 0)
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i <= starts) {
      val end = math.min(i + n, len)
      var s = if (i < len) toks.getUTF8String(i) else org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
      var j = i + 1
      while (j < end) {
        s = org.apache.spark.unsafe.types.UTF8String.concat(
          s, org.apache.spark.unsafe.types.UTF8String.fromString(" "), toks.getUTF8String(j))
        j += 1
      }
      seen.add(s)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Heuristic language ID over an array<string> of (lowercased) tokens:
  * score per language = count of tokens in that language's marker lexicon;
  * winner = max score with alphabetical tie-break — identical to the
  * SQL-oracle CASE chain over per-language counts, in one pass.
  */
case class LangId(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression with NativeUnaryKernel {
  override def dataType: DataType = StringType

  // alphabetical lang order = deterministic tie-break
  private lazy val langs: Array[String] = markers.map(_._1).sorted.toArray
  private lazy val sets: Array[java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]] = {
    val m = markers.toMap
    langs.map { l =>
      val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
      m(l).foreach(w => s.add(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
      s
    }
  }

  override def compute(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val scores = new Array[Int](langs.length)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      var j = 0
      while (j < langs.length) {
        if (sets(j).contains(t)) scores(j) += 1
        j += 1
      }
      i += 1
    }
    var best = 0
    var j = 1
    while (j < langs.length) {
      if (scores(j) > scores(best)) best = j // strict: earlier lang wins ties
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(langs(best))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-`nprobe` nearest centroids (by cosine, ties by centroid id asc) for
  * a vector, against a SMALL centroid set baked into the expression
  * (driver-collected, ~nlist×dim doubles — the classic IVF coarse
  * quantizer). One pass per row, no row explosion: the join+window
  * formulation of centroid assignment materializes |corpus|×|centroids|
  * array-carrying rows and OOMs at scale (found by the 1M-vector probe).
  */
case class NearestCentroids(child: Expression, centIds: Seq[Long],
                            cents: Seq[Seq[Double]], nprobe: Int)
    extends UnaryExpression with NativeUnaryKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val ids: Array[Long] = centIds.toArray
  private lazy val mat: Array[Array[Double]] = cents.map(_.toArray).toArray
  private lazy val norms: Array[Double] = mat.map(c => math.sqrt(c.map(x => x * x).sum))
  private lazy val elemFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val vec = new Array[Double](dim)
    var d = 0
    while (d < dim) {
      vec(d) = if (elemFloat) v.getFloat(d).toDouble else v.getDouble(d)
      d += 1
    }
    var vn = 0.0
    d = 0
    while (d < dim) { vn += vec(d) * vec(d); d += 1 }
    vn = math.sqrt(vn)
    val nc = mat.length
    val cos = new Array[Double](nc)
    var c = 0
    while (c < nc) {
      val cent = mat(c)
      val m = math.min(dim, cent.length)
      var s = 0.0
      var i = 0
      while (i < m) { s += vec(i) * cent(i); i += 1 }
      cos(c) = s / (vn * norms(c))
      c += 1
    }
    // selection of top nprobe by (cos desc, id asc)
    val k = math.min(nprobe, nc)
    val chosen = new Array[Long](k)
    val used = new Array[Boolean](nc)
    var r = 0
    while (r < k) {
      var best = -1
      var i = 0
      while (i < nc) {
        if (!used(i) && (best < 0 || cos(i) > cos(best) ||
            (cos(i) == cos(best) && ids(i) < ids(best)))) best = i
        i += 1
      }
      used(best) = true
      chosen(r) = ids(best)
      r += 1
    }
    new GenericArrayData(chosen)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization encoder: for subspace s of m equal slices, code[s] =
  * argmin over the subspace's codebook of the squared-L2 distance to the
  * vector's slice, ties to the LOWER code. Distances accumulate the
  * squared diffs in element order, double precision — the same bits as the
  * DuckDB fold `list_reduce(list_prepend(0, list_transform(range, i ->
  * (a[i]-b[i])^2)), +)`, so the argmin (a raw-double comparison) can never
  * flip between engines. One pass per row against a driver-collected
  * codebook set (m · ksub · dim/m doubles — tiny; the IVF coarse-quantizer
  * shape argument, see NearestCentroids).
  */
case class PqEncodeCodes(child: Expression, books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with NativeUnaryKernel {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private lazy val mat: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  private lazy val elemFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val m = mat.length
    val dsub = if (m == 0) 0 else mat(0)(0).length
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      // clamp to the row's actual length (the VecDot/NearestCentroids
      // rule): a ragged/short vector must not read past its buffer —
      // UnsafeArrayData has no bounds check and would return garbage
      val lim = math.max(math.min(dsub, n - off), 0)
      val book = mat(s)
      var best = -1
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var d2 = 0.0
        var i = 0
        while (i < lim) {
          val x = (if (elemFloat) v.getFloat(off + i).toDouble
                   else v.getDouble(off + i)) - cw(i)
          d2 += x * x
          i += 1
        }
        if (d2 < bestD) { bestD = d2; best = c } // strict: ties keep lower c
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization decoder: codes → the concatenation of the chosen
  * codewords (the reconstruction ADC scores against). Pure table lookup,
  * no float arithmetic — reconstructions are exact copies of codebook
  * entries, so any engine holding the same codebooks decodes identically.
  */
case class PqReconstruct(child: Expression, books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with NativeUnaryKernel {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private lazy val mat: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray

  override def compute(input: Any): Any = {
    val codes = input.asInstanceOf[ArrayData]
    val m = mat.length
    val dsub = if (m == 0) 0 else mat(0)(0).length
    val out = new Array[Double](m * dsub)
    var s = 0
    while (s < m) {
      val cw = mat(s)(codes.getInt(s))
      System.arraycopy(cw, 0, out, s * dsub, dsub)
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All random-hyperplane band buckets in ONE pass: for band b, bucket =
  * Σ_j (dot(vec, plane[b·bitsPerBand+j]) > 0) << j. The plane matrix is
  * derived LAZILY from (bitsPerBand, bands, dim) via the deterministic
  * Hyperplanes generator — carrying the materialized matrix as a
  * constructor arg made case-class equality/canonicalization and plan
  * toString (PlanRegressionSpec, the Spark UI) traverse ~63 MB of
  * Seq[Seq[Double]] at scale configs like (20 bits, 96 bands, 4096 dims).
  * Each deserialized instance regenerates its planes once (a few hundred
  * k multiplies — negligible next to one task's work).
  * A Column-tree formulation needs bitsPerBand·bands separate VecDot
  * expressions — ~2000 of them at scale config, which blows past codegen
  * method limits; this kernel is one tight loop. Per-plane dot accumulates
  * in element order, double precision — the same bits as VecDot, so bucket
  * assignments are identical to the Column formulation.
  */
case class SignBandBuckets(child: Expression, bitsPerBand: Int, bands: Int, dim: Int)
    extends UnaryExpression with NativeUnaryKernel {
  // eager: with the matrix itself derived lazily, a bad config would
  // otherwise surface only at executor eval time (task failure); these fire
  // at expression construction, i.e. plan time
  require(dim >= 1 && dim <= Hyperplanes.MaxDim,
    s"sign_band_buckets: dim must be in [1, ${Hyperplanes.MaxDim}] (seed stride), got $dim")
  require(bitsPerBand >= 1 && bitsPerBand <= 63,
    s"sign_band_buckets: bitsPerBand must fit a long bucket key (1..63), got $bitsPerBand")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val mat: Array[Array[Double]] = Hyperplanes.matrix(bitsPerBand * bands, dim)
  private lazy val elemFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    // strict: a dim mismatch here means buckets are computed from a
    // different subspace than the exact-cosine verification — true pairs
    // silently miss every bucket and verification can't restore them.
    // Fail loudly instead of truncating.
    if (dim != mat(0).length)
      throw new IllegalArgumentException(
        s"sign_band_buckets: vector has $dim dims but planes were built for ${mat(0).length}")
    val vec = new Array[Double](dim)
    var d = 0
    while (d < dim) {
      vec(d) = if (elemFloat) v.getFloat(d).toDouble else v.getDouble(d)
      d += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var j = 0
      while (j < bitsPerBand) {
        val plane = mat(b * bitsPerBand + j)
        var s = 0.0
        var i = 0
        while (i < dim) { s += vec(i) * plane(i); i += 1 }
        if (s > 0) bucket |= (1L << j)
        j += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Serialized Bloom-filter bytes with CONTENT-based equality. A bare
  * `Array[Byte]` inside a case-class expression compares by reference, so
  * `semanticEquals` / canonicalization / common-subexpression elimination
  * would never dedupe two structurally-identical probes; this wrapper makes
  * equal bytes equal expressions (hashCode over the first 64 bytes + length
  * keeps hashing O(1) on multi-MB filters; equals stays exact).
  */
final class BloomBits(val bytes: Array[Byte]) extends Serializable {
  require(bytes.nonEmpty, "bloom_might_contain: empty serialized filter")
  override def equals(o: Any): Boolean = o match {
    case b: BloomBits => java.util.Arrays.equals(bytes, b.bytes)
    case _            => false
  }
  override def hashCode: Int =
    java.util.Arrays.hashCode(java.util.Arrays.copyOf(bytes, math.min(bytes.length, 64))) ^ bytes.length
}

/** Bloom-filter membership probe against a serialized
  * `org.apache.spark.util.sketch.BloomFilter` carried as bytes: true iff
  * the (string) input MIGHT be in the set the filter was built from — no
  * false negatives, false-positive rate set at build time. The filter is
  * deserialized lazily once per deserialized expression instance (i.e.
  * once per task), then probed per value; probe hashing is the sketch
  * library's own (the same bytes `putBinary`/`DataFrameStatFunctions
  * .bloomFilter` hash on the build side), so build and probe can happen in
  * different jobs, sessions, or machines.
  *
  * The bytes ride in the expression tree (→ serialized into every task
  * closure), which is right for small filters / SQL literals. A
  * production-sized filter (~24 MB for 10M grams at 1% fpp) should ship
  * ONCE per executor instead — use [[BloomMightContainBcast]].
  */
case class BloomMightContain(child: Expression, bloom: BloomBits)
    extends UnaryExpression with NativeUnaryKernel {

  override def dataType: DataType = BooleanType

  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloom.bytes))

  override def compute(input: Any): Any =
    filter.mightContainBinary(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[BloomMightContain]] with the filter shipped as a Spark broadcast
  * variable: the task closure carries only the broadcast handle; the bytes
  * travel once per executor over the broadcast machinery (torrent blocks)
  * instead of once per expression instance per task binary. Same probe
  * semantics. Equality is by broadcast identity — reuse ONE broadcast per
  * built filter (the builder in `TextAnalysis.decontaminationScoreBloom`
  * does), and identical probes dedupe.
  */
case class BloomMightContainBcast(child: Expression,
                                  bits: org.apache.spark.broadcast.Broadcast[Array[Byte]])
    extends UnaryExpression with NativeUnaryKernel {

  override def dataType: DataType = BooleanType

  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bits.value))

  override def compute(input: Any): Any =
    filter.mightContainBinary(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Polynomial rolling-hash fingerprint h = fold(h*31 + char) mod 1e9+7 over
  * the string's UTF-16 code units — identical to the HOF formulation
  * (split per char + ascii fold) on ASCII text, one pass, no per-char
  * object churn.
  */
case class Fingerprint(child: Expression, p: Long = 1000000007L)
    extends UnaryExpression with NativeUnaryKernel {
  override def dataType: DataType = LongType

  override def compute(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    var h = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      h = (h * 31 + s.charAt(i)) % p
      i += 1
    }
    h
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hashing-trick gram census over a TOKEN ARRAY (round 14): per-bucket
  * counts of unigrams (and, at `maxN = 2`, adjacent-pair bigrams joined
  * with a single space), bucket = pmod(xxhash64(gram), dim) — or, with
  * `features = true`, the density-relative doubles (c·dim)/n the
  * classifier/DSIR feature map consumes. Bit-identical to the HOF
  * formulation it replaces (`aggregate(gramBuckets(...), ...)` in
  * TextClassifier): the SAME XxHash64 (seed 42) over the SAME gram bytes
  * (bigrams concatenate a 1-space separator — identical bytes to
  * `concat(a, ' ', b)`), the same pmod, and the same
  * (c.toDouble · dim.toDouble) / n.toDouble normalization order. The
  * child stays Spark's own `split`-built token array, so tokenization
  * parity is structural, not re-implemented.
  *
  * WHY a kernel: the HOF fold is CodegenFallback — interpreted, with a
  * boxed dim-slot accumulator rebuilt PER TOKEN (O(dim·tokens) boxed ops
  * per row) — and the feature map is the hot scan expression of every
  * classifier/DSIR apply pass, exactly the per-row cost class the
  * round-14 trainer redesign measured (DESIGN §17.1). One tight primitive
  * loop, whole-stage codegen via NativeUnaryKernel.
  */
case class HashedBow(child: Expression, dim: Int, maxN: Int,
                     features: Boolean)
    extends UnaryExpression with NativeUnaryKernel {
  require(dim >= 1, s"HashedBow: dim must be >= 1: $dim")
  require(maxN >= 1 && maxN <= 2, s"HashedBow: maxN must be 1 or 2: $maxN")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.stringArrays("hashed_bow", Seq(child))

  override def dataType: DataType =
    if (features) ArrayType(DoubleType, containsNull = false)
    else ArrayType(IntegerType, containsNull = false)

  private val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  override def compute(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val nT = arr.numElements()
    val counts = new Array[Int](dim)
    var n = 0
    var i = 0
    while (i < nT) {
      val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      counts((((h % dim) + dim) % dim).toInt) += 1
      n += 1
      i += 1
    }
    if (maxN == 2) {
      i = 0
      while (i + 1 < nT) {
        val bg = org.apache.spark.unsafe.types.UTF8String.concat(
          arr.getUTF8String(i), space, arr.getUTF8String(i + 1))
        val h = XxHash64Function.hash(bg, StringType, 42L)
        counts((((h % dim) + dim) % dim).toInt) += 1
        n += 1
        i += 1
      }
    }
    if (!features)
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(counts)
    else {
      val nD = n.toDouble
      val dimD = dim.toDouble
      val out = new Array[Double](dim)
      var b = 0
      while (b < dim) {
        out(b) = (counts(b).toDouble * dimD) / nD
        b += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Σ popcount(aᵢ xor bᵢ) over two array<long> of sign-bit chunks — the
  * Hamming distance of binarized vectors. Bit-identical to the HOF form
  * `aggregate(zip_with(a, b, (x,y) -> bigint(bit_count(x ^ y))), 0L, +)`:
  * Long.bitCount is exactly SQL bit_count on BIGINT, and integer sums
  * carry no order sensitivity at all.
  */
case class VecXorPopcount(left: Expression, right: Expression)
    extends BinaryExpression with NativeBinaryKernel {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.longArrays("vec_xor_popcount", Seq(left, right))

  private lazy val ln = VecGuards.mayNull(left); private lazy val rn = VecGuards.mayNull(right)

  override def compute(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = VecGuards.sameLen("vec_xor_popcount", x, y)
    if (ln) VecGuards.noNulls("vec_xor_popcount", x)
    if (rn) VecGuards.noNulls("vec_xor_popcount", y)
    var s = 0L
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Exact integer dot Σ aᵢ·bᵢ over two array<long> (SQ8 code arrays:
  * |element| ≤ 127, so dim·127² fits a long at any practical dim).
  * Overflow is LOUD (Math.multiplyExact/addExact) — the same contract the
  * ANSI-mode HOF fold it replaces has, where a long overflow kills the
  * query at runtime rather than wrapping.
  */
case class VecDotLong(left: Expression, right: Expression)
    extends BinaryExpression with NativeBinaryKernel {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.longArrays("vec_dot_long", Seq(left, right))

  private lazy val ln = VecGuards.mayNull(left); private lazy val rn = VecGuards.mayNull(right)

  override def compute(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = VecGuards.sameLen("vec_dot_long", x, y)
    if (ln) VecGuards.noNulls("vec_dot_long", x)
    if (rn) VecGuards.noNulls("vec_dot_long", y)
    var s = 0L
    var i = 0
    while (i < n) {
      s = Math.addExact(s, Math.multiplyExact(x.getLong(i), y.getLong(i)))
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Count of agreeing lanes Σ (aᵢ == bᵢ ? 1 : 0) over two array<long>
  * (MinHash signatures) — the lane-agreement Jaccard estimator's
  * numerator. Integer, order-free, identical to the HOF form seeded
  * with int 0.
  */
case class VecEqCount(left: Expression, right: Expression)
    extends BinaryExpression with NativeBinaryKernel {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.longArrays("vec_eq_count", Seq(left, right))

  private lazy val ln = VecGuards.mayNull(left); private lazy val rn = VecGuards.mayNull(right)

  override def compute(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = VecGuards.sameLen("vec_eq_count", x, y)
    if (ln) VecGuards.noNulls("vec_eq_count", x)
    if (rn) VecGuards.noNulls("vec_eq_count", y)
    var s = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) s += 1
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Squared L2 distance Σ (aᵢ − bᵢ)² accumulated in element order, double
  * precision, float elements widened per side — bit-identical to the HOF
  * form `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0d, +)` (one
  * subtract, one multiply, one add per element, same order), so PQ
  * distortion monitors and k-center traversals keep their oracle hashes.
  */
case class VecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression with NativeBinaryKernel {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.numericArrays("vec_l2sq", Seq(left, right))

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private lazy val ln = VecGuards.mayNull(left); private lazy val rn = VecGuards.mayNull(right)

  override def compute(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = VecGuards.sameLen("vec_l2sq", x, y)
    if (ln) VecGuards.noNulls("vec_l2sq", x)
    if (rn) VecGuards.noNulls("vec_l2sq", y)
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      s += d * d
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Fused ADC score Σ qᵢ·(aᵢ + bᵢ) in element order — the IVF-PQ query's
  * dot(query, centroid + residual-reconstruction) without materializing
  * the elementwise sum per candidate pair. Bit-identical to
  * `VecDot(q, zip_with(a, b, +))`: one add, one multiply, one accumulate
  * per element, same order, float query elements widened exactly like
  * VecDot.
  */
case class VecDotPlus(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with NativeTernaryKernel {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.numericArrays("vec_dot_plus", Seq(first, second, third))

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private lazy val qn = VecGuards.mayNull(first)
  private lazy val an = VecGuards.mayNull(second)
  private lazy val bn = VecGuards.mayNull(third)

  override def compute(q: Any, a: Any, b: Any): Any = {
    val qv = q.asInstanceOf[ArrayData]
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = VecGuards.sameLen("vec_dot_plus", qv, x)
    if (y.numElements() != n) VecGuards.sameLen("vec_dot_plus", x, y)
    if (qn) VecGuards.noNulls("vec_dot_plus", qv)
    if (an) VecGuards.noNulls("vec_dot_plus", x)
    if (bn) VecGuards.noNulls("vec_dot_plus", y)
    val qf = elemIsFloat(first); val af = elemIsFloat(second); val bf = elemIsFloat(third)
    var s = 0.0
    var i = 0
    while (i < n) {
      val qe = if (qf) qv.getFloat(i).toDouble else qv.getDouble(i)
      val ae = if (af) x.getFloat(i).toDouble else x.getDouble(i)
      val be = if (bf) y.getFloat(i).toDouble else y.getDouble(i)
      s += qe * (ae + be)
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Residual norm² Σ (vᵢ − d·bᵢ)² against a literal component vector `b`
  * with a per-row scalar loading `d` — removeDominantComponent's
  * after-projection norm in one pass. Bit-identical to the nested HOF
  * form (per element: one multiply d·bᵢ, one subtract, one square via
  * multiply, accumulate in order).
  */
case class VecResidL2Sq(left: Expression, right: Expression, component: Seq[Double])
    extends BinaryExpression with NativeBinaryKernel {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val arr = VecTypeChecks.numericArrays("vec_resid_l2sq", Seq(left))
    if (arr != org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess) arr
    else if (right.dataType != DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_resid_l2sq expects a double loading, got ${right.dataType.catalogString}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  private lazy val comp: Array[Double] = component.toArray
  private lazy val elemFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private lazy val vn = VecGuards.mayNull(left)

  override def compute(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val d = b.asInstanceOf[Double]
    // strict (round-16, ADVICE): a vector dimension differing from the
    // fitted component's would silently truncate the residual norm —
    // the nested zip_with form nulls out instead; raise like BinarizeSign
    val n = v.numElements()
    if (n != comp.length)
      throw new IllegalArgumentException(
        s"vec_resid_l2sq: vector has $n dims but the component has ${comp.length} — " +
          "refusing to truncate the residual fold")
    if (vn) VecGuards.noNulls("vec_resid_l2sq", v)
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = (if (elemFloat) v.getFloat(i).toDouble else v.getDouble(i)) - d * comp(i)
      s += x * x
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Pre-scaled dot Σ (aᵢ/divisor)·bᵢ in element order — the DSIR apply
  * fold (features divided back to per-token means BEFORE the lift
  * multiply; folding the divide into either side first is NOT
  * bit-identical for non-power-of-two divisors, so the kernel keeps the
  * HOF's exact operation order for any divisor).
  */
case class VecDotScaled(left: Expression, right: Expression, divisor: Double)
    extends BinaryExpression with NativeBinaryKernel {
  require(divisor != 0.0, "VecDotScaled: zero divisor")

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.numericArrays("vec_dot_scaled", Seq(left, right))

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private lazy val ln = VecGuards.mayNull(left); private lazy val rn = VecGuards.mayNull(right)

  override def compute(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = VecGuards.sameLen("vec_dot_scaled", x, y)
    if (ln) VecGuards.noNulls("vec_dot_scaled", x)
    if (rn) VecGuards.noNulls("vec_dot_scaled", y)
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += (xv / divisor) * yv
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sign-bit quantization: bit j of chunk c is set iff vec[32c + j] > 0 —
  * one pass, array<long> of ⌈dim/32⌉ chunks of 32 bits each. Identical
  * value to the Column-tree formulation (a 32-deep sum of distinct
  * powers of two per chunk == OR of the same bits), which at dim 64 was
  * a 128-branch CASE WHEN chain per row — measured re-evaluating per
  * candidate PAIR when pipelined into the Hamming join stage (1M probe:
  * hammingTopK 48 s → the kernel form restores the 1M-row cost).
  */
case class BinarizeSign(child: Expression, dim: Int)
    extends UnaryExpression with NativeUnaryKernel {
  require(dim >= 1, s"BinarizeSign: dim must be >= 1: $dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.numericArrays("binarize_sign", Seq(child))

  private lazy val elemFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val vn = VecGuards.mayNull(child)

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    // strict (round-15 review): the round-14 Column tree raised (ANSI
    // element_at) on a vector shorter than dim; zero-filling the missing
    // bits here would return plausible-but-wrong Hamming neighbors with
    // no signal that dim was misconfigured. Longer vectors read their
    // first `dim` components, exactly as the tree form did.
    if (v.numElements() < dim)
      throw new IllegalArgumentException(
        s"binarize_sign: vector has ${v.numElements()} dims but dim = $dim " +
          "— refusing to zero-fill the missing sign bits")
    val lim = dim
    val chunks = (dim + 31) / 32
    val out = new Array[Long](chunks)
    if (vn) VecGuards.noNulls("binarize_sign", v)
    var i = 0
    while (i < lim) {
      val x = if (elemFloat) v.getFloat(i).toDouble else v.getDouble(i)
      if (x > 0) out(i >> 5) |= (1L << (i & 31))
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Elementwise difference aᵢ − bᵢ as array<double> (residual computation:
  * vector minus its centroid), float elements widened per side — identical
  * to `zip_with(a, b, (x, y) -> double(x) - y)` on equal-length inputs,
  * without the interpreted per-element lambda.
  */
case class VecSub(left: Expression, right: Expression)
    extends BinaryExpression with NativeBinaryKernel {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.numericArrays("vec_sub", Seq(left, right))

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private lazy val ln = VecGuards.mayNull(left); private lazy val rn = VecGuards.mayNull(right)

  override def compute(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = VecGuards.sameLen("vec_sub", x, y)
    if (ln) VecGuards.noNulls("vec_sub", x)
    if (rn) VecGuards.noNulls("vec_sub", y)
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      out(i) = xv - yv
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Ascending-order sum of an array's elements — the determinism-pinned
  * sorted fold `aggregate(array_sort(collect_list(x)), 0.0, (s,x) -> s+x)`
  * as one primitive pass (round-16: the agg-grain sorted-fold family the
  * §18.1 sweep didn't cover; the simjoin per-pair dot/norms run this at
  * candidate-pair grain). Sorts a primitive copy with
  * java.util.Arrays.sort and left-folds from +0.0 in ascending order —
  * bit-identical to the HOF form: Arrays.sort and Spark's array_sort can
  * disagree only on the relative order of -0.0 vs 0.0 and of equal NaNs,
  * and both classes are sum-order-neutral (x + 0.0 + (-0.0) == x +
  * (-0.0) + 0.0 for every x including ±0.0 seeds, and NaN absorbs —
  * JVM double ops canonicalize NaN payloads), so the folded sums carry
  * the same raw bits (spec-pinned in VecFoldKernelsSpec). Float elements
  * widen to double BEFORE the sort — widening is monotone, so the order
  * matches array_sort-then-widen.
  */
case class VecSortedSum(child: Expression)
    extends UnaryExpression with NativeUnaryKernel {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeChecks.numericArrays("vec_sorted_sum", Seq(child))

  private lazy val elemFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val vn = VecGuards.mayNull(child)

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (vn) VecGuards.noNulls("vec_sorted_sum", v)
    val a = new Array[Double](n)
    var i = 0
    while (i < n) {
      a(i) = if (elemFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    java.util.Arrays.sort(a)
    var s = 0.0
    i = 0
    while (i < n) { s += a(i); i += 1 }
    s
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  /** Column API for the native expressions. */
  def vecDot(a: Column, b: Column): Column =
    ColumnShim.column(VecDot(ColumnShim.expression(a), ColumnShim.expression(b)))

  def hashedBow(tokens: Column, dim: Int, maxN: Int, features: Boolean): Column =
    ColumnShim.column(HashedBow(ColumnShim.expression(tokens), dim, maxN, features))

  def vecXorPopcount(a: Column, b: Column): Column =
    ColumnShim.column(VecXorPopcount(ColumnShim.expression(a), ColumnShim.expression(b)))

  def vecDotLong(a: Column, b: Column): Column =
    ColumnShim.column(VecDotLong(ColumnShim.expression(a), ColumnShim.expression(b)))

  def vecEqCount(a: Column, b: Column): Column =
    ColumnShim.column(VecEqCount(ColumnShim.expression(a), ColumnShim.expression(b)))

  def vecL2Sq(a: Column, b: Column): Column =
    ColumnShim.column(VecL2Sq(ColumnShim.expression(a), ColumnShim.expression(b)))

  def vecDotPlus(q: Column, a: Column, b: Column): Column =
    ColumnShim.column(VecDotPlus(ColumnShim.expression(q), ColumnShim.expression(a),
      ColumnShim.expression(b)))

  def vecResidL2Sq(v: Column, d: Column, component: Seq[Double]): Column =
    ColumnShim.column(VecResidL2Sq(ColumnShim.expression(v), ColumnShim.expression(d),
      component))

  def vecDotScaled(a: Column, b: Column, divisor: Double): Column =
    ColumnShim.column(VecDotScaled(ColumnShim.expression(a), ColumnShim.expression(b),
      divisor))

  def vecSub(a: Column, b: Column): Column =
    ColumnShim.column(VecSub(ColumnShim.expression(a), ColumnShim.expression(b)))

  def vecSortedSum(a: Column): Column =
    ColumnShim.column(VecSortedSum(ColumnShim.expression(a)))

  def binarizeSign(vec: Column, dim: Int): Column =
    ColumnShim.column(BinarizeSign(ColumnShim.expression(vec), dim))

  def minHashSig(shingles: Column, k: Int, p: Long = 2147483647L): Column =
    ColumnShim.column(MinHashSig(ColumnShim.expression(shingles), k, p))

  def simHash64(tokens: Column): Column =
    ColumnShim.column(SimHash64(ColumnShim.expression(tokens)))

  def shingleNGrams(tokens: Column, n: Int): Column =
    ColumnShim.column(ShingleNGrams(ColumnShim.expression(tokens), n))

  def langId(tokens: Column, markers: Seq[(String, Seq[String])]): Column =
    ColumnShim.column(LangId(ColumnShim.expression(tokens), markers))

  def nearestCentroids(vec: Column, centIds: Seq[Long], cents: Seq[Seq[Double]],
                       nprobe: Int): Column =
    ColumnShim.column(NearestCentroids(ColumnShim.expression(vec), centIds, cents, nprobe))

  def pqEncodeCodes(vec: Column, books: Seq[Seq[Seq[Double]]]): Column =
    ColumnShim.column(PqEncodeCodes(ColumnShim.expression(vec), books))

  def pqReconstruct(codes: Column, books: Seq[Seq[Seq[Double]]]): Column =
    ColumnShim.column(PqReconstruct(ColumnShim.expression(codes), books))

  def fingerprint(text: Column): Column =
    ColumnShim.column(Fingerprint(ColumnShim.expression(text)))

  def signBandBuckets(vec: Column, bitsPerBand: Int, bands: Int, dim: Int): Column =
    ColumnShim.column(SignBandBuckets(ColumnShim.expression(vec), bitsPerBand, bands, dim))

  def bloomMightContain(s: Column, bloomBits: Array[Byte]): Column =
    ColumnShim.column(BloomMightContain(ColumnShim.expression(s), new BloomBits(bloomBits)))

  /** Broadcast-shipped variant for production-sized filters: build the
    * broadcast once (`spark.sparkContext.broadcast(bytes)`) and reuse it
    * across every probe expression of that filter.
    */
  def bloomMightContain(s: Column,
                        bits: org.apache.spark.broadcast.Broadcast[Array[Byte]]): Column =
    ColumnShim.column(BloomMightContainBcast(ColumnShim.expression(s), bits))
}
