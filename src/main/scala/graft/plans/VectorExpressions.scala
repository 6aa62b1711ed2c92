package graft.plans

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the similarity hot path.
  *
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is semantically right but the
  * higher-order-function expressions are interpreted (no codegen) and
  * allocate an intermediate array per row — at 12.5M candidate pairs × 64
  * dims that's billions of interpreted lambda calls. This expression emits a
  * tight primitive loop inside whole-stage codegen instead, with identical
  * sequential fold order (i = 0..n-1), so results are bit-for-bit the same
  * as the HOF composition and the DuckDB oracle.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: several DotProducts can land in ONE generated function
      // (e.g. a filter on cos(a,b) expands to two dots in one Predicate);
      // fixed local names collide and force interpreter fallback.
      val n   = ctx.freshName("dpN")
      val i   = ctx.freshName("dpI")
      val sum = ctx.freshName("dpSum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared eval body for [[HyperplaneBandKeys]] — an object so the generated
  * code can call it as a Java static (one call per row).
  */
object VectorHash {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  /** Widest signature [[HyperplaneBandKeys]] takes: `bits` sign bits land in
    * one non-negative Int. */
  val MaxBits = 30

  /** ±1 random hyperplanes for `bands` sign-signatures of `bits` planes each,
    * md5-derived at first use (seed "emb-lsh:band:plane:dim") so the banding
    * is deterministic across engines and reruns — no RNG state, and the
    * DuckDB-side analysis scripts can reproduce it bit-for-bit. Cached per
    * (dim, bits, bands): built once per executor JVM, shared by all tasks. */
  def planes(dim: Int, bits: Int, bands: Int): Array[Array[Double]] =
    cache.computeIfAbsent(
      (dim, bits, bands),
      _ => {
        val md = java.security.MessageDigest.getInstance("MD5")
        Array.tabulate(bands * bits) { bp =>
          val b = bp / bits
          val p = bp % bits
          Array.tabulate(dim) { i =>
            md.reset()
            val d = md.digest(s"emb-lsh:$b:$p:$i".getBytes("UTF-8"))
            if ((d(3) & 1) == 0) 1.0 else -1.0
          }
        }
      }
    )

  /** All band keys "band:signature" for one vector in a single pass: bands ×
    * bits sign projections over a stack-local copy of the vector. */
  def bandKeys(v: ArrayData, bits: Int, bands: Int): ArrayData = {
    val dim = v.numElements()
    val x   = new Array[Double](dim)
    var i   = 0
    while (i < dim) { x(i) = v.getDouble(i); i += 1 }
    val pl  = planes(dim, bits, bands)
    val out = new Array[Any](bands)
    var b   = 0
    while (b < bands) {
      var sig = 0
      var p   = 0
      while (p < bits) {
        val plane = pl(b * bits + p)
        var s     = 0.0
        var j     = 0
        while (j < dim) { s += plane(j) * x(j); j += 1 }
        if (s >= 0) sig |= (1 << p)
        p += 1
      }
      out(b) = UTF8String.fromString(b.toString + ":" + sig.toString)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** ARRAY<DOUBLE> vector → ARRAY<STRING> of banded random-hyperplane LSH keys
  * "band:signature". The HOF formulation (one literal-array dot product per
  * plane) builds a bands×bits×dim expression tree — bands·bits CreateArray
  * literals (768 at FuzzyDedup's production 12-bit × 64-band shape), which
  * blows past the codegen method-size limit and falls back to the
  * interpreter. This computes all signatures in one fused pass per row
  * behind a single static call.
  */
case class HyperplaneBandKeys(child: Expression, bits: Int, bands: Int) extends UnaryExpression {
  require(bits > 0 && bits <= VectorHash.MaxBits && bands > 0, s"bad LSH shape: $bits bits × $bands bands")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    VectorHash.bandKeys(input.asInstanceOf[ArrayData], bits, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorHash.bandKeys($c, $bits, $bands)")
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** ARRAY<DOUBLE> vector → STRUCT(d: DOUBLE, c: BIGINT): exact integer
  * squared-L2 to the nearest of `centroids` (ties → smallest cid) — the
  * k-means assignment argmin as ONE expression holding the whole centroid
  * matrix as a referenced object.
  *
  * The literal formulation (array_min over K struct(dist, cid) entries,
  * each with a dim-element CreateArray of centroid literals) builds a
  * K×dim expression tree — the same plan-explosion wall
  * [[HyperplaneBandKeys]] documents for LSH planes. At the fixed gate
  * K = 10 that is harmless; at SemDeDup-remedy K (hundreds to thousands —
  * the knob that keeps q119's Σ|cluster|² pair scan linear in the corpus)
  * it blows past the codegen method-size limit and falls back to a
  * 30k-node interpreted tree. Here the matrix rides along as task-binary
  * data (K×dim doubles) and the argmin is a tight primitive loop behind
  * one static-shaped call.
  *
  * Arithmetic is IDENTICAL to the literal form — d = |x|² − 2·x·c + |c|²
  * with the dot in sequential order and |c|² pre-summed left-to-right —
  * and every operand is an integer-valued double far below 2⁵³
  * (quantized components ≤ 1e6, 64-dim sums ≤ 6.4e13), so the distances
  * are EXACT integers either way: swapping the formulations cannot move
  * any oracle by even an ulp. Ties prefer the smaller cid, matching
  * array_min's struct ordering (d first, then c). */
case class NearestCentroid(
    child: Expression,
    cids: Array[Long],
    centroids: Array[Array[Double]]) extends UnaryExpression {
  require(cids.length == centroids.length && cids.nonEmpty, "empty or misaligned centroid model")

  // |c|² per centroid, summed left-to-right exactly like the literal form's
  // qc.map(v => v*v).sum — computed once per expression instance
  private lazy val centroidSq: Array[Double] = centroids.map(_.map(v => v * v).sum)

  override def dataType: DataType =
    StructType(Seq(StructField("d", DoubleType, nullable = false), StructField("c", LongType, nullable = false)))

  def evalVec(input: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val dim = input.numElements()
    val x   = new Array[Double](dim)
    var i   = 0
    while (i < dim) { x(i) = input.getDouble(i); i += 1 }
    var sqx = 0.0
    i = 0
    while (i < dim) { sqx += x(i) * x(i); i += 1 }
    var bestD = Double.PositiveInfinity
    var bestC = Long.MaxValue
    var k     = 0
    while (k < centroids.length) {
      val c   = centroids(k)
      val n   = math.min(dim, c.length)
      var dot = 0.0
      var j   = 0
      while (j < n) { dot += x(j) * c(j); j += 1 }
      val d = sqx - 2.0 * dot + centroidSq(k)
      if (d < bestD || (d == bestD && cids(k) < bestC)) { bestD = d; bestC = cids(k) }
      k += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](bestD, bestC))
  }

  override def nullSafeEval(input: Any): Any = evalVec(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the expression instance (with its matrix) becomes a task-binary
    // reference object; generated code pays one virtual call per row
    val ref = ctx.addReferenceObj("nearestCentroid", this, classOf[NearestCentroid].getName)
    defineCodeGen(ctx, ev, c => s"$ref.evalVec($c)")
  }

  // Array fields make the case-class equals/hashCode REFERENCE-based:
  // semantically identical instances built separately would never compare
  // equal, defeating Catalyst canonicalization / subexpression elimination
  // / exchange reuse for any plan carrying two independently-constructed
  // copies of the same model. Compare and hash by CONTENT instead.
  override def equals(other: Any): Boolean = other match {
    case o: NearestCentroid =>
      child == o.child &&
      java.util.Arrays.equals(cids, o.cids) &&
      centroids.length == o.centroids.length &&
      centroids.indices.forall(i => java.util.Arrays.equals(centroids(i), o.centroids(i)))
    case _ => false
  }
  override def hashCode(): Int = {
    var h = child.hashCode()
    h = 31 * h + java.util.Arrays.hashCode(cids)
    centroids.foreach(row => h = 31 * h + java.util.Arrays.hashCode(row))
    h
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object VectorExpressions {
  /** Codegen'd sequential-order dot product of two ARRAY<DOUBLE> columns. */
  def dotProduct(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd banded hyperplane-LSH band keys of an ARRAY<DOUBLE> column. */
  def hyperplaneBandKeys(v: Column, bits: Int, bands: Int): Column =
    GraftBridge.column(HyperplaneBandKeys(GraftBridge.expression(v), bits, bands))

  /** Codegen'd k-means assignment argmin over a driver-resident centroid
    * model — struct(d, c) per vector. */
  def nearestCentroid(v: Column, model: Seq[(Long, Array[Double])]): Column =
    GraftBridge.column(NearestCentroid(
      GraftBridge.expression(v),
      model.map(_._1).toArray,
      model.map(_._2).toArray))
}
