package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection
}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Native as-of join — rung (c) of the custom-operator ladder: a custom
  * `LogicalPlan` + `SparkStrategy` + physical `SparkPlan`, for the one
  * whole-operator semantic Spark's relational algebra cannot express as a
  * single operator (q28 composes it from union + running window; DuckDB
  * ships it as `ASOF JOIN`).
  *
  * Semantics (left as-of join): for each left row (k, t), attach the right
  * row with the greatest rt ≤ t among rows with the same key; nulls when no
  * right row precedes. Right side must be unique per (key, rt) for
  * determinism — same contract as the compositional q28.
  *
  * Physical shape:
  *  - requiredChildDistribution co-partitions both sides on the key
  *    (EnsureRequirements inserts compatible hash exchanges exactly as it
  *    does for sort-merge join);
  *  - requiredChildOrdering sorts each side by (key, time);
  *  - execute() is then a single forward-only per-partition merge: O(|L|+|R|)
  *    with O(1) state (ONE candidate row), versus the window plan's
  *    union → sort over |L|+|R| null-padded wide rows → running `last`.
  *
  * Measured honestly (1M events, local[32], warm): native ≈ 0.4 s vs
  * window ≈ 0.25 s — Spark's whole-stage-codegen'd window wins on constant
  * factors at skinny-row scale (this exec is iterator-based, no codegen).
  * The native operator's advantage is STRUCTURAL, not constant-factor:
  * each side sorts alone at its own width (the union sorts |L|+|R| rows
  * padded to the combined width — with wide payloads that is the
  * difference between spilling and not), state is one row instead of a
  * window frame, and left columns stream through untouched. It is also
  * the extension-point demonstration: the same skeleton hosts any
  * ordered-merge operator (range join, interval align, next-event join).
  *
  * v1 contract: key and time expressions must be LongType on both sides
  * (the API derives epoch-micros upstream — `unix_micros` — which is also
  * what makes ordering deterministic); the comparison loop then runs on
  * primitive longs instead of a generic row ordering.
  */
object AsOfJoinNative {

  /** Logical node. Built from ANALYZED child plans with resolved
    * attributes, so no analyzer rule is needed; the strategy below is the
    * only extension point the session must know about. */
  final case class AsOfJoinPlan(
      left: LogicalPlan,
      right: LogicalPlan,
      leftKey: Expression,
      rightKey: Expression,
      leftTime: Expression,
      rightTime: Expression
  ) extends BinaryNode {
    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan,
        newRight: LogicalPlan
    ): AsOfJoinPlan = copy(left = newLeft, right = newRight)
  }

  /** Planner strategy: one physical translation, children planned later. */
  object AsOfJoinStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
        AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
      case _ => Nil
    }
  }

  final case class AsOfJoinExec(
      left: SparkPlan,
      right: SparkPlan,
      leftKey: Expression,
      rightKey: Expression,
      leftTime: Expression,
      rightTime: Expression
  ) extends BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))

    /** Co-partition both children on their key — EnsureRequirements aligns
      * the two hash exchanges (same mechanism as sort-merge join). */
    override def requiredChildDistribution: Seq[Distribution] =
      Seq(ClusteredDistribution(leftKey :: Nil), ClusteredDistribution(rightKey :: Nil))

    /** Each side sorted by (key, time) — the merge is then forward-only. */
    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(
        Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
        Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending))
      )

    /** Left rows stream through in place: their partitioning survives. */
    override def outputPartitioning: Partitioning = left.outputPartitioning

    /** Ordinal of a (resolved, attribute-only) key/time column — the merge
      * then reads primitive longs straight off the rows instead of paying
      * an interpreted projection per row (measured 5× cpu at 1M rows). */
    private def ordinal(attrs: Seq[Attribute], e: Expression, side: String): Int = {
      val a = e match {
        case a: Attribute => a
        case other        => sys.error(s"as-of $side key/time must be a resolved column, got: $other")
      }
      val i = attrs.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"as-of $side column ${a.name} not found in child output")
      i
    }

    override protected def doExecute(): RDD[InternalRow] = {
      val lkOrd  = ordinal(left.output, leftKey, "left")
      val ltOrd  = ordinal(left.output, leftTime, "left")
      val rkOrd  = ordinal(right.output, rightKey, "right")
      val rtOrd  = ordinal(right.output, rightTime, "right")
      val rWidth = right.output.size
      val outputAttrs = output
      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        val nullRow = new GenericInternalRow(rWidth)
        val joined  = new JoinedRow
        // Contract: SparkPlan.execute() rows must be castable to UnsafeRow
        // by generic consumers (getByteArrayRdd on a bare collect(),
        // UnsafeRowSerializer under a shuffle, UnsafeExternalRowSorter).
        // JoinedRow is not one — project every emitted row, same as
        // SortMergeJoinExec's createResultProjection.
        val resultProj = UnsafeProjection.create(outputAttrs, outputAttrs)
        // one-row lookahead on the right + the current best candidate
        var rHead: InternalRow = null
        var rHeadKey           = 0L
        var rHeadTime          = 0L
        var rHeadNull          = false
        var cand: InternalRow  = null
        var candKey            = 0L
        new Iterator[InternalRow] {
          override def hasNext: Boolean = lIter.hasNext
          override def next(): InternalRow = {
            val l = lIter.next()
            if (l.isNullAt(lkOrd) || l.isNullAt(ltOrd)) {
              resultProj(joined(l, nullRow)) // null key/time never matches
            } else {
              val lk = l.getLong(lkOrd)
              val lt = l.getLong(ltOrd)
              var advance = true
              while (advance && (rHead != null || rIter.hasNext)) {
                if (rHead == null) {
                  rHead = rIter.next()
                  rHeadNull = rHead.isNullAt(rkOrd) || rHead.isNullAt(rtOrd)
                  if (!rHeadNull) { rHeadKey = rHead.getLong(rkOrd); rHeadTime = rHead.getLong(rtOrd) }
                }
                if (rHeadNull) {
                  rHead = null // skip unmatched-able right rows
                } else if (rHeadKey < lk || (rHeadKey == lk && rHeadTime <= lt)) {
                  // consume: this row is the best candidate so far for lk
                  cand = rHead.copy()
                  candKey = rHeadKey
                  rHead = null
                } else {
                  advance = false
                }
              }
              resultProj(if (cand != null && candKey == lk) joined(l, cand) else joined(l, nullRow))
            }
          }
        }
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan,
        newRight: SparkPlan
    ): AsOfJoinExec = copy(left = newLeft, right = newRight)
  }

  /** Idempotently make the strategy available on a live session — works on
    * ANY session (the driver's harness included), no builder-time
    * extension wiring required. */
  def ensureStrategy(spark: SparkSession): Unit =
    // check-then-append under a lock: concurrent asof() calls on one session
    // raced here and could register the strategy twice (harmless for
    // planning, but the strategy list grew unboundedly)
    spark.experimental.synchronized {
      if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
        spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }

  /** Public API: left as-of right on `key`, matching the greatest
    * `rightTime` ≤ `leftTime`. Key and time columns must be LongType.
    * Right-side column names must not collide with the left's (rename
    * upstream — also what breaks self-join attribute-id collisions). */
  def asof(
      left: DataFrame,
      right: DataFrame,
      key: String,
      rightKey: String,
      leftTime: String,
      rightTime: String
  ): DataFrame = {
    val spark = left.sparkSession
    ensureStrategy(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(sys.error(s"as-of column '$n' not found"))
    val (lk, lt) = (attr(lPlan, key), attr(lPlan, leftTime))
    val (rk, rt) = (attr(rPlan, rightKey), attr(rPlan, rightTime))
    require(
      Seq(lk, lt, rk, rt).forall(_.dataType == LongType),
      "asof v1 requires LongType key/time columns on both sides (derive epoch micros upstream)"
    )
    val dupNames = lPlan.output.map(_.name).toSet.intersect(rPlan.output.map(_.name).toSet)
    require(dupNames.isEmpty, s"rename right-side columns colliding with left: ${dupNames.mkString(", ")}")
    val dupIds = lPlan.outputSet.intersect(rPlan.outputSet)
    require(dupIds.isEmpty, "self-join attribute collision: re-alias the right side (e.g. .toDF(...)) first")
    org.apache.spark.sql.GraftBridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan, lk, rk, lt, rt))
  }
}
