package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Eager, Num, QueryModule, Tables}

/** Relational analytics surface over the TPC-H-ish star schema: scan,
  * filter/pushdown, hash aggregate, broadcast + shuffle joins, semi/anti
  * joins, window functions, rollup, pivot, set operations, top-k.
  *
  * Scale notes (designed for 1000-executor / 100 TB, tested at sf0.1):
  *  - `region`/`nation` are bounded dimensions (5/25 rows at any SF) —
  *    always broadcast explicitly.
  *  - `customer`/`supplier`/`orders` scale with SF — joined without hints so
  *    AQE picks broadcast at small SF and shuffled hash/sort-merge at scale,
  *    with skew-join splitting enabled.
  *  - Aggregates are partial (map-side combine) by construction; filters and
  *    column pruning reach the parquet scan (verified via explain in tests).
  */
object Analytics extends QueryModule {

  import Num._

  private val ship9802 = lit("1998-09-02").cast(TimestampType)

  /** TPC-H Q1-style pricing summary: the canonical wide-scan partial-agg. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li        = Tables.lineitem(s, dir)
    val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge    = discPrice * (lit(1.0) + col("l_tax"))
    li.filter(col("l_shipdate") <= ship9802)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(discPrice, dec6).as("sum_disc_price"),
        dsum(charge, dec6).as("sum_charge"),
        count(lit(1)).as("count_order")
      )
  }

  /** TPC-H Q6-style: predicate-pushdown filter + single aggregate. */
  def filterRevenue(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
          col("l_discount") >= lit(0.04) && col("l_discount") <= lit(0.07) &&
          col("l_quantity") < lit(24.0)
      )
      .agg(
        dsum(col("l_extendedprice") * col("l_discount"), dec6).as("revenue"),
        count(lit(1)).as("n_rows")
      )

  /** TPC-H Q3-style: 3-way join, aggregate, deterministic top-10. */
  def topOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1996-06-01").cast(TimestampType))
    val li   = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1996-06-01").cast(TimestampType))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), dec6).as("revenue"))
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("revenue")
      )
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q4-style: EXISTS via left-semi join. */
  def orderPriority(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables
      .orders(s, dir)
      .filter(
        col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1996-04-01").cast(TimestampType)
      )
    val bigLines = Tables.lineitem(s, dir).filter(col("l_quantity") > 45).select("l_orderkey")
    ord
      .join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q5-style: 6-way join with broadcast dimensions. */
  def regionRevenue(s: SparkSession, dir: String): DataFrame = {
    val reg  = broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA"))
    val nat  = broadcast(Tables.nation(s, dir))
    val cust = Tables.customer(s, dir)
    val supp = Tables.supplier(s, dir)
    val ord = Tables
      .orders(s, dir)
      .filter(
        col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1997-01-01").cast(TimestampType)
      )
    val li = Tables.lineitem(s, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), dec6).as("revenue"))
  }

  /** Window functions: top-3 customers by spend within each market segment. */
  def windowTopCustomers(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables
      .orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "c_custkey")
      .agg(dsum(col("o_totalprice")).as("total_spend"))
    val w = Window.partitionBy("c_mktsegment").orderBy(col("total_spend").desc, col("c_custkey"))
    spend.withColumn("rnk", row_number().over(w).cast(LongType)).filter(col("rnk") <= 3)
  }

  /** Anti join: customers that never placed an order, counted per nation. */
  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .join(Tables.orders(s, dir).select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"))

  /** ROLLUP over region/nation of customer account balances. */
  def rollupAcctbal(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select("c_nationkey", "c_acctbal")
    val nat  = Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey")
    val reg  = Tables.region(s, dir).select("r_regionkey", "r_name")
    cust
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region_name"), col("n_name").as("nation_name"), col("c_acctbal"))
      .createOrReplaceTempView("graft_rollup_src")
    // SQL path: Dataset.rollup trips Spark's ambiguous-self-join detector on
    // the Expand node's duplicated grouping attributes (Spark 4.1); the SQL
    // planner builds the identical plan without Dataset column tagging.
    s.sql(
      """SELECT region_name, nation_name,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal,
        |  count(1) AS n_customers
        |FROM graft_rollup_src
        |GROUP BY ROLLUP(region_name, nation_name)""".stripMargin
    )
  }

  /** GROUPING SETS beyond rollup/cube (q24): the set mix ((rf, ls), (ls),
    * ()) is expressible as neither ROLLUP(rf, ls) — which emits (rf), not
    * (ls) — nor CUBE (4 sets), closing the registry's one missing grouping
    * shape. One Expand node fans each input row to its 3 grouping sets and
    * the partial agg combines map-side, so the shuffle carries ≤ 3·|groups|
    * skinny rows regardless of corpus size — same scale shape as the
    * rollup. gid is derived from grouping() bits arithmetically (not
    * grouping_id()) so the Spark and DuckDB renderings are trivially the
    * same expression. */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables
      .lineitem(s, dir)
      .select("l_returnflag", "l_linestatus", "l_quantity")
      .createOrReplaceTempView("graft_gsets_src")
    // SQL path for the same reason as the rollup above: the Expand node's
    // duplicated grouping attributes trip Dataset column tagging.
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(1) AS n_rows
        |FROM graft_gsets_src
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin
    )
  }

  /** Exact multi-distinct aggregation in one pass (expand-based). */
  def distinctStats(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows")
      )

  /** Pivot: order-priority class counts per line status. */
  def pivotPriority(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .withColumn(
        "prio_class",
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit("high")).otherwise(lit("low"))
      )
      .groupBy("l_linestatus")
      .pivot("prio_class", Seq("high", "low"))
      .agg(count(lit(1)))

  /** Set operations: INTERSECT / EXCEPT between order-status key sets. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val f   = ord.filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct()
    val o   = ord.filter(col("o_orderstatus") === "O").select(col("o_custkey")).distinct()
    val both    = f.intersect(o).agg(count(lit(1)).as("n")).select(lit("f_and_o").as("set_name"), col("n"))
    val fNotO   = f.except(o).agg(count(lit(1)).as("n")).select(lit("f_not_o").as("set_name"), col("n"))
    val eitherS = f.union(o).distinct().agg(count(lit(1)).as("n")).select(lit("f_or_o").as("set_name"), col("n"))
    both.union(fNotO).union(eitherS)
  }

  /** Scalar-subquery pattern: customers above their nation's mean balance. */
  def aboveNationAvg(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val natAvg = cust
      .groupBy(col("c_nationkey").as("nk"))
      .agg(davg(col("c_acctbal")).as("nat_avg"))
    cust
      .join(natAvg, col("c_nationkey") === col("nk"))
      .filter(col("c_acctbal") > col("nat_avg"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_above"))
  }

  /** CUBE over order status/priority (SQL path, as with rollup). */
  def cubeOrders(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))
      .createOrReplaceTempView("graft_cube_src")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  count(1) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM graft_cube_src
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin
    )
  }

  /** Approximate distinct-count sketch (HyperLogLog++), made oracle-checkable
    * by pairing: DuckDB cannot reproduce Spark's HLL bit-for-bit, but it CAN
    * reproduce the exact distinct counts — so the row carries the exact
    * counts (hash-matched against DuckDB) plus 0/1 flags asserting the
    * sketch's relative error against those exact counts stays within 3·rsd
    * (rsd 0.02 → bound 0.06); the oracle expects the flags to be 1. The raw
    * sketch values are additionally exposed via [[approxDistinctRaw]] for
    * the bounded-error spec. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    approxDistinctRaw(s, dir)
      .select(
        col("n_parts"),
        col("n_orders"),
        col("n_rows"),
        // n = 0 only on an empty corpus: no estimate to judge -> null flag
        // (ANSI division would throw; at any real scale n > 0 and the
        // branch is the original expression bit-for-bit)
        when(
          col("n_parts") > 0,
          (abs(col("approx_parts") - col("n_parts")).cast(DoubleType) / col("n_parts") <= 0.06)
            .cast(LongType)
        ).as("parts_ok"),
        when(
          col("n_orders") > 0,
          (abs(col("approx_orders") - col("n_orders")).cast(DoubleType) / col("n_orders") <= 0.06)
            .cast(LongType)
        ).as("orders_ok")
      )

  /** The sketch next to the exact counts, unprojected (spec surface).
    *
    * Deliberately NOT one aggregate: mixing approx_count_distinct with two
    * exact countDistincts makes Spark's multi-distinct rewrite key the
    * partial aggregate by (l_partkey, l_orderkey, gid) and carry a full
    * ~800-register HLL state PER DISTINCT KEY GROUP — measured 810 cpu-s
    * at the 10× corpus vs 2.3 s for these three skinny passes (the sketch
    * pass is register-merge partial aggs; each exact pass shuffles one
    * long per distinct value; the crossJoins fold 1-row aggregates). */
  def approxDistinctRaw(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val sk = li.agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
      count(lit(1)).as("n_rows")
    )
    val p = li.select("l_partkey").distinct().agg(count(lit(1)).as("n_parts"))
    val o = li.select("l_orderkey").distinct().agg(count(lit(1)).as("n_orders"))
    sk.crossJoin(p).crossJoin(o)
  }

  /** Analytic window functions: lag + running sum per customer order
    * history (total ordering pinned by (date, orderkey) for determinism). */
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables
      .orders(s, dir)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        sum(col("o_totalprice").cast(dec4))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DoubleType).as("running_total"),
        row_number().over(w).cast(LongType).as("order_seq")
      )
  }

  /** Unpivot (melt): per-returnflag measures into (measure, value) rows. */
  def unpivotMeasures(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables
      .lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(dsum(col("l_quantity")).as("sum_qty"), dsum(col("l_extendedprice")).as("sum_price"))
    agg.unpivot(Array(col("l_returnflag")), Array(col("sum_qty"), col("sum_price")), "measure", "value")
  }

  /** Two-phase salted aggregation — the skew-mitigation pattern: shard hot
    * keys across 16 salts for the partial aggregate, then combine. Results
    * are identical to the direct group-by (which is the oracle). */
  def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    val salted = Tables
      .lineitem(s, dir)
      .withColumn("salt", pmod(hash(col("l_orderkey")), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(
        sum(col("l_quantity").cast(dec4)).as("partial_qty"),
        count(lit(1)).as("partial_n")
      )
    salted
      .groupBy("l_returnflag")
      .agg(
        sum(col("partial_qty")).cast(DoubleType).as("sum_qty"),
        sum(col("partial_n")).as("n_rows")
      )
  }

  /** Salt shard count for [[saltedJoin]] — like q17's 16-way agg salting:
    * enough shards to split a hot key across every core, small enough that
    * the replicated dim stays tiny (|dim|·16 rows). */
  val JoinSalts = 16

  /** Salted skew JOIN (q78) — the join-side counterpart of q17's salted
    * aggregation. A real corpus join (doc → domain metadata, event → user
    * profile) is routinely skewed: one hot key draws most of the fact rows,
    * so hash-partitioning the join key funnels them into ONE reducer. Here
    * ~70% of lineitem rows are redirected to supplier 1 to synthesize that
    * skew, then the join is salted:
    *  - fact side: salt = pmod(hash(row id), 16) — deterministic spread of
    *    the hot key across 16 shards (engine-internal; the RESULT is
    *    salt-invariant, which is exactly what the oracle checks);
    *  - dim side: each row replicated 16× (explode over the salt range);
    *  - join on (key, salt) — the hot key's rows now land on 16 reducers.
    * The dim side carries a shuffle_hash hint: at test scale Spark would
    * broadcast the 100-row dim (making salting moot — broadcast IS the
    * first-choice skew fix); the hint stands in for the 100 TB case where
    * the dim exceeds the broadcast threshold and the shuffle is real. AQE
    * skew-join splits oversized partitions post-hoc the same way; this is
    * the explicit, planner-independent form. */
  def saltedJoin(s: SparkSession, dir: String): DataFrame = {
    val big = Tables
      .lineitem(s, dir)
      .withColumn(
        "join_key",
        when(col("l_orderkey") % 10 < 7, lit(1L)).otherwise(col("l_suppkey"))
      )
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(JoinSalts)))
    val dim = Tables
      .supplier(s, dir)
      .select(col("s_suppkey").as("join_key"), col("s_name"))
      .withColumn("salt", explode(sequence(lit(0), lit(JoinSalts - 1))))
    big
      .join(dim.hint("shuffle_hash"), Seq("join_key", "salt"))
      .groupBy("s_name")
      .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n_items"))
  }

  /** False-positive rate for [[bloomJoin]]'s runtime filter: 1% keeps the
    * filter at ~9.6 bits/key (1M keys ≈ 1.2 MB shipped with the task
    * binary) while letting at most 1% of non-matching fact rows through to
    * the exact join. */
  val BloomFpp = 0.01

  /** Bloom-pruned join (q89) — the explicit runtime-filter pattern. A
    * selective dim predicate (urgent finished orders) means most fact rows
    * (lineitem) will NOT survive the join, yet a shuffled join still pays
    * to exchange every fact row first. The fix that matters at 100 TB:
    * build a Bloom filter over the ~selective~ dim keys (driver-side, a
    * mergeable tree-aggregate over the small side), ship it to every fact
    * task, and drop non-candidate rows MAP-SIDE, before the exchange — the
    * fact shuffle shrinks by ≈ the join selectivity.
    *
    * Exactness: a Bloom "no" is never wrong, so no true match is lost; the
    * ≤1% false "yes" rows are dropped by the exact join that follows — the
    * composed result is identical to the plain join (the oracle).
    *
    * Spark's own `InjectRuntimeFilter` applies this rewrite when stats
    * warrant; this is the explicit, planner-independent form (and the
    * [[graft.plans.BloomMightContain]] probe is codegen'd, so the fact
    * scan→filter stage stays in WholeStageCodegen). The dim side carries a
    * shuffle_hash hint for the same reason q78's does: at test scale Spark
    * would broadcast the dim — broadcast join IS the degenerate runtime
    * filter — and the hint stands in for the 100 TB case where the dim
    * exceeds the broadcast threshold. Sizing: bits scale linearly with dim
    * keys (1.2 MB per 10⁶ at 1%); beyond ~10⁸ filtered dim keys the bloom
    * itself stops being shippable and the right tool is a shuffled
    * semi-join on the skinny key column instead. */
  def bloomJoin(s: SparkSession, dir: String): DataFrame = {
    // filtered dim keys, materialized once — consumed three times: count
    // (bloom sizing), bloom build, and the exact join
    val dimKeys = Tables
      .orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
      .transform(Eager.materialize(_, "analytics.bloom.keys"))
    val nKeys = Eager.count(dimKeys, "analytics.bloom.keys")
    val factCols = Tables
      .lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"), col("l_returnflag"))
    // Spark's stat.bloomFilter aggregate NPEs on a zero-row build side
    // (null buffer in the merge); an empty dim admits nothing anyway, so
    // the runtime filter degenerates to false (EmptyCorpusSpec)
    val fact =
      if (nKeys == 0) factCols.filter(lit(false))
      else {
        val bf = Eager.phase("analytics.bloom.filter")(dimKeys.stat.bloomFilter("o_orderkey", nKeys, BloomFpp))
        factCols.filter(graft.plans.BloomExpressions.mightContain(bf, col("l_orderkey")))
      }
    fact
      .join(dimKeys.hint("shuffle_hash"), fact("l_orderkey") === dimKeys("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), dec6).as("revenue")
      )
  }

  /** Referential-integrity audit (q99) — q98's contract-check sibling for
    * the relational side (dbt `relationships` test): for each FK edge of
    * the star schema, count child rows whose key has no parent. A non-zero
    * orphan count after an ingest is the first signal a partial load or
    * out-of-order snapshot corrupted the warehouse.
    *
    * Shape: each edge is a LEFT ANTI join on the bare key columns — both
    * sides pruned to single-column scans, so at 100 TB the exchanges carry
    * one long per row; bounded dims (nation) broadcast. The per-edge
    * results are 1-row aggregates unioned driver-free. */
  def fkIntegrity(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String, parent: DataFrame, pkey: String): DataFrame = {
      val c = child.select(col(key))
      val orphans = c.join(parent.select(col(pkey)), c(key) === col(pkey), "left_anti")
      c.agg(count(lit(1)).as("n_rows"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(
          lit(name).as("fk"),
          col("n_rows"),
          col("n_orphans"),
          // n_rows = 0 only on an empty corpus: no rows -> null fraction
          // (ANSI division throws); real scales take the original expression
          when(col("n_rows") > 0, round(col("n_orphans").cast("double") / col("n_rows"), 6))
            .as("orphan_frac")
        )
    }
    val li = Tables.lineitem(s, dir)
    val or = Tables.orders(s, dir)
    val cu = Tables.customer(s, dir)
    Seq(
      edge("lineitem.l_orderkey->orders", li, "l_orderkey", or, "o_orderkey"),
      edge("lineitem.l_suppkey->supplier", li, "l_suppkey", Tables.supplier(s, dir), "s_suppkey"),
      edge("orders.o_custkey->customer", or, "o_custkey", cu, "c_custkey"),
      edge("customer.c_nationkey->nation", cu, "c_nationkey", Tables.nation(s, dir), "n_nationkey")
    ).reduce(_.unionByName(_))
  }

  /** Bits per dimension for [[zorderLayout]] (two 16-bit dims → 32-bit z). */
  val ZBits = 16

  /** Bucket shift for [[zorderLayout]]: zval >> 20 → ≤ 4096 file buckets. */
  val ZBucketShift = 20

  /** Z-order layout clustering (q87) — the write-side data-layout operator
    * (Delta/Iceberg `OPTIMIZE ZORDER BY` analog): interleave the bits of
    * two scan dimensions (user, event-hour) into one z-value, bucket rows
    * by its prefix, and report per-bucket extent stats. Rows that are close
    * in EITHER dimension land in the same bucket, so per-file min/max
    * column stats prune scans filtered on user AND/OR time — the
    * multi-dimensional locality a single-column sort cannot give.
    *
    * At 100 TB the operator's output is the repartitionByRange(zval) sort
    * key in front of the parquet write; here the registered query reports
    * the per-bucket (count, d1/d2 extents) that a layout optimizer
    * inspects. Everything is integer bit arithmetic — identical in both
    * engines; the narrow z computation stays in one codegen pass and the
    * only exchange is the per-bucket rollup. */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    def interleave(d1: Column, d2: Column): Column =
      (0 until ZBits)
        .map { i =>
          shiftright(d1, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
            shiftright(d2, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
        }
        .reduce(_ + _)
    val ev = Tables
      .events(s, dir)
      .select(
        pmod(col("user_id"), lit(1L << ZBits)).as("d1"),
        pmod(call_function("div", unix_micros(col("ts")), lit(3600000000L)), lit(1L << ZBits)).as("d2")
      )
    ev.select(col("d1"), col("d2"), shiftright(interleave(col("d1"), col("d2")), ZBucketShift).as("bucket"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("d1")).as("d1_min"),
        max(col("d1")).as("d1_max"),
        min(col("d2")).as("d2_min"),
        max(col("d2")).as("d2_max")
      )
  }

  /** TPC-H Q2-style correlated aggregate: each nation's top-balance
    * customer, matched by joining back on the correlated max. */
  def argmaxCustomer(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val maxBal = cust
      .groupBy(col("c_nationkey").as("nk"))
      .agg(max(col("c_acctbal")).as("max_bal"))
    cust
      .join(maxBal, col("c_nationkey") === col("nk") && col("c_acctbal") === col("max_bal"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        min(col("c_custkey")).as("custkey"), // deterministic if max ties
        max(col("c_acctbal")).as("acctbal")
      )
  }

  /** TPC-H Q19-style OR-of-ANDs predicate over a join — exercises complex
    * disjunctive pushdown and join filtering. */
  def orOfAnds(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val pt = Tables.part(s, dir)
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) && col("l_quantity") >= 10) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) && col("l_quantity") < 20) ||
          (col("p_size") > 40 && col("l_quantity") >= 40)
      )
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), dec6).as("revenue"),
        count(lit(1)).as("n_rows")
      )
  }

  /** TPC-H Q2-style correlated scalar subquery: the cheapest lineitem offer
    * per small part. Written in SQL so Catalyst's subquery decorrelation
    * (RewriteCorrelatedScalarSubquery → aggregate + join) plans it — the
    * path a hand-built join would bypass. Ties collapse deterministically
    * (min suppkey, offer count). */
  def minCostOffer(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("graft_q63_part")
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_q63_lineitem")
    s.sql(
      """SELECT p_partkey, min(l_suppkey) AS suppkey, min(l_extendedprice) AS min_price,
        |  count(1) AS n_offers
        |FROM graft_q63_part JOIN graft_q63_lineitem ON p_partkey = l_partkey
        |WHERE p_size <= 3
        |  AND l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                         FROM graft_q63_lineitem l2 WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_partkey""".stripMargin
    )
  }

  /** TPC-H Q11-style GROUP BY … HAVING against a scalar subquery: suppliers
    * whose lineitem value exceeds 1.05× the average supplier share. The
    * threshold is count-normalized so the predicate stays selective at any
    * SF; all double sums follow the decimal-sum pattern (see [[Num]]). */
  def importantSuppliers(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_q64_lineitem")
    Tables.supplier(s, dir).createOrReplaceTempView("graft_q64_supplier")
    s.sql(
      """SELECT l_suppkey,
        |  CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM graft_q64_lineitem
        |GROUP BY l_suppkey
        |HAVING CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) >
        |  (SELECT CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE)
        |   FROM graft_q64_lineitem) * 1.05 /
        |  (SELECT count(1) FROM graft_q64_supplier)""".stripMargin
    )
  }

  /** Bucket count for [[bucketedJoin]] — test-scale; a production build
    * sizes it to cluster parallelism (buckets become the join tasks). */
  val JoinBuckets = 8

  /** q124: co-bucketed exchange-free fact join — the storage-layout answer
    * to the biggest shuffle in the warehouse. orders and lineitem are
    * written ONCE as bucketed tables on the order key
    * ([[graft.sources.Layout.writeBucketed]]); every subsequent join on
    * that key then reads co-located buckets and skips BOTH shuffles — the
    * plan pin asserts the sort-merge join has NO exchange under it. At
    * 100 TB this is the difference between re-shuffling two fact tables
    * per query and paying the layout cost once at ingest (the same
    * pre-shuffled-state trick q106's persisted dedup index uses). The
    * one-time build is part of the query here so the gate exercises it;
    * production amortizes it across every downstream join.
    *
    * The `merge` hint keeps the demonstration honest at gate SF (AQE
    * would otherwise broadcast the small side and hide the layout win);
    * at production SF sort-merge is what the planner picks anyway. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Layout
    Eager.phase("analytics.bucketed.write") {
      Layout.resetTable(s, "g124_orders")
      Layout.resetTable(s, "g124_lineitem")
      Layout.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"), "g124_orders", "o_orderkey", JoinBuckets)
      Layout.writeBucketed(
        Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice", "l_discount"),
        "g124_lineitem", "l_orderkey", JoinBuckets)
    }
    s.table("g124_orders")
      .hint("merge")
      .join(s.table("g124_lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), dec6).as("revenue")
      )
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q124_bucketed_join"    -> (bucketedJoin _),
    "q18_argmax"            -> (argmaxCustomer _),
    "q19_or_of_ands"        -> (orOfAnds _),
    "q15_window_funcs"      -> (windowFuncs _),
    "q16_unpivot"           -> (unpivotMeasures _),
    "q17_salted_agg"        -> (saltedAgg _),
    "q78_salted_join"       -> (saltedJoin _),
    "q87_zorder_layout"     -> (zorderLayout _),
    "q89_bloom_join"        -> (bloomJoin _),
    "q99_fk_integrity"      -> (fkIntegrity _),
    "q13_cube"              -> (cubeOrders _),
    "q14_approx_distinct"   -> (approxDistinct _),
    "q01_pricing_summary"   -> (pricingSummary _),
    "q02_filter_revenue"    -> (filterRevenue _),
    "q03_top_orders"        -> (topOrders _),
    "q04_order_priority"    -> (orderPriority _),
    "q05_region_revenue"    -> (regionRevenue _),
    "q06_window_topk"       -> (windowTopCustomers _),
    "q07_anti_join"         -> (customersWithoutOrders _),
    "q08_rollup"            -> (rollupAcctbal _),
    "q24_grouping_sets"     -> (groupingSets _),
    "q09_distinct_stats"    -> (distinctStats _),
    "q10_pivot"             -> (pivotPriority _),
    "q11_set_ops"           -> (setOps _),
    "q12_scalar_subquery"   -> (aboveNationAvg _),
    "q63_min_cost_offer"    -> (minCostOffer _),
    "q64_important_suppliers" -> (importantSuppliers _)
  )

  val oracles: Map[String, String] = Map(
    "q124_bucketed_join" ->
      s"""SELECT o_orderpriority, count(*) AS n_items,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1""".stripMargin,
    "q63_min_cost_offer" ->
      """SELECT p_partkey, min(l_suppkey) AS suppkey, min(l_extendedprice) AS min_price,
        |  CAST(count(*) AS BIGINT) AS n_offers
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |WHERE p_size <= 3
        |  AND l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                         FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_partkey""".stripMargin,
    "q64_important_suppliers" ->
      s"""SELECT l_suppkey, ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 6)} AS total_value
         |FROM lineitem
         |GROUP BY l_suppkey
         |HAVING ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 6)} >
         |  (SELECT ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 6)} FROM lineitem) * 1.05 /
         |  (SELECT count(*) FROM supplier)""".stripMargin,
    "q14_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(*) AS n_rows,
        |  CAST(1 AS BIGINT) AS parts_ok,
        |  CAST(1 AS BIGINT) AS orders_ok
        |FROM lineitem""".stripMargin,
    "q18_argmax" ->
      """SELECT n_name, min(c_custkey) AS custkey, max(c_acctbal) AS acctbal
        |FROM customer c
        |JOIN (SELECT c_nationkey AS nk, max(c_acctbal) AS max_bal FROM customer GROUP BY 1) m
        |  ON c.c_nationkey = m.nk AND c.c_acctbal = m.max_bal
        |JOIN nation ON c.c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q19_or_of_ands" ->
      s"""SELECT ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue, count(*) AS n_rows
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity < 20)
         |   OR (p_size > 40 AND l_quantity >= 40)""".stripMargin,
    "q15_window_funcs" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
        |  row_number() OVER w AS order_seq
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q16_unpivot" ->
      s"""WITH agg AS (
         |  SELECT l_returnflag, ${sqlDsum("l_quantity")} AS sum_qty,
         |    ${sqlDsum("l_extendedprice")} AS sum_price
         |  FROM lineitem GROUP BY l_returnflag
         |)
         |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
         |UNION ALL
         |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM agg""".stripMargin,
    "q17_salted_agg" ->
      s"""SELECT l_returnflag, ${sqlDsum("l_quantity")} AS sum_qty, count(*) AS n_rows
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q87_zorder_layout" -> {
      val zExpr = (0 until ZBits)
        .flatMap(i => Seq(s"(((d1 >> $i) & 1) << ${2 * i + 1})", s"(((d2 >> $i) & 1) << ${2 * i})"))
        .mkString(" + ")
      s"""WITH d AS (
         |  SELECT user_id % ${1L << ZBits} AS d1,
         |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % ${1L << ZBits} AS d2
         |  FROM events
         |)
         |SELECT ($zExpr) >> $ZBucketShift AS bucket,
         |  count(*) AS n_rows,
         |  min(d1) AS d1_min, max(d1) AS d1_max,
         |  min(d2) AS d2_min, max(d2) AS d2_max
         |FROM d GROUP BY 1""".stripMargin
    },
    "q78_salted_join" ->
      s"""SELECT s.s_name AS s_name, ${sqlDsum("l.l_extendedprice")} AS revenue,
         |  count(*) AS n_items
         |FROM (
         |  SELECT CASE WHEN l_orderkey % 10 < 7 THEN 1 ELSE l_suppkey END AS join_key,
         |         l_extendedprice
         |  FROM lineitem
         |) l JOIN supplier s ON l.join_key = s.s_suppkey
         |GROUP BY 1""".stripMargin,
    "q99_fk_integrity" ->
      Seq(
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey")
      ).map { case (name, child, key, parent, pkey) =>
        s"""SELECT '$name' AS fk, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pkey = c.$key)
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           |  round(CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pkey = c.$key)
           |             THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS orphan_frac
           |FROM $child c""".stripMargin
      }.mkString("\nUNION ALL\n"),
    "q89_bloom_join" ->
      s"""SELECT l_returnflag, count(*) AS n_items,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
         |GROUP BY l_returnflag""".stripMargin,
    "q13_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         |  ${sqlDsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlDsum("l_quantity")} AS sum_qty,
         |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
         |  ${sqlDsum("(l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)", 6)} AS sum_charge,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_revenue" ->
      s"""SELECT ${sqlDsum("l_extendedprice * l_discount", 6)} AS revenue, count(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount >= 0.04 AND l_discount <= 0.07 AND l_quantity < 24.0""".stripMargin,
    "q03_top_orders" ->
      s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
         |  AND l_shipdate  > TIMESTAMP '1996-06-01 00:00:00'
         |GROUP BY o_orderkey, o_orderdate
         |ORDER BY revenue DESC, o_orderkey
         |LIMIT 10""".stripMargin,
    "q04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority""".stripMargin,
    "q05_region_revenue" ->
      s"""SELECT n_name, ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation   ON s_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name""".stripMargin,
    "q06_window_topk" ->
      s"""SELECT c_mktsegment, c_custkey, total_spend, rnk FROM (
         |  SELECT c_mktsegment, c_custkey, total_spend,
         |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY total_spend DESC, c_custkey) AS rnk
         |  FROM (
         |    SELECT c_mktsegment, c_custkey, ${sqlDsum("o_totalprice")} AS total_spend
         |    FROM orders JOIN customer ON o_custkey = c_custkey
         |    GROUP BY c_mktsegment, c_custkey
         |  )
         |) WHERE rnk <= 3""".stripMargin,
    "q07_anti_join" ->
      """SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY n_name""".stripMargin,
    "q08_rollup" ->
      s"""SELECT r_name AS region_name, n_name AS nation_name,
         |  ${sqlDsum("c_acctbal")} AS sum_acctbal, count(*) AS n_customers
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q24_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
         |  ${sqlDsum("l_quantity")} AS sum_qty,
         |  count(*) AS n_rows
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin,
    "q09_distinct_stats" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_orderkey) AS n_orders, count(*) AS n_rows
        |FROM lineitem""".stripMargin,
    "q10_pivot" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_linestatus""".stripMargin,
    "q11_set_ops" ->
      """WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |     o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |SELECT 'f_and_o' AS set_name, count(*) AS n FROM (SELECT * FROM f INTERSECT SELECT * FROM o)
        |UNION ALL
        |SELECT 'f_not_o' AS set_name, count(*) AS n FROM (SELECT * FROM f EXCEPT SELECT * FROM o)
        |UNION ALL
        |SELECT 'f_or_o' AS set_name, count(*) AS n FROM (SELECT * FROM f UNION SELECT * FROM o)""".stripMargin,
    "q12_scalar_subquery" ->
      s"""SELECT c_nationkey, count(*) AS n_above
         |FROM customer c
         |JOIN (
         |  SELECT c_nationkey AS nk, ${sqlDavg("c_acctbal")} AS nat_avg
         |  FROM customer GROUP BY c_nationkey
         |) a ON c.c_nationkey = a.nk
         |WHERE c.c_acctbal > a.nat_avg
         |GROUP BY c.c_nationkey""".stripMargin
  )
}
