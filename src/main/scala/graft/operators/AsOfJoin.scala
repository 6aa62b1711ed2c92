package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}

/** As-of join — an operator Spark lacks natively, composed from built-ins
  * (preference (a) of the custom-operator ladder): for each left row
  * (key, t), attach the right row with the greatest rt ≤ t for that key.
  *
  * Implementation: tag + union both sides, then a single
  * `last(ignoreNulls)` running window per key ordered by (t, side) — right
  * rows sort before left rows at equal timestamps, making the match
  * inclusive. One shuffle + sort per key, fully scalable: this is the same
  * plan shape a dedicated AsOfJoinExec would produce, and Catalyst/AQE
  * still manage the exchange.
  *
  * Right side must be unique per (key, rt) for deterministic results —
  * pre-aggregate it (as `eventAsOf` does) when it isn't.
  */
object AsOfJoin extends QueryModule {

  /** Generic as-of: left (key, t, leftCols...) ⟕ right (key, rt, payload...).
    * Returns left rows with `payload` columns from the matched right row
    * (null when no right row precedes). */
  def asofLeft(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      payload: Seq[String]
  ): DataFrame = {
    val lTagged = left
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(1))
      .withColumns(payload.map(p => p -> lit(null).cast(right.schema(p).dataType)).toMap)
    val rTagged = right
      .withColumn("_t", col(rightTime))
      .withColumn("_side", lit(0))
      .withColumns(left.columns.filterNot(Set(key)).map(c => c -> lit(null).cast(left.schema(c).dataType)).toMap)
    val unioned = lTagged.select((Seq(key, "_t", "_side") ++ left.columns.filterNot(Set(key, leftTime)) ++ payload).map(col): _*)
      .unionByName(
        rTagged.select((Seq(key, "_t", "_side") ++ left.columns.filterNot(Set(key, leftTime)) ++ payload).map(col): _*)
      )
    val w = Window.partitionBy(key).orderBy(col("_t"), col("_side")).rowsBetween(Window.unboundedPreceding, 0)
    val filled = payload.foldLeft(unioned) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    filled.filter(col("_side") === 1).drop("_side")
  }

  /** Each purchase event joined as-of to the user's most recent (≤) click.
    * Clicks are pre-aggregated to one row per (user, ts) so the match is
    * deterministic in every engine. */
  def purchaseAsofClick(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val joined = asofLeft(
      purchases,
      clicks.select(col("user_id"), col("click_ts"), col("click_id"), col("click_ts").as("click_ts_p")),
      key = "user_id",
      leftTime = "ts",
      rightTime = "click_ts",
      payload = Seq("click_id", "click_ts_p")
    )
    joined.select(
      col("event_id"),
      col("user_id"),
      date_format(col("_t"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
      col("click_id"),
      date_format(col("click_ts_p"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
      (unix_micros(col("_t")) - unix_micros(col("click_ts_p"))).as("gap_us")
    )
  }

  /** q84: q28's exact semantics through the NATIVE as-of operator
    * ([[graft.plans.AsOfJoinNative]] — custom LogicalPlan + strategy +
    * co-partitioned merge exec) instead of the union+window composition.
    * Same oracle SQL as q28: two independent implementations, one answer. */
  def purchaseAsofClickNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), unix_micros(col("ts")).as("p_us"))
    val clicks = ev
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      // fresh aliases break the self-join attribute-id collision AND the
      // name collision (both sides derive from `events`)
      .select(
        col("user_id").as("c_user"),
        unix_micros(col("ts")).as("c_us"),
        col("click_id"),
        col("ts").as("c_ts")
      )
      .toDF("c_user", "c_us", "click_id", "c_ts")
    graft.plans.AsOfJoinNative
      .asof(purchases, clicks, key = "user_id", rightKey = "c_user", leftTime = "p_us", rightTime = "c_us")
      .select(
        col("event_id"),
        col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
        col("click_id"),
        date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
        (col("p_us") - col("c_us")).as("gap_us")
      )
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q28_asof_join" -> (purchaseAsofClick _),
    "q84_asof_native" -> (purchaseAsofClickNative _)
  )

  /** Shared oracle body: q84 must produce byte-identical results. */
  private val asofOracleSql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'purchase'
      |),
      |c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, CAST(max(event_id) AS BIGINT) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |)
      |SELECT p.event_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
      |  c.click_id,
      |  strftime(c.click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
      |  epoch_us(p.ts) - epoch_us(c.click_ts) AS gap_us
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts""".stripMargin

  val oracles: Map[String, String] = Map(
    "q84_asof_native" -> asofOracleSql,
    "q28_asof_join" -> asofOracleSql
  )
}
