package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A named group of registered queries with their DuckDB oracle SQL. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]

  /** Dir-aware oracle renderings: for queries whose plan adapts a knob to
    * the TARGET corpus (q61's corpus-sized LSH bits), the oracle SQL must
    * adapt identically or parity silently breaks past the knob's floor.
    * Verify consults this at dump time and overrides the static [[oracles]]
    * entry; keys must be a subset of [[oracles]] (the static entry remains
    * the documented floor rendering). */
  def oraclesDynamic: Map[String, (SparkSession, String) => String] = Map.empty
}

/** Numeric helpers shared by query modules.
  *
  * Oracle hash-matching requires bit-identical values between Spark and
  * DuckDB. Double SUMs are order-dependent (Spark partial aggregation vs
  * DuckDB sequential), so every monetary aggregate follows the pattern:
  * per-row arithmetic in DOUBLE (IEEE 754, identical in both engines), cast
  * the row value to DECIMAL with enough scale to capture the exact decimal
  * value (prices/discounts/taxes are 2-decimal), SUM the decimals (exact,
  * associative), cast the final sum to DOUBLE (deterministic conversion).
  */
object Num {
  val dec4: DecimalType = DecimalType(18, 4)
  val dec6: DecimalType = DecimalType(18, 6)

  /** Exact decimal-summed aggregate of a double column, returned as DOUBLE. */
  def dsum(c: Column, t: DecimalType = dec4): Column = sum(c.cast(t)).cast(DoubleType)

  /** Oracle-side equivalent of [[dsum]]. */
  def sqlDsum(expr: String, scale: Int = 4): String =
    s"CAST(sum(CAST(($expr) AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** Exact mean: decimal sum cast to double, divided by count (identical
    * double division in both engines). */
  def davg(c: Column, t: DecimalType = dec4): Column =
    sum(c.cast(t)).cast(DoubleType) / count(lit(1))

  def sqlDavg(expr: String, scale: Int = 4): String =
    s"(CAST(sum(CAST(($expr) AS DECIMAL(18,$scale))) AS DOUBLE) / count(*))"
}
