package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.FaunaFunctions._

/** The reference's transform stage (P1-P5, F1-F3) as a narrow, fully
  * codegen'd DataFrame => DataFrame — one pipelined pass, no barrier, unlike
  * the reference's full materialization between stages
  * (`/root/reference/src/animals_etl/pipeline.py:57-86`).
  */
object AnimalsTransform {

  /** P1 projection + F1-F3 scalar transforms + P3/P4/P5 guards. `asOf` pins
    * the reference's wall-clock "future" cutoff for reproducibility.
    * Attaches the reference's invalid-born_at counter (pipeline.py:66,82-83)
    * as the named metric "quality", or to `observation` when one is given,
    * so the caller can block on it after its action: the engine-side
    * replacement for the reference's printed counter. */
  def transform(details: DataFrame, asOf: Column, observation: Option[Observation] = None): DataFrame = {
    val withIso = details.withColumn("born_iso", epochToIso8601Utc(col("born_at"), asOf))
    val invalid = count(when(col("born_at").isNotNull && col("born_iso").isNull, 1)).as("invalid_born_at")
    val rows    = count(lit(1)).as("rows")
    observation
      .fold(withIso.observe("quality", invalid, rows))(withIso.observe(_, invalid, rows))
      .select(
        col("id").cast(LongType).as("id"),
        col("name"),
        splitFriends(col("friends")).as("friends"),
        col("born_iso").as("born_at")
      )
  }
}
