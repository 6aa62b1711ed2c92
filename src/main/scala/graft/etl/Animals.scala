package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.FaunaFunctions._

/** Schemas for the animals pipeline, from the reference's TypedDicts
  * (`/root/reference/src/animals_etl/models.py:17-42`). All fields nullable —
  * the reference declares every field optional at runtime (`total=False`).
  */
object AnimalSchemas {
  /** Listing item (models.py:17-20). */
  val baseAnimal: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("born_at", LongType)
  ))

  /** Paginated page envelope (models.py:23-26) — nested array-of-struct. */
  val animalPage: StructType = StructType(Seq(
    StructField("page", IntegerType),
    StructField("total_pages", IntegerType),
    StructField("items", ArrayType(baseAnimal))
  ))
}

/** The reference's transform stage (P1-P5, F1-F3) as a narrow, fully
  * codegen'd DataFrame => DataFrame — one pipelined pass, no barrier, unlike
  * the reference's full materialization between stages
  * (`/root/reference/src/animals_etl/pipeline.py:57-86`).
  */
object AnimalsTransform {

  /** Flatten a page envelope into one row per listing item with a long `id`
    * (S3, pipeline.py:15,24): explode(items) + cast.
    */
  def flattenPages(pages: DataFrame): DataFrame =
    pages
      .select(explode(col("items")).as("item"))
      .select(
        col("item.id").cast(LongType).as("id"),
        col("item.name").as("name"),
        col("item.born_at").cast(LongType).as("born_at")
      )

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
