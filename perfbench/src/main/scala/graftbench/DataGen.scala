package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic generator for the star schema plus `events`, `documents`
  * and `embeddings` that graft's registry reads: the same column names,
  * types and value domains as the engine's reference test data, with row
  * counts proportional to the scale factor (sf 0.1 = 600k lineitem rows).
  *
  * Every value is a hash of (row id, column salt), so the output does not
  * depend on partitioning or on the session's core count. Each table is
  * written as ONE plain parquet file `<name>.parquet`, the layout the engine's
  * split estimate (`Tables.documentsDistributed`) is tuned for.
  */
object DataGen {

  private val Segments   = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes  = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("blue", "hot", "large", "small", "red", "smooth", "steel", "tiny")
  private val Nouns      = Seq("anvil", "bolt", "gear", "nut", "ring", "spring", "valve", "widget")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs      = Seq("de", "es", "fr", "zh") // plus "en" for 40% of documents
  private val Vocabulary = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Dim = 64

  /** Uniform [0, 1) from (row id, salt). */
  private def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(salt)), lit(1L << 40)).cast(DoubleType) / (1L << 40).toDouble

  private def uInt(salt: Int, n: Long): Column = floor(u(salt) * n).cast(LongType)

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(typedLit(values), (uInt(salt, values.size.toLong) + 1).cast(IntegerType))

  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt) * (hi - lo), 2)

  private def day(salt: Int, from: String, days: Int): Column =
    date_add(lit(from).cast(DateType), uInt(salt, days.toLong).cast(IntegerType)).cast(TimestampNTZType)

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def range(rows: Long): DataFrame = spark.range(0, rows, 1, 4).toDF()
    val nCust   = math.round(150000 * sf)
    val nSupp   = math.round(10000 * sf)
    val nPart   = math.round(200000 * sf)
    val nOrders = math.round(1500000 * sf)
    val nUsers  = math.round(15000 * sf)

    val region = spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")
    )).toDF("r_regionkey", "r_name")
    val nation = range(25).select(
      col("id").cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast(IntegerType).as("n_regionkey"))
    val customer = range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uInt(1, 25).cast(IntegerType).as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Segments).as("c_mktsegment"))
    val supplier = range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uInt(1, 25).cast(IntegerType).as("s_nationkey"),
      money(2, -999.99, 9999.99).as("s_acctbal"))
    val part = range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(1, Adjectives), pick(2, Nouns)).as("p_name"),
      concat(lit("Brand#"), uInt(3, 25) + 1).as("p_brand"),
      pick(4, PartTypes).as("p_type"),
      (uInt(5, 50) + 1).cast(IntegerType).as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 1).as("p_retailprice"))
    val orders = range(nOrders).select(
      col("id").as("o_orderkey"),
      uInt(1, nCust).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(3, 1000.0, 500000.0).as("o_totalprice"),
      day(4, "1995-01-01", 2404).as("o_orderdate"),
      pick(5, Priorities).as("o_orderpriority"))
    val quantity = (uInt(5, 50) + 1).cast(DoubleType)
    val lineitem = range(nOrders * 4).select(
      uInt(1, nOrders).as("l_orderkey"),
      uInt(2, nPart).as("l_partkey"),
      uInt(3, nSupp).as("l_suppkey"),
      (uInt(4, 7) + 1).cast(IntegerType).as("l_linenumber"),
      quantity.as("l_quantity"),
      round(quantity * (lit(900.0) + u(6) * 1200.0), 2).as("l_extendedprice"),
      (uInt(7, 11) / 100.0).as("l_discount"),
      (uInt(8, 9) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(10, Seq("F", "O")).as("l_linestatus"),
      day(11, "1995-01-02", 2498).as("l_shipdate"))
    // One event every ~26 s over January 2024, ids in time order.
    val nEvents = math.round(1000000 * sf)
    val events = range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * (2592000000000L / nEvents) + uInt(1, 25000000L))
        .cast(TimestampNTZType).as("ts"),
      uInt(2, nUsers).as("user_id"),
      pick(3, EventTypes).as("event_type"),
      round(-log(lit(1.0) - u(4)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", uInt(5, 100)).as("props"))
    // 10-100 words from a 30-word vocabulary; one doc in 625 repeats its
    // predecessor's text verbatim (exact duplicates for the dedup family).
    val textKey = when(col("id") % 625 === 7, col("id") - 1).otherwise(col("id"))
    val words = transform(
      sequence(lit(1), (floor(u(1) * 91) + 10).cast(IntegerType)),
      i => element_at(typedLit(Vocabulary), (pmod(xxhash64(textKey, i, lit(2)), lit(30L)) + 1).cast(IntegerType)))
    val documents = range(math.round(50000 * sf))
      .withColumn("words", words)
      .select(
        col("id").as("doc_id"),
        array_join(col("words"), " ").as("text"),
        when(u(3) < 0.4, lit("en")).otherwise(pick(4, Langs)).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
    // Ten label clusters of unit vectors: centre(label) + noise.
    val label = uInt(1, 10)
    val raw = transform(
      sequence(lit(0), lit(Dim - 1)),
      j => (pmod(xxhash64(label, j, lit(2)), lit(1L << 20)).cast(DoubleType) / (1L << 20) - 0.5) +
        (pmod(xxhash64(col("id"), j, lit(3)), lit(1L << 20)).cast(DoubleType) / (1L << 20) - 0.5) * 0.6)
    val embeddings = range(math.round(20000 * sf))
      .select(col("id"), label.cast(IntegerType).as("label"), raw.as("raw"))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(
        col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast(FloatType)).as("embedding"),
        col("label"))

    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Writes every table under `dir`, then a `_COMPLETE` marker. */
  def write(spark: SparkSession, dir: File, sf: Double): Unit = {
    dir.mkdirs()
    tables(spark, sf).foreach { case (name, df) =>
      val tmp = new File(dir, s"_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      Files.move(part.toPath, new File(dir, s"$name.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete())
      tmp.delete()
    }
    Files.writeString(new File(dir, "_COMPLETE").toPath, s"sf=$sf\n")
  }
}
