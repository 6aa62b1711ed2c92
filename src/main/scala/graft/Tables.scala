package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's parquet tables (`/root/repo/TESTDATA.md`).
  *
  * `events.ts` is written as parquet TIMESTAMP(NANOS); Spark's vectorized
  * reader needs the legacy nanosAsLong conf to read it (as a raw ns-epoch
  * LONG), which suits this engine — the flagship query normalizes raw epochs
  * anyway. Set lazily, before the first events read.
  */
object Tables {
  /** The table's DataFrame. Reading it runs a job, which infers the parquet
    * schema. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    Eager.phase("tables.read")(spark.read.parquet(s"$dir/$name.parquet"))

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = apply(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")

  /** `documents` with enough partitions to keep every core busy.
    *
    * Parallelism comes from input splits: on a real corpus the thousands of
    * files already yield >= cores splits and this is a pure pass-through
    * (NO exchange — an unconditional `repartition` here would shuffle the
    * whole text corpus in front of every documents query). Only when the
    * scan yields fewer splits than cores (the test fixture is one small file
    * = one task, which would serialize the CPU-heavy hash/shingle operators)
    * do we pay one small repartition to fan out. The split count is
    * ESTIMATED from file count/bytes + maxPartitionBytes and cached per
    * directory — `df.rdd.getNumPartitions` would build the RDD lineage on
    * every plan construction. */
  def documentsDistributed(s: SparkSession, d: String): DataFrame =
    distributed(s, d, "documents")

  /** Same fan-out guarantee for `embeddings` — the N²-adjacent similarity
    * operators are pure CPU over the vector column, so a single-split test
    * fixture would otherwise serialize them onto one core.
    *
    * Null AND non-finite vectors are DROPPED here, at the ingestion
    * boundary (reference P2 semantics — a failed lookup is dropped, never
    * thrown, `/root/reference/src/animals_etl/pipeline.py:39-43`): an
    * embedding pipeline emits NULL for undecodable inputs and NaN/±Inf for
    * fp16-overflowed ones, and either shape reaching the driver-resident
    * models (IVF centroids, k-means seeds, per-dim min/max collects) was a
    * job killer — null an NPE/ROW_VALUE_IS_NULL in six queries (r14
    * half-null probe), NaN a DIVIDE_BY_ZERO in q119 when NaN distances
    * empty a k-means cluster, and a SILENT ranking poison everywhere else
    * (NaN sorts HIGH in Spark orderings, so a NaN vector wins top-k slots
    * it never earned). The IsNotNull pushes to the parquet scan; the
    * finite check runs post-scan (array predicates don't push) but is one
    * codegen'd pass. On a corpus of finite vectors the plan's results are
    * bit-for-bit unchanged. */
  def embeddingsDistributed(s: SparkSession, d: String): DataFrame =
    finiteVectors(distributed(s, d, "embeddings"))

  /** The one null/non-finite/zero-norm vector drop, shared by both embedding
    * entry points — abs(v) > Float.MaxValue catches ±Infinity on the FLOAT
    * element type without a NaN-style special form.
    *
    * ALL-ZERO vectors are dropped too (r16): a zero vector is finite but has
    * L2 norm 0, and every cosine in the engine divides by a norm product —
    * under ANSI mode a DIVIDE_BY_ZERO job killer in eight queries
    * (ZeroVectorProbeSpec pinned q37/q39/q60/q61/q62/q76/q111/q119). Zero
    * vectors are routine production shapes (zeroed encoder flush, writer
    * padding, masked embeddings), and cosine against one is UNDEFINED, so
    * the P2 drop loses no ranking semantics. `exists(v != 0)` is false on
    * the all-zero vector and also on the EMPTY vector (norm 0 as well).
    *
    * Three-valued-logic note (deliberate, pinned by NullTextSpec): a vector
    * containing ANY NULL element is DROPPED. The negated non-finite check
    * passes only on a definite `exists = false`, which requires every
    * element to evaluate the predicate to false — a NULL element makes it
    * NULL, and `!NULL` fails the filter. A NULL element means the embedding
    * writer emitted a partial row; partial vectors have no meaningful norm,
    * so the drop is the same P2 contract, not an accident of 3VL. */
  private def finiteVectors(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.filter(
      col("embedding").isNotNull &&
        !exists(col("embedding"), v => isnan(v) || abs(v) > lit(Float.MaxValue)) &&
        exists(col("embedding"), v => v =!= lit(0.0f)))
  }

  private def distributed(s: SparkSession, d: String, name: String): DataFrame = {
    val df    = apply(s, d, name)
    val cores = s.sparkContext.defaultParallelism
    val est = splitEstimates.computeIfAbsent(
      s"$d/$name",
      _ => {
        val path    = new org.apache.hadoop.fs.Path(s"$d/$name.parquet")
        val fs      = path.getFileSystem(s.sparkContext.hadoopConfiguration)
        val summary = fs.getContentSummary(path)
        val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          s.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
        math.max(math.max(1L, summary.getFileCount), (summary.getLength + maxSplit - 1) / maxSplit)
      }
    )
    if (est < cores) df.repartition(cores) else df
  }
  private val splitEstimates = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Row count of a table, cached per (dir, name) for the JVM lifetime —
    * for size guards and sizing knobs that would otherwise schedule a
    * count job per invocation.
    * The count itself is parquet-footer metadata (no column IO), but on a
    * real corpus it still runs a task per input split; the test data is
    * read-only per round, so caching is sound.
    *
    * VALIDITY ASSUMPTION — read-only inputs per JVM: the O(n²)-class
    * safety guards (Dedup.shinglePairStats, FuzzyDedup.embeddingPairs)
    * route through this cache, so in a long-lived JVM whose corpus dir
    * GROWS (e.g. streaming ingestion appending under `dir`) a guard would
    * read a stale count and could admit an oversized corpus it exists to
    * refuse. The engine's ingestion paths never append under a Tables
    * dir (streaming state lives in warehouse tables), so the assumption
    * holds everywhere today. A caller whose corpus can grow must not use
    * this cache: it counts directly. */
  def rowCountCached(s: SparkSession, dir: String, name: String): Long =
    rowCounts.computeIfAbsent(s"$dir/$name", _ => Eager.count(apply(s, dir, name), "tables.rowCount"))
  private val rowCounts = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Row count of the FILTERED embeddings view — the count knob sizing
    * (autoSemK/autoLshBits/autoEmbBits) must see, since the queries only
    * ever see vectors that survive [[finiteVectors]]. Unlike
    * [[rowCountCached]] this reads the vector column (the finite check
    * can't be answered from parquet footers), but it's cached per (dir)
    * for the JVM lifetime and embeddings is the skinny table. Oracle
    * parity: dynamic oracles interpolate this same number, so both sides
    * of every knob move together on a null/NaN-bearing corpus. */
  def embeddingsCountCached(s: SparkSession, dir: String): Long =
    rowCounts.computeIfAbsent(s"$dir/embeddings#finite", _ => Eager.count(embeddings(s, dir), "tables.rowCount"))

  /** Raw-order embeddings view, same null/non-finite vector drop as
    * [[embeddingsDistributed]] (one contract, both entry points). */
  def embeddings(s: SparkSession, d: String): DataFrame =
    finiteVectors(apply(s, d, "embeddings"))

  /** `events` with `ts` surfaced as both a raw ns-epoch long (`ts_ns`) and a
    * microsecond-precision TIMESTAMP (`ts`), whatever the file's physical
    * type — see [[normalizeEvents]].
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEvents(apply(s, d, "events"))

  /** [[events]] with the [[documentsDistributed]] fan-out guarantee — for
    * the per-row CPU consumers (timestamp rendering, JSON parsing) that a
    * single-file fixture would otherwise serialize onto one core. The
    * repartition runs BEFORE the normalize projection, so the fanned-out
    * rows carry the raw file schema, not derived columns. */
  def eventsDistributed(s: SparkSession, d: String): DataFrame =
    normalizeEvents(distributed(s, d, "events"))

  /** Normalize a raw `events` scan to the engine shape
    * `(event_id, ts_ns, user_id, event_type, value, props, ts)` where
    * `ts_ns` is the raw ns-epoch LONG and `ts` a µs-precision TIMESTAMP.
    *
    * The upstream generator has shipped `ts` as parquet TIMESTAMP(NANOS)
    * (read as a ns LONG under the engine-wide nanosAsLong conf, set once in
    * [[GraftSession.builder]]) and as TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ); both sources of truth must land on the same shape, so
    * every consumer — batch, streaming, oracle — sees one contract. The
    * NTZ→LTZ cast is instant-preserving because the session timezone is
    * pinned to UTC, matching DuckDB's naive-as-UTC read of the same file.
    */
  private[graft] def normalizeEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(call_function("div", col("ts_ns"), lit(1000L))))
      case TimestampNTZType | TimestampType =>
        val t = col("ts").cast(TimestampType)
        raw.select(
          col("event_id"),
          (unix_micros(t) * lit(1000L)).as("ts_ns"),
          col("user_id"),
          col("event_type"),
          col("value"),
          col("props"),
          t.as("ts")
        )
      case other =>
        throw new IllegalStateException(s"unsupported events.ts physical type: $other")
    }
  }

  /** All table names this engine serves. */
  val Names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings"
  )

  /** Register every table as a temp view so the whole corpus is queryable
    * through `spark.sql` (the SQL-text interface next to the typed one).
    * `events` registers with the engine's normalized shape (ts_ns + µs
    * TIMESTAMP), same as the typed loader. */
  def registerAll(s: SparkSession, d: String): Unit =
    Names.foreach {
      case "events" => events(s, d).createOrReplaceTempView("events")
      case n        => apply(s, d, n).createOrReplaceTempView(n)
    }
}
