package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Storage-layout helpers — at 100 TB the on-disk layout is the first
  * optimizer: partition columns prune whole directories at planning time,
  * and bucketing pre-shuffles join/agg keys so repeated queries skip the
  * exchange entirely.
  */
object Layout {

  /** Value-determined full-row salt hash (package-private for the spec):
    * hashable columns directly when any exist, else all columns with maps
    * canonicalized via [[canonicalHashable]]. */
  private[graft] def deterministicSalt(df: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.hash
    def hashable(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val saltCols = df.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
    if (saltCols.nonEmpty) hash(saltCols.toIndexedSeq: _*)
    else
      hash(df.schema.fields.toIndexedSeq.map(f => canonicalHashable(col(f.name), f.dataType)): _*)
  }

  /** Rewrite a column into a value-determined, `hash()`-able form: every
    * map (at any nesting depth) becomes its entry array SORTED by (key,
    * value) — storage order, which task retries can change for maps built
    * from unordered groups, no longer reaches the hash. */
  private def canonicalHashable(
      c: org.apache.spark.sql.Column,
      t: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{array_sort, map_entries, struct, transform}
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    t match {
      case m: MapType =>
        array_sort(transform(map_entries(c), e =>
          struct(
            canonicalHashable(e.getField("key"), m.keyType).as("key"),
            canonicalHashable(e.getField("value"), m.valueType).as("value"))))
      case st: StructType =>
        struct(st.fields.toIndexedSeq.map(f =>
          canonicalHashable(c.getField(f.name), f.dataType).as(f.name)): _*)
      case a: ArrayType => transform(c, x => canonicalHashable(x, a.elementType))
      case _            => c
    }
  }

  /** Hive-style partitioned parquet: one directory per distinct value
    * combination; readers filtering on `cols` get PartitionFilters (pruning
    * before any IO) instead of data filters. Keep partition columns
    * low-cardinality (date, region, event_type — never ids).
    *
    * Same file-count discipline as [[writeBucketed]]: without the
    * repartition every task writes a file into every partition directory
    * it touches (tasks × partitions files); repartitioning on the
    * partition columns lands one file per directory. The trade is
    * explicit: a hot partition value serializes into one write task —
    * acceptable exactly because partition columns are low-cardinality
    * dimensions whose per-value volume a day/region split already bounds.
    * For a skewed dimension pass `saltFiles` > 1: the repartition key
    * gains a salt (files per directory ≤ saltFiles) WITHOUT touching the
    * directory layout. The salt is a DETERMINISTIC hash of the full row,
    * never rand(): a random repartition key re-rolls on task retry, and
    * rows recomputed after a shuffle-fetch failure then hash to different
    * reducers than the outputs already consumed — the classic silent
    * lose-or-duplicate hazard of repartition-by-rand. Identical rows
    * share a salt (they co-locate), which is harmless for a write.
    *
    * The salt hashes only HASHABLE columns: Spark's `hash()` rejects
    * MapType at analysis time (map iteration order is undefined, so a
    * map hash would be non-deterministic — the exact retry hazard the
    * deterministic salt exists to avoid), so any column containing a map
    * anywhere in its type (e.g. `events.props`) is excluded. If NO
    * column is hashable the salt hashes ALL columns with every map
    * CANONICALIZED first — entries exploded and SORTED into an array of
    * (key, value) structs, recursively. An earlier fallback hashed
    * `to_json(struct(*))`, which renders map entries in their STORED
    * order: a map materialized downstream of a shuffle/aggregation
    * (map_from_entries over unordered groups) can re-serialize in a
    * different order on recompute after a task retry — value-equal rows,
    * different salt, the exact lose-or-duplicate hazard this salt exists
    * to prevent. Sorted entry arrays are value-determined AND hashable,
    * so the fallback needs no JSON rendering at all.
    *
    * Behavior note (since r8): `saltFiles = 1` also repartitions (on the
    * partition columns alone) — that is what buys one-file-per-directory
    * — so a hot partition value serializes into one write task where
    * pre-r8 callers got parallel (but tasks × partitions-file) writes.
    * Callers with a skewed dimension should pass `saltFiles` > 1. */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String], saltFiles: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{lit, pmod}
    val keys =
      if (saltFiles > 1) cols.map(col) :+ pmod(deterministicSalt(df), lit(saltFiles))
      else cols.map(col)
    df.repartition(keys: _*)
      .write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)
  }

  /** Bucketed + sorted table (requires the session catalog): co-locates
    * rows by `bucketCol` so an equi-join or groupBy on it runs
    * exchange-free. The table-based analog of pre-partitioning RDDs.
    *
    * The write REPARTITIONS on the bucket column first: Spark's bucket id
    * is `pmod(murmur3(col), numBuckets)` — the same expression
    * `repartition(n, col)` partitions by — so after the exchange every
    * task holds exactly one bucket and writes exactly one file. Without
    * it each input task writes a file per bucket it touches: up to
    * tasks × buckets files per write (a 1000-executor build against a
    * 4096-bucket index would land millions of files — a metastore and
    * list-scan killer). The exchange is the pay-once cost of laying data
    * out by key, which is what a bucketed write IS; derived frames
    * already hash-partitioned on the key pay a no-op-sized re-exchange
    * of skinny rows. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int
  ): Unit =
    df.repartition(numBuckets, col(bucketCol))
      .write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Append to an existing bucketed table with the SAME bucket spec —
    * incremental index maintenance. Spark validates the spec against the
    * catalog entry, so a drifted bucketCol/numBuckets fails loudly instead
    * of silently de-bucketing the table. Appended files are bucketed like
    * the originals; scans over the union stay exchange-free on the key.
    *
    * Same bucket-aligned repartition as [[writeBucketed]], and it matters
    * MORE here: appends accumulate — an LSM-ish maintenance stream adding
    * tasks × buckets files per batch (instead of ≤ buckets) grows the
    * table's file count with every absorbed delta until the periodic
    * [[graft.operators.DedupIndex.build]] compaction. */
  def appendBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int
  ): Unit =
    df.repartition(numBuckets, col(bucketCol))
      .write
      .mode(SaveMode.Append)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** [[writeBucketed]] WITHOUT the write-side repartition, for an input
    * the CALLER has already hash-partitioned on the bucket column at
    * exactly `numBuckets` (`repartition(numBuckets, col(bucketCol))` —
    * the same pmod(murmur3) expression as the bucket id, so each task
    * holds exactly one bucket). The point: a derived frame whose OWN
    * computation needs a bucketCol-clustered exchange anyway (a distinct,
    * an occupancy window) can share ONE exchange between compute and
    * layout instead of paying a second back-to-back one (guide §2 —
    * remove shuffles where the data is already partitioned as needed).
    * File-count discipline identical (≤ one file per bucket), pinned by
    * DedupIndexSpec's file-count test, which runs the callers. MISUSE is
    * loud at write time only in file counts, never in data: Spark
    * recomputes the bucket id per row on write, so an unpartitioned
    * input still buckets correctly — it just writes tasks × buckets
    * files, the exact explosion [[writeBucketed]] exists to prevent. */
  def writeBucketedAligned(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int
  ): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** [[appendBucketed]] minus the repartition — same caller contract as
    * [[writeBucketedAligned]]. */
  def appendBucketedAligned(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int
  ): Unit =
    df.write
      .mode(SaveMode.Append)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Drop a managed table AND clear its warehouse location: a location left
    * by a PREVIOUS session (Verify/Bench run their own JVMs with fresh derby
    * catalogs) is invisible to this catalog but still blocks saveAsTable
    * with LOCATION_ALREADY_EXISTS. */
  def resetTable(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = s.conf.get("spark.sql.warehouse.dir")
    val root =
      if (warehouse.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(warehouse))
      else java.nio.file.Paths.get(warehouse)
    // the metastore lowercases managed-table directory names, so a
    // mixed-case caller ("DedupIndex") would otherwise miss the leftover
    // at warehouse/dedupindex — exactly the LOCATION_ALREADY_EXISTS this
    // helper exists to prevent; clear both spellings defensively
    import scala.jdk.CollectionConverters._
    Seq(table, table.toLowerCase(java.util.Locale.ROOT)).distinct.foreach { name =>
      val loc = root.resolve(name)
      if (java.nio.file.Files.exists(loc))
        java.nio.file.Files
          .walk(loc)
          .sorted(java.util.Comparator.reverseOrder())
          .iterator()
          .asScala
          .foreach(java.nio.file.Files.delete)
    }
  }
}
