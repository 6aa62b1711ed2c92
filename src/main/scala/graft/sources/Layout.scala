package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Storage-layout helpers — at 100 TB the on-disk layout is the first
  * optimizer: bucketing pre-shuffles join/agg keys so repeated queries
  * skip the exchange entirely.
  */
object Layout {

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
    * out by key, which is what a bucketed write IS. A frame whose own
    * computation already exchanged on `bucketCol` at `numBuckets` (a
    * distinct or window taken at the bucket count) pays no second one:
    * AQE's EnsureRequirements drops a user repartition whose child
    * already has the same hash partitioning, so compute and layout share
    * one exchange (DedupIndexSpec pins it). */
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
