package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Eager, Tables}
import graft.sources.Layout

/** PERSISTED dedup index (q106) — the cross-run production shape of q58's
  * incremental dedup. q58 screens a delta batch against a base corpus it
  * re-fingerprints inside the SAME job; a continuous corpus-building
  * pipeline cannot afford that — the base is re-read and re-hashed on every
  * arriving batch. This operator persists the base's dedup state ONCE as
  * three bucketed tables and lets every subsequent delta batch probe them:
  *
  *  - `<prefix>_fp`       (fingerprint)                     bucketed by fingerprint
  *  - `<prefix>_bands`    (band, doc_id)                    bucketed by band
  *  - `<prefix>_shingles` (doc_id, fingerprint, shingles)   bucketed by doc_id
  *
  * Bucketing is the scale story: the three probe joins (exact fingerprint,
  * band candidates, shingle verify) each hit an index table PRE-BUCKETED on
  * its join key, so the INDEX side of every join is exchange-free — only
  * the delta batch (tiny, by the incremental premise) shuffles, and the
  * corpus-sized shingle table is read only for rows matching band
  * candidates. Per-probe cost is O(delta), independent of how many batches
  * preceded it. Pinned by DedupIndexSpec: bucketed band/fp scans aggregate
  * with no exchange, and the probe result equals q58 row-for-row on the
  * gate split.
  *
  * Band occupancy is capped at BUILD time over the base alone
  * ([[FuzzyDedup.boundedBands]]); the delta side probes uncapped. This
  * differs from q58 — which caps the base+delta union — only when a bucket
  * crosses [[FuzzyDedup.MaxBandOccupancy]] exactly at the boundary, a
  * degenerate mega-cluster case that is exact-dedup's territory either way.
  * The q106 oracle replays the base-only cap, so the gate checks the
  * declared semantics.
  *
  * Accepted-doc MAINTENANCE is [[probeAndAbsorb]] (q112): survivors of each
  * batch are appended to the three tables with the same bucket spec, so
  * later batches dedup against base ∪ earlier survivors. [[build]] is the
  * rebuild primitive for periodic compaction (re-enforcing the global band
  * cap).
  *
  * Schema migration: the shingle table gained the `fingerprint` column (the
  * one-text-scan layout). An index persisted by the earlier 2-column layout
  * still PROBES correctly (probe selects columns by name), but absorb
  * appends the 3-column shape — [[probeAndAbsorb]] detects the old layout
  * UP FRONT (a schema lookup before any probe work) and fails with the
  * migration instruction: run [[build]] (the normal compaction) once to
  * migrate before resuming maintenance. Both halves are pinned by
  * DedupIndexSpec's old-layout test.
  */
object DedupIndex {

  val IndexPrefix = "graft_dedup_idx"
  /** Bucket-count FLOOR: matches the engine-wide shuffle parallelism so
    * bucketed scans line up with exchange partitioning at test scale. The
    * actual count is sized per-build by [[autoNumBuckets]]; every gate
    * corpus sits far under one [[TargetRowsPerBucket]] × this floor, so
    * the oracles see exactly 32. */
  val NumBuckets = 32

  /** [[autoNumBuckets]]'s target: rows of index state per bucket. Sized so
    * a bucket's shingle file stays a comfortable task unit (~250k docs ×
    * ~a few hundred bytes of fingerprint+shingle state ≈ low tens of MB
    * compressed) — small enough to scan/sort in one task, large enough
    * that file count, not file size, never dominates. */
  val TargetRowsPerBucket = 1L << 18
  /** Cap: 4096 write tasks per build/absorb is ample parallelism for a
    * 1000-executor cluster, and ~4k files per index table stays trivially
    * listable. Beyond ~10^9 docs, bucket files grow past the target —
    * that is the scale where the index would shard by corpus partition
    * (date/source) ABOVE the bucketing, not grow the bucket count. */
  val MaxBuckets = 4096

  /** Production bucket sizing, the q39 `autoEmbBits` discipline applied to
    * the index: the smallest power of two giving ≤ [[TargetRowsPerBucket]]
    * rows per bucket, clamped to [[[NumBuckets]], [[MaxBuckets]]].
    * Power-of-two keeps bucket counts across generations of the index
    * divisible into each other (an old 512-bucket table and a rebuilt
    * 1024-bucket one still co-partition pairwise-cleanly for a migration
    * join). Build writes the chosen count into the catalog's bucket spec;
    * probe needs no number at all (bucketed scans carry their
    * outputPartitioning); absorb reads the spec BACK from the catalog
    * ([[tableBuckets]]) so appends keep validating against what the table
    * actually is, never against what today's sizing rule would pick. */
  def autoNumBuckets(rows: Long): Int =
    1 << FuzzyDedup.pow2Bits(rows, TargetRowsPerBucket, Integer.numberOfTrailingZeros(NumBuckets),
      Integer.numberOfTrailingZeros(MaxBuckets))

  /** The PERSISTED bucket count of an index table — absorb's append spec
    * must match the catalog entry (Spark validates and fails loudly on
    * drift), so it is read from the catalog, not recomputed. */
  private def tableBuckets(s: SparkSession, table: String): Int =
    org.apache.spark.sql.GraftBridge.bucketSpec(s, table).map(_._1).getOrElse(NumBuckets)

  /** ONE text projection computing both dedup signals — every index path
    * ([[build]], [[probe]], [[probeAndAbsorb]]) materializes this once and
    * derives fingerprints, band keys and verify shingles from it, so text
    * is read and tokenized exactly once per corpus/batch pass. Rows with
    * empty shingle arrays stay (their fingerprint still belongs in the
    * exact-dup table); they never reach the band table, so verify-join
    * semantics are unchanged. */
  private def hashed(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(col("text")).as("fingerprint"),
      Dedup.shingles(col("text")).as("shingles"))

  /** See [[graft.sources.Layout.resetTable]] — shared with q124's
    * co-bucketed join build. */
  private def reset(s: SparkSession, table: String): Unit = Layout.resetTable(s, table)

  /** Run independent write jobs concurrently (guide §2.6: actions are only
    * sequential because the driver calls them sequentially). Fresh threads
    * per call — not a shared pool — so Spark's InheritableThreadLocal job
    * properties (description/group) are captured from THIS caller at
    * thread creation, keeping bench/UI attribution correct. First failure
    * rethrows after all tasks settle (no orphaned in-flight write), with
    * any sibling failures attached as suppressed exceptions. Failure-path
    * footprint note: because all siblings run to completion before the
    * rethrow, a failed task can leave MORE sibling tables mutated than the
    * sequential form would have (e.g. shingles+bands appended while the fp
    * append failed) — a partial-index residue healed by [[build]]
    * compaction.
    *
    * Interrupt-safe: an interrupt of the CALLING thread mid-barrier must
    * not return control while write jobs are still in flight — a cancelled
    * [[probeAndAbsorb]] (q112) that returned early would let its caller
    * read or rebuild the index while sibling appends are still landing in
    * it — so the joins are retried until every worker settles and the
    * interrupt is re-delivered via the thread's interrupt flag. */
  private[graft] def inParallel(tasks: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = tasks.map { t =>
      new Thread(() => try t() catch { case e: Throwable => errs.add(e); () })
    }
    ts.foreach(_.start())
    var interrupted = false
    ts.foreach { th =>
      var joined = false
      while (!joined)
        try { th.join(); joined = true }
        catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    if (!errs.isEmpty) {
      val it    = errs.iterator()
      val first = it.next()
      while (it.hasNext) first.addSuppressed(it.next())
      throw first
    }
  }

  /** Build (or rebuild) the persisted index from the base corpus.
    *
    * The corpus TEXT is scanned and tokenized exactly ONCE: the shingle
    * table persists (doc_id, fingerprint, shingles) from a single
    * projection, then BOTH derived tables come from read-backs of it —
    * fingerprints as a skinny column scan, bands as the (doc_id, long[])
    * scan through the band-key expression. At corpus scale reading and
    * hashing raw text is the dominant build cost; one pass per rebuild is
    * the whole point of the pay-once index.
    *
    * `numBuckets` ≤ 0 (the default) sizes buckets from the corpus row
    * count via [[autoNumBuckets]] — the count is a doc_id-only job
    * (column-pruned, no text IO), marginal next to the text pass the
    * build pays anyway. */
  def build(docs: DataFrame, prefix: String = IndexPrefix, numBuckets: Int = 0): Unit = {
    val s = docs.sparkSession
    val n = if (numBuckets > 0) numBuckets else autoNumBuckets(Eager.count(docs, "dedupIndex.build.size"))
    Seq(s"${prefix}_fp", s"${prefix}_shingles", s"${prefix}_bands").foreach(reset(s, _))
    Eager.phase("dedupIndex.build.shingles")(Layout.writeBucketed(hashed(docs), s"${prefix}_shingles", "doc_id", n))
    val shTable = s.table(s"${prefix}_shingles")
    // Pre-partition on the band key AT THE BUCKET COUNT before the
    // occupancy window (r18, guide §2): the window needs a band-clustered
    // exchange anyway, and HashPartitioning(band, n) satisfies it — so
    // this ONE exchange serves the window AND the bucketed layout
    // (writeBucketed's own repartition(n, band) is then dropped by AQE as
    // already satisfied). Same for the fp distinct: aggregate + layout
    // share one fingerprint exchange.
    val bands = FuzzyDedup.boundedBands(
      FuzzyDedup.minhashBands(shTable).repartition(n, col("band")), "band", FuzzyDedup.MaxBandOccupancy)
    // fp and bands both derive from the persisted shingle table and write
    // to DIFFERENT tables — independent jobs, overlapped (r17: 0.72 s +
    // 1.06 s sequential → max of the two; the tail tasks of one write
    // back-fill cores the other frees)
    Eager.phase("dedupIndex.build.fpBands")(
      inParallel(
        () =>
          Layout.writeBucketed(
            shTable.select("fingerprint").repartition(n, col("fingerprint")).distinct(),
            s"${prefix}_fp", "fingerprint", n),
        () =>
          Layout.writeBucketed(bands.select("band", "doc_id"), s"${prefix}_bands", "band", n)
      ))
  }

  /** Screen a delta batch against the persisted index: q58's output shape —
    * one row per delta doc with (exact_dup, n_near, near_match, keep).
    * The batch text is read ONCE (the [[hashed]] checkpoint); the three
    * probe joins all derive from the skinny materialized frame. */
  def probe(s: SparkSession, delta: DataFrame, prefix: String = IndexPrefix): DataFrame =
    probeHashed(s, Eager.materialize(hashed(delta), "dedupIndex.probe.hashed"), prefix)

  /** [[probe]] over an already-materialized [[hashed]] frame — shared with
    * [[probeAndAbsorb]], whose absorb appends reuse the same checkpoint. */
  private def probeHashed(s: SparkSession, h: DataFrame, prefix: String): DataFrame = {
    val sh    = h.select("doc_id", "shingles")
    val cand  = FuzzyDedup.probePairs(FuzzyDedup.minhashBands(sh), s.table(s"${prefix}_bands").select("doc_id", "band"))
    val shIdx = s.table(s"${prefix}_shingles").select("doc_id", "shingles")
    val near = FuzzyDedup
      .verify(cand, sh, shIdx)
      .transform(FuzzyDedup.jaccard)
      .filter(col("jaccard") >= FuzzyDedup.JaccardThreshold)
    FuzzyDedup.deltaVerdicts(h.select("doc_id", "fingerprint"), s.table(s"${prefix}_fp"), near)
  }

  /** Probe the batch, ABSORB its survivors into the index, return the
    * verdicts — the full incremental-dedup maintenance loop (q112): after
    * this call, later batches dedup against base ∪ earlier survivors, so
    * the index stays current without a rebuild. Only keep==1 docs enter
    * the index (a dup's fingerprint is already there by definition; adding
    * near-dups would make the index grow with the DUP mass instead of the
    * novel mass). Appends go through [[graft.sources.Layout.appendBucketed]]
    * — same bucket spec, so probe joins stay exchange-free on the index
    * side. The absorb batch's band entries are occupancy-capped within the
    * batch alone; the global cap is re-enforced by the periodic [[build]]
    * compaction, exactly like segment merges in any LSM-ish index.
    *
    * Correctness note: verdicts are materialized BEFORE the index tables
    * are mutated — `probe` is lazy, and computing it after the append
    * would screen the batch against itself. */
  def probeAndAbsorb(s: SparkSession, batch: DataFrame, prefix: String = IndexPrefix): DataFrame = {
    // Detect a pre-fingerprint (2-column) shingle table UP FRONT — without
    // this, the mismatch surfaces as an AnalysisException on the absorb
    // append, AFTER probe work was spent. A catalog schema
    // lookup, not a scan.
    val shCols = s.table(s"${prefix}_shingles").schema.fieldNames
    require(
      shCols.contains("fingerprint"),
      s"${prefix}_shingles has the pre-fingerprint layout (${shCols.mkString(", ")}): " +
        "probe still works against it, but absorb appends the 3-column shape — " +
        "run DedupIndex.build() once (the normal compaction) to migrate before resuming maintenance"
    )
    // ONE text pass over the whole batch: probe joins AND the absorb
    // appends all derive from this checkpoint — the batch text is never
    // re-read after this line
    val h        = Eager.materialize(hashed(batch), "dedupIndex.absorb.hashed")
    val verdicts = Eager.materialize(probeHashed(s, h, prefix), "dedupIndex.absorb.verdicts")
    // survivor-sized: both checkpointed sides, three consumers below
    val kept = h.join(verdicts.filter(col("keep") === 1L).select("doc_id"), Seq("doc_id"))
    // same exchange-sharing shape as build(): pre-partition at the
    // PERSISTED bucket count so the occupancy window / fp distinct and
    // the bucketed append share one exchange per table (r18)
    val nBands = tableBuckets(s, s"${prefix}_bands")
    val nFp    = tableBuckets(s, s"${prefix}_fp")
    val bands = FuzzyDedup.boundedBands(
      FuzzyDedup.minhashBands(kept).repartition(nBands, col("band")), "band", FuzzyDedup.MaxBandOccupancy)
    // append with the PERSISTED spec of each table (whatever build() sized),
    // read from the catalog — Spark then re-validates on the write. The
    // three appends derive from the SAME checkpointed batch frame and
    // target three DIFFERENT tables — independent jobs, overlapped
    // (guide §2.6, r17); all complete before this returns, so callers
    // (q112's batch-2 probe) see the same all-appends-then-return
    // contract as the sequential form.
    Eager.phase("dedupIndex.absorb.write")(
      inParallel(
        () =>
          Layout.appendBucketed(
            kept.select("fingerprint").repartition(nFp, col("fingerprint")).distinct(),
            s"${prefix}_fp", "fingerprint", nFp),
        () =>
          Layout.appendBucketed(kept, s"${prefix}_shingles", "doc_id", tableBuckets(s, s"${prefix}_shingles")),
        () =>
          Layout.appendBucketed(
            bands.select("band", "doc_id"),
            s"${prefix}_bands", "band", nBands)
      ))
    verdicts
  }

  /** q112: two sequential deltas through the maintained index — batch 1 is
    * probed and absorbed, batch 2 is probed against base ∪ batch-1
    * survivors. The registered proof that the index UPDATES, not just
    * screens: a batch-2 doc whose only duplicate lives in batch 1 is
    * caught here and missed by the rebuild-blind q106 shape. */
  def q112(s: SparkSession, dir: String): DataFrame = {
    val prefix = s"${IndexPrefix}_inc"
    val docs   = Tables.documentsDistributed(s, dir)
    val m      = col("doc_id") % FuzzyDedup.DeltaMod
    build(docs.filter(m < 8), prefix)
    val v1 = probeAndAbsorb(s, docs.filter(m === 8), prefix).withColumn("batch", lit(1L))
    val v2 = probe(s, docs.filter(m === 9), prefix).withColumn("batch", lit(2L))
    v1.unionByName(v2)
      .select("batch", "doc_id", "exact_dup", "n_near", "near_match", "keep")
  }

  /** q106: build the index from the q58 base split, probe the q58 delta —
    * end-to-end through the PERSISTED tables, never the in-memory base. */
  def q106(s: SparkSession, dir: String): DataFrame = {
    val docs  = Tables.documentsDistributed(s, dir)
    val base  = docs.filter(col("doc_id") % FuzzyDedup.DeltaMod < 8)
    val delta = docs.filter(col("doc_id") % FuzzyDedup.DeltaMod >= 8)
    build(base)
    probe(s, delta)
  }
}
