package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupIndex, FuzzyDedup}

/** q106 — persisted dedup index: build-once bucketed state, per-batch probe. */
class DedupIndexSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)
  private val dir = "/root/testdata/sf0.001"

  test("q106 probe through the persisted index equals q58's in-memory screen row-for-row") {
    val viaIndex = DedupIndex.q106(spark, dir).collect().map(_.toSeq).toSet
    val inMemory = FuzzyDedup.incrementalDedup(spark, dir).collect().map(_.toSeq).toSet
    assert(viaIndex.nonEmpty)
    assert(viaIndex == inMemory)
  }

  test("bucketed index tables aggregate on their bucket key with NO exchange") {
    // q106 above built the tables; a groupBy on the bucket column must not
    // shuffle — this is what makes every probe exchange-free on the index
    // side of each join
    DedupIndex.q106(spark, dir).collect()
    for ((table, key) <- Seq(
        (s"${DedupIndex.IndexPrefix}_bands", "band"),
        (s"${DedupIndex.IndexPrefix}_fp", "fingerprint"),
        (s"${DedupIndex.IndexPrefix}_shingles", "doc_id"))) {
      val agg = spark.table(table).groupBy(key).count()
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(
        !plan.contains("Exchange hashpartitioning"),
        s"bucketed $table still shuffles on $key:\n$plan"
      )
    }
  }

  test("q112 absorb: a batch-2 dup of a batch-1 survivor is caught; without absorb it is missed") {
    import spark.implicits._
    val prefix = "absorb_idx"
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % FuzzyDedup.DeltaMod < 8)
    DedupIndex.build(base, prefix)
    val novel = "an entirely new report about warp drives and llama husbandry in four acts " * 3
    val b1 = Seq((2000000L, novel, "en", "s0", novel.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b2 = Seq((2000001L, novel, "en", "s0", novel.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val v1 = DedupIndex.probeAndAbsorb(spark, b1, prefix).collect()
    assert(v1.head.getAs[Long]("keep") == 1L, "batch-1 novel doc should survive")
    val v2 = DedupIndex.probe(spark, b2, prefix).collect()
    assert(v2.head.getAs[Long]("exact_dup") == 1L,
      "batch-2 exact copy of the absorbed survivor not caught — absorb is a no-op")
    assert(v2.head.getAs[Long]("n_near") >= 1L && v2.head.getAs[Long]("near_match") == 2000000L,
      "near-dup path does not see the absorbed survivor's bands/shingles")
    // counterfactual: the rebuild-blind index (no absorb) misses the same doc
    DedupIndex.build(base, prefix)
    val v2blind = DedupIndex.probe(spark, b2, prefix).collect()
    assert(v2blind.head.getAs[Long]("keep") == 1L,
      "without absorb the doc should NOT be caught — fixture no longer distinguishes the two")
  }

  test("incremental premise: probing a second delta does not touch the base corpus text") {
    import spark.implicits._
    // a fresh batch with one exact dup of the base, one near-dup-free doc;
    // the probe must classify both using ONLY the persisted tables
    DedupIndex.q106(spark, dir).collect() // ensure index exists
    val baseDoc = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % FuzzyDedup.DeltaMod < 8)
      .select("text").as[String].head()
    val batch = Seq(
      (1000000L, baseDoc, "en", "s0", baseDoc.length.toLong),
      (1000001L, "a genuinely novel document about absolutely nothing seen before xyzzy", "en", "s0", 70L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupIndex.probe(spark, batch)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(got(1000000L)._1 == 1L && got(1000000L)._2 == 0L, s"exact dup not caught: $got")
    assert(got(1000001L) == ((0L, 1L)), s"novel doc not kept: $got")
  }

  test("aligned writes share ONE exchange between compute and layout (fp distinct / band window)") {
    // r18: the fp-distinct and band-occupancy-window frames each need a
    // key-clustered exchange for their OWN computation; pre-partitioning at
    // the bucket count makes that exchange double as the bucket alignment,
    // so writeBucketedAligned adds none. Pin: the pre-write frame's
    // executed plan has exactly one hashpartitioning exchange on its key.
    // (The file-count test below, which runs the real build/absorb, pins
    // that the layout stayed one-file-per-bucket.)
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet").repartition(8)
    val sh = docs.select(
      col("doc_id"),
      org.apache.spark.sql.functions.md5(col("text")).as("fingerprint"),
      graft.operators.Dedup.shingles(col("text")).as("shingles"))
    val n = DedupIndex.NumBuckets
    val fp = sh.select("fingerprint").repartition(n, col("fingerprint")).distinct()
    fp.collect()
    val fpPlan = fp.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(
      fpPlan.split("Exchange hashpartitioning").length - 1 == 1,
      s"fp distinct should share one fingerprint exchange with the layout:\n$fpPlan")
    val bands = FuzzyDedup.boundedBands(
      sh.filter(org.apache.spark.sql.functions.size(col("shingles")) > 0)
        .select(
          col("doc_id"),
          org.apache.spark.sql.functions
            .explode(graft.plans.TextHashExpressions.minhashBandKeys(col("shingles")))
            .as("band"))
        .repartition(n, col("band")),
      "band",
      FuzzyDedup.MaxBandOccupancy)
    bands.collect()
    val bPlan = bands.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(
      bPlan.split("Exchange hashpartitioning").length - 1 == 1,
      s"band occupancy window should share one band exchange with the layout:\n$bPlan")
    // writeBucketed/appendBucketed repartition(n, key) on top: AQE drops it
    // as already satisfied, so the written frame still has ONE exchange
    for ((frame, key) <- Seq(fp -> "fingerprint", bands.select("band", "doc_id") -> "band")) {
      val written = frame.repartition(n, col(key))
      written.collect()
      val wPlan = written.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(
        wPlan.split("Exchange hashpartitioning").length - 1 == 1,
        s"the writer's repartition on $key must reuse the aligned exchange:\n$wPlan")
    }
  }

  test("bucketed writes emit ONE file per bucket: build <= buckets files, absorb adds <= buckets") {
    // without the bucket-aligned repartition each input task writes a file
    // per bucket it touches — tasks x buckets files per write, and appends
    // accumulate that per BATCH (the 100 TB failure mode is millions of
    // index files). Spark's bucket id is pmod(murmur3(col), buckets), the
    // same hash repartition(n, col) uses, so the aligned write is exact.
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val prefix = "filecount_idx"
    // multi-partition input, as on any real corpus: the single-file test
    // fixture would otherwise write from ONE task and hide the
    // tasks x buckets explosion this pin exists to catch (verified: with
    // the aligned repartition removed, this spec fails at 8 tasks)
    val docs = spark.read.parquet(s"$dir/documents.parquet").repartition(8)
    DedupIndex.build(docs.filter(col("doc_id") % FuzzyDedup.DeltaMod < 8), prefix)
    def files(table: String): Int = {
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      val root =
        if (warehouse.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(warehouse))
        else java.nio.file.Paths.get(warehouse)
      val loc    = root.resolve(table)
      val stream = java.nio.file.Files.list(loc)
      try stream.iterator().asScala.count(p => p.getFileName.toString.startsWith("part-"))
      finally stream.close()
    }
    for (t <- Seq(s"${prefix}_fp", s"${prefix}_bands", s"${prefix}_shingles"))
      assert(files(t) <= DedupIndex.NumBuckets, s"$t wrote ${files(t)} files > ${DedupIndex.NumBuckets} buckets")
    val before = files(s"${prefix}_shingles")
    DedupIndex.probeAndAbsorb(spark, docs.filter(col("doc_id") % FuzzyDedup.DeltaMod === 8).repartition(8), prefix)
    assert(
      files(s"${prefix}_shingles") - before <= DedupIndex.NumBuckets,
      s"absorb appended ${files(s"${prefix}_shingles") - before} files in one batch"
    )
  }

  test("autoNumBuckets: power-of-two, clamped, tracks corpus size") {
    import DedupIndex.{autoNumBuckets, MaxBuckets, NumBuckets, TargetRowsPerBucket}
    // gate corpora: far under the floor's capacity -> exactly the floor,
    // so every oracle sees the same 32-bucket layout as before
    assert(autoNumBuckets(1L) == NumBuckets)
    assert(autoNumBuckets(60000L) == NumBuckets)
    assert(autoNumBuckets(TargetRowsPerBucket * NumBuckets) == NumBuckets)
    // one row over the floor's capacity -> next power of two
    assert(autoNumBuckets(TargetRowsPerBucket * NumBuckets + 1) == NumBuckets * 2)
    // mid-range: a billion docs -> 4096 (the cap is exactly 2^30 docs)
    assert(autoNumBuckets(1L << 30) == MaxBuckets)
    assert(autoNumBuckets(Long.MaxValue / 4) == MaxBuckets)
    // no overflow back to the floor at the top of the Long range
    assert(autoNumBuckets(Long.MaxValue) == MaxBuckets)
    // always a power of two
    for (rows <- Seq(1L, 12345L, 10000000L, 123456789L, 1L << 33))
      assert(Integer.bitCount(autoNumBuckets(rows)) == 1, s"rows=$rows")
  }

  test("non-default bucket count: build persists it, probe stays exchange-free, absorb follows the catalog") {
    val prefix = "widebucket_idx"
    val docs   = spark.read.parquet(s"$dir/documents.parquet").repartition(8)
    val base   = docs.filter(col("doc_id") % FuzzyDedup.DeltaMod < 8)
    val batch  = docs.filter(col("doc_id") % FuzzyDedup.DeltaMod === 8)
    // reference answer from the default-bucket index
    DedupIndex.build(base, "refbucket_idx")
    val expected = DedupIndex.probe(spark, batch, "refbucket_idx").collect().map(_.toSeq).toSet
    // a production-sized (64-bucket) build of the same base
    DedupIndex.build(base, prefix, numBuckets = 64)
    for ((t, key) <- Seq((s"${prefix}_fp", "fingerprint"), (s"${prefix}_bands", "band"), (s"${prefix}_shingles", "doc_id"))) {
      // the chosen spec is IN the catalog (what absorb will read back)
      assert(org.apache.spark.sql.GraftBridge.bucketSpec(spark, t) == Some((64, Seq(key))), t)
      // and bucketed scans still aggregate exchange-free on the key
      val agg  = spark.table(t).groupBy(key).count()
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(!plan.contains("Exchange hashpartitioning"), s"$t shuffles on $key at 64 buckets:\n$plan")
    }
    // verdicts identical to the default layout — bucket count is pure layout
    assert(DedupIndex.probe(spark, batch, prefix).collect().map(_.toSeq).toSet == expected)
    // absorb appends with the CATALOG spec (64), not the floor constant:
    // Spark validates the spec on write, so a mismatch would throw; prove
    // the appended batch then answers as absorbed
    val verdicts = DedupIndex.probeAndAbsorb(spark, batch, prefix).collect()
    val survivors = verdicts.filter(_.getAs[Long]("keep") == 1L).map(_.getAs[Long]("doc_id")).toSet
    assert(survivors.nonEmpty, "fixture absorbed nothing — append path untested")
    // re-probe: every absorbed survivor is now its own exact dup; every
    // doc (survivor or not) is blocked — the absorbed batch is visible
    val again = DedupIndex.probe(spark, batch, prefix).collect()
    assert(
      again.filter(r => survivors(r.getAs[Long]("doc_id"))).forall(_.getAs[Long]("exact_dup") == 1L),
      "absorbed survivors not visible through 64-bucket index")
    assert(again.forall(_.getAs[Long]("keep") == 0L), "a re-probed doc still reads as novel")
  }

  test("pre-r7 2-column shingle layout: probe still answers, absorb fails upfront, build migrates") {
    import org.apache.spark.sql.functions.col
    val prefix = "oldlayout_idx"
    val docs   = spark.read.parquet(s"$dir/documents.parquet")
    val base   = docs.filter(col("doc_id") % FuzzyDedup.DeltaMod < 8)
    val batch  = docs.filter(col("doc_id") % FuzzyDedup.DeltaMod === 8)
    DedupIndex.build(base, prefix)
    val expected = DedupIndex.probe(spark, batch).collect().map(_.toSeq).toSet
    // rewrite the shingle table the pre-round-7 way: (doc_id, shingles),
    // no fingerprint column — the layout a live index persisted before the
    // one-text-scan change still carries
    val shTable = s"${prefix}_shingles"
    val old     = spark.table(shTable).select("doc_id", "shingles").collect()
    val oldDf = spark.createDataFrame(
      spark.sparkContext.parallelize(old.toIndexedSeq),
      org.apache.spark.sql.types.StructType(spark.table(shTable).schema.filter(f => f.name != "fingerprint"))
    )
    graft.sources.Layout.resetTable(spark, shTable)
    graft.sources.Layout.writeBucketed(oldDf, shTable, "doc_id", DedupIndex.NumBuckets)
    // 1) probe selects columns by name — the old layout must answer identically
    val gotOld = DedupIndex.probe(spark, batch).collect().map(_.toSeq).toSet
    assert(gotOld == expected, "old-layout probe diverged from the migrated index's answer")
    // 2) absorb must fail LOUDLY and UP FRONT with the migration instruction,
    //    not mid-stream on the append
    val e = intercept[IllegalArgumentException] {
      DedupIndex.probeAndAbsorb(spark, batch, prefix)
    }
    assert(
      e.getMessage.contains("DedupIndex.build()"),
      s"failure does not carry the migration instruction: ${e.getMessage}"
    )
    // 3) build() — the documented migration — restores maintenance
    DedupIndex.build(base, prefix)
    val verdicts = DedupIndex.probeAndAbsorb(spark, batch, prefix)
    assert(verdicts.collect().map(_.toSeq).toSet == expected, "post-migration absorb verdicts drifted")
  }

  test("inParallel: all tasks run, and a task failure rethrows after the barrier (r17 overlapped writes)") {
    // The build/absorb write overlap relies on two properties: every task
    // completes before the call returns (q112 probes batch 2 AFTER
    // probeAndAbsorb — a premature return would let it read a half-absorbed
    // index), and a failing write surfaces instead of silently producing a
    // partial index.
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    DedupIndex.inParallel(() => { ran.incrementAndGet(); () }, () => { ran.incrementAndGet(); () })
    assert(ran.get() == 2, "both tasks must have completed before return")
    val boom = intercept[RuntimeException] {
      DedupIndex.inParallel(
        () => { ran.incrementAndGet(); () },
        () => throw new RuntimeException("write failed")
      )
    }
    assert(boom.getMessage == "write failed")
    assert(ran.get() == 3, "the healthy task still completed before the rethrow")
  }
}
