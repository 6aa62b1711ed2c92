package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventWindows
import graft.streaming.{DocStream, EventStream}

/** Streaming/batch semantic parity: the streaming windowed aggregations over
  * the events files must produce exactly the batch module's results once the
  * stream is fully processed.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)
  private val dir = "/root/testdata/sf0.001"

  /** File streaming source requires a directory: stage the single events
    * parquet into a temp dir. */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet")
    )
    d.toString
  }

  test("streaming tumbling window equals batch q25 result") {
    val stream = EventStream.fromParquet(spark, streamDir)
    assert(stream.isStreaming)
    val q = EventStream
      .tumblingCounts(stream)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_tumbling")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_tumbling").collect().map(_.toSeq).toSet
      val batch    = EventWindows.tumbling(spark, dir).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming session window produces sessions") {
    val stream = EventStream.fromParquet(spark, streamDir)
    val q = EventStream
      .sessionCounts(stream)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_sessions")
      .start()
    try {
      q.processAllAvailable()
      val sessions = spark.table("stream_sessions").collect()
      assert(sessions.length > 0)
      // per-user session event counts must total the source row count
      val total = sessions.map(_.getAs[Long]("n_events")).sum
      assert(total == spark.read.parquet(s"$dir/events.parquet").count())
    } finally q.stop()
  }

  /** Documents staged across TWO files = two micro-batches, so the dedup
    * state must carry fingerprints across batch boundaries. */
  private lazy val docStreamDir: String = {
    val d    = java.nio.file.Files.createTempDirectory("graft_stream_docs")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    import org.apache.spark.sql.functions.col
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$d/part_a")
    docs.filter(col("doc_id") % 2 =!= 0).write.parquet(s"$d/part_b")
    // file source streams a flat dir of parquet files
    val flat = java.nio.file.Files.createTempDirectory("graft_stream_docs_flat")
    var i = 0
    Seq("part_a", "part_b").foreach { p =>
      java.nio.file.Files.list(d.resolve(p)).forEach { f =>
        if (f.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(f, flat.resolve(s"docs_$i.parquet")); i += 1
        }
      }
    }
    flat.toString
  }

  test("streaming exact dedup equals batch distinct fingerprints across micro-batches") {
    import org.apache.spark.sql.functions.{col, md5}
    // maxFilesPerTrigger=1 makes the "across micro-batches" claim real:
    // the default file source takes every staged file in ONE trigger
    val q = DocStream
      .dedupExact(DocStream.fromParquet(spark, docStreamDir, maxFilesPerTrigger = Some(1)))
      .select("fingerprint", "doc_id")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_dedup")
      .start()
    try {
      q.processAllAvailable()
      val fedBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(fedBatches >= 2,
        s"expected >=2 data-carrying micro-batches, got $fedBatches — cross-batch state untested")
      val streamed = spark.table("stream_dedup").select("fingerprint").collect().map(_.getString(0))
      val batch = spark.read.parquet(s"$dir/documents.parquet")
        .select(md5(col("text")).as("f")).distinct().collect().map(_.getString(0))
      assert(streamed.length == streamed.distinct.length, "stream emitted a fingerprint twice")
      assert(streamed.toSet == batch.toSet)
    } finally q.stop()
  }

  test("streaming LSH band candidates equal the batch candidate set") {
    import org.apache.spark.sql.functions.{col, explode, size}
    val q = DocStream
      .lshCandidates(DocStream.fromParquet(spark, docStreamDir, maxFilesPerTrigger = Some(1)))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_lsh_cand")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_lsh_cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch candidate set: same banding, self-join, distinct
      val bands = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), graft.operators.Dedup.shingles(col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), explode(graft.plans.TextHashExpressions.minhashBandKeys(col("sh"))).as("band"))
      val batch = bands.select(col("band"), col("doc_id").as("id_a"))
        .join(bands.select(col("band"), col("doc_id").as("id_b")), Seq("band"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("capped band: arrivals past maxPerBand pair with residents only, loss is counted") {
    import spark.implicits._
    // 6 docs with IDENTICAL text: every doc lands in the same bucket for all
    // NumBands bands. With maxPerBand = 3, some 3 docs become residents;
    // later arrivals each pair against those 3 but never against each other.
    // Order-independent invariants: distinct pairs = C(6,2) − C(3,2) (the 3
    // non-residents never pair among themselves), and the saturation counter
    // ticks once per band per post-saturation arrival.
    val n    = 6
    val cap  = 3
    val text = "the same boilerplate text shared by every document in the band"
    val d    = java.nio.file.Files.createTempDirectory("graft_stream_capped")
    (0 until n)
      .map(i => (i.toLong, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/docs.parquet")
    val acc = spark.sparkContext.longAccumulator("graft.docstream.saturated")
    val q = DocStream
      .lshCandidates(DocStream.fromParquet(spark, s"$d/docs.parquet"), maxPerBand = cap, saturated = Some(acc))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_lsh_capped")
      .start()
    try {
      q.processAllAvailable()
      val pairs = spark.table("stream_lsh_capped").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val all      = n * (n - 1) / 2
      val expected = all - cap * (cap - 1) / 2
      assert(pairs.size == expected, s"expected $expected distinct pairs (of $all), got ${pairs.size}")
      // the loss is observable: one tick per band per unretained arrival
      val bandsPerDoc = graft.operators.FuzzyDedup.NumBands
      assert(acc.value == bandsPerDoc.toLong * (n - cap), s"saturation counter = ${acc.value}")
    } finally q.stop()
  }

  test("watermark-bounded dedup suppresses duplicates within the horizon") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val d = java.nio.file.Files.createTempDirectory("graft_stream_horizon")
    Seq(
      (1L, "same text", 100L),
      (2L, "same text", 150L), // dup within horizon → suppressed
      (3L, "other text", 160L)
    ).toDF("doc_id", "text", "t")
      .write.parquet(s"$d/in.parquet")
    val flat = java.nio.file.Files.createTempDirectory("graft_stream_horizon_flat")
    var i = 0
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$d/in.parquet")).forEach { f =>
      if (f.toString.endsWith(".parquet")) {
        java.nio.file.Files.copy(f, flat.resolve(s"h_$i.parquet")); i += 1
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.LongType)
    ))
    val stream = spark.readStream.schema(schema).parquet(flat.toString)
      .withColumn("ts", timestamp_seconds(col("t")))
    val q = DocStream.dedupWithinHorizon(stream, "ts", "10 minutes")
      .select("doc_id")
      .writeStream.outputMode("append").format("memory").queryName("stream_horizon").start()
    try {
      q.processAllAvailable()
      val kept = spark.table("stream_horizon").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L), s"horizon dedup kept $kept")
    } finally q.stop()
  }

  test("SpaceSaving sketch aggregates in streaming complete mode, guarantees hold") {
    import org.apache.spark.sql.functions.{col, explode}
    val stream = DocStream.fromParquet(spark, docStreamDir)
    val q = stream
      .select(col("source"))
      .groupBy()
      .agg(graft.plans.HeavyHitters.spaceSaving(col("source"), 4).as("hh"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_hh")
      .start()
    try {
      q.processAllAvailable()
      val tracked = spark
        .table("stream_hh")
        .select(explode(col("hh")).as("h"))
        .select("h.item", "h.cnt", "h.err")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(tracked.nonEmpty && tracked.length <= 4)
      val truth = spark.read.parquet(s"$dir/documents.parquet")
        .groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      tracked.foreach { case (k, c, e) =>
        assert(c >= truth(k) && c - e <= truth(k), s"sandwich violated for $k: ($c, $e) vs ${truth(k)}")
      }
    } finally q.stop()
  }

  test("PII scrub composes into a streaming aggregate with exact batch parity") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // plant PII (the gate corpus has none) and stage it as a stream source
    val rows = Seq(
      (1L, "write alice@example.com or visit 10.1.2.3", "en", "s"),
      (2L, "call 555-123-4567 about bob@test.org", "en", "s"),
      (3L, "nothing sensitive here", "de", "s"),
      (4L, "from 192.168.0.1 dial 555-999-0000", "de", "s")
    ).map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
    val d = java.nio.file.Files.createTempDirectory("graft_stream_pii")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val staged = spark.read.parquet(d.resolve("documents.parquet").toString)

    val q = graft.operators.TextAnalysis
      .piiScrubOf(DocStream.fromParquet(spark, d.resolve("documents.parquet").toString))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_pii")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_pii").collect().map(_.toSeq).toSet
      val batch    = graft.operators.TextAnalysis.piiScrubOf(staged).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      val en = spark.table("stream_pii").filter(col("lang") === "en").head()
      assert(en.getAs[Long]("total_emails") == 2 && en.getAs[Long]("total_phones") == 1)
    } finally q.stop()
  }

  test("streaming transition mining equals batch q82 pair counts") {
    val stream = EventStream.fromParquet(spark, streamDir)
    val q = EventStream
      .transitionPairs(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_transitions")
      .start()
    try {
      q.processAllAvailable()
      val got = spark
        .table("stream_transitions")
        .groupBy("prev_type", "next_type")
        .count()
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val batch = graft.operators.EventWindows
        .transitions(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("watermark contract: beyond-lateness arrival is dropped, on-time window emits exactly once") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft_late_events")
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_late_stage")
      rows
        .map { case (id, tsSec, user, typ) => (id, tsSec * 1000000000L, user, typ, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1)
        .write
        .parquet(tmp.resolve("out").toString)
      val part = java.nio.file.Files
        .list(tmp.resolve("out"))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst()
        .get()
      val dst = java.nio.file.Files.copy(part, stage.resolve(name))
      // the file source orders batches by modification time — same-millisecond
      // copies would make the batch order (and the watermark progression)
      // nondeterministic, so stamp strictly increasing times
      val seq = name.takeWhile(_.isDigit).toLong
      java.nio.file.Files.setLastModifiedTime(
        dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + seq * 60000L)
      )
    }
    val H = 3600L
    // batch 0: two on-time hour-0 clicks + an hour-5 click; the watermark
    // becomes 04:00 (1-hour bound) AFTER this batch commits
    writeBatch("001.parquet", Seq((1L, 10L, 1L, "click"), (2L, 20L, 2L, "click"), (3L, 5 * H, 3L, "click")))
    // batch 1: an hour-6 event — its eviction pass (watermark 04:00)
    // finalizes and emits the [00:00, 01:00) window
    writeBatch("002.parquet", Seq((4L, 6 * H, 3L, "click")))
    // batch 2: a 00:30 arrival — hours beyond the late-event watermark
    // (05:00, set by batch 1) — must be DROPPED, not merged or re-emitted.
    // It arrives two batches late on purpose: Spark filters late events
    // with the PREVIOUS batch's watermark (eviction uses the current one),
    // so a row arriving in the very batch its window is evicted would
    // still be merged — the one-batch grace the contract allows.
    writeBatch("003.parquet", Seq((5L, 1800L, 4L, "click")))
    val stream = EventStream.fromParquet(spark, stage.toString, maxFilesPerTrigger = Some(1))
    val q = EventStream
      .tumblingCounts(stream)
      .writeStream
      .outputMode("append") // append finalizes windows at the watermark — complete mode never drops
      .format("memory")
      .queryName("stream_late")
      .start()
    try {
      q.processAllAvailable()
      val hour0 = spark
        .table("stream_late")
        .filter(org.apache.spark.sql.functions.col("hour_start") === "1970-01-01 00:00:00")
        .collect()
      assert(hour0.length == 1, s"hour-0 window must emit exactly once, got ${hour0.toSeq}")
      assert(
        hour0.head.getAs[Long]("n_events") == 2L,
        "the beyond-watermark arrival leaked into the finalized window"
      )
      val dropped = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped == 1L, s"expected exactly the one late row dropped by the watermark, got $dropped")
    } finally q.stop()
  }

  test("streaming funnel state machine equals batch q92 conversions") {
    val stream = EventStream.fromParquet(spark, streamDir)
    val q = EventStream
      .funnelConversions(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_funnel")
      .start()
    try {
      q.processAllAvailable()
      val conv = spark.table("stream_funnel").collect()
      val batch = EventWindows.eventFunnel(spark, dir).head()
      assert(conv.length.toLong == batch.getAs[Long]("n_purchase_after"), "conversion count diverged")
      // at most one conversion per user
      assert(conv.map(_.getAs[Long]("user_id")).distinct.length == conv.length)
      if (conv.nonEmpty) {
        val latSum = conv.map(r => r.getAs[Long]("t3_us") - r.getAs[Long]("t1_us")).sum
        val avg    = BigDecimal(latSum.toDouble / conv.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
        assert(avg == batch.getAs[Double]("avg_view_to_purchase_us"), "mean view→purchase latency diverged")
      }
    } finally q.stop()
  }

  test("streaming SCD2 run-closing equals batch q91's closed intervals") {
    val stream = EventStream.fromParquet(spark, streamDir)
    val q = EventStream
      .scd2Runs(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_scd2")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark
        .table("stream_scd2")
        .collect()
        .map(r =>
          (r.getAs[Long]("user_id"), r.getAs[String]("state"), r.getAs[Long]("valid_from_us"),
            r.getAs[Long]("valid_to_us"), r.getAs[Long]("n_events"))
        )
        .toSet
      val batchClosed = EventWindows
        .scd2Intervals(spark, dir)
        .filter(org.apache.spark.sql.functions.col("is_current") === 0L)
        .collect()
        .map(r =>
          (r.getAs[Long]("user_id"), r.getAs[String]("state"), r.getAs[Long]("valid_from_us"),
            r.getAs[Long]("valid_to_us"), r.getAs[Long]("n_events"))
        )
        .toSet
      assert(streamed == batchClosed, "streamed closed runs diverged from batch q91")
      assert(streamed.nonEmpty, "fixture produced no closed runs — parity would be vacuous")
    } finally q.stop()
  }

  test("stream-stream interval join equals batch q65's positive click counts") {
    val stream = EventStream.fromParquet(spark, streamDir)
    val q = EventStream
      .purchaseClickIntervalJoin(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_interval_join")
      .start()
    try {
      q.processAllAvailable()
      val got = spark
        .table("stream_interval_join")
        .groupBy("p_id")
        .count()
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      val batch = graft.operators.EventWindows
        .rangeJoinClicks(spark, dir)
        .filter(org.apache.spark.sql.functions.col("n_clicks_10m") > 0)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(3))
        .toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running per-user totals") {
    val stream = EventStream.fromParquet(spark, streamDir)
    val q = EventStream
      .runningUserTotals(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_user_totals")
      .start()
    try {
      q.processAllAvailable()
      val rows  = spark.table("stream_user_totals")
      // last emitted summary per user must match the batch group-by
      val last  = rows.groupBy("user_id").agg(org.apache.spark.sql.functions.max("n_events").as("n"))
      val got   = last.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = spark.read.parquet(s"$dir/events.parquet")
        .groupBy("user_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("q104 growth curve: streaming novelty events reproduce the batch curve exactly") {
    import spark.implicits._
    // 3 ingest buckets (GrowthBucket = 50) with planted duplicates: within a
    // bucket, across buckets in file A, and across the micro-batch boundary
    // (file B dups of file A texts) — the cross-batch case is what the
    // fingerprint state exists for.
    def text(i: Long): String = i match {
      case 30L          => "planted duplicate alpha" // dup of 10, same file, same bucket
      case 60L          => "planted duplicate alpha" // dup of 10, same file, next bucket
      case 110L | 120L  => "planted duplicate alpha" // dups of 10, NEXT micro-batch
      case 115L         => "planted duplicate beta"  // first sighting in file B...
      case 140L         => "planted duplicate beta"  // ...dup within file B
      case 10L          => "planted duplicate alpha"
      case _            => s"unique document number $i"
    }
    val root = java.nio.file.Files.createTempDirectory("graft_stream_growth")
    val docDir = s"$root/documents.parquet"
    def write(ids: Range): Unit = ids
      .map(i => (i.toLong, text(i.toLong), "en", "s0", text(i.toLong).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(docDir)
    write(0 until 100)   // file A: buckets 0 and 1
    Thread.sleep(1100)   // distinct mtimes so the file source orders A before B
    write(100 until 150) // file B: bucket 2
    val stream = spark.readStream.schema(DocStream.DocSchema)
      .option("maxFilesPerTrigger", 1) // force >= 2 micro-batches
      .parquet(docDir)
    val q = DocStream.noveltyEvents(stream)
      .writeStream.outputMode("append").format("memory").queryName("stream_growth").start()
    try {
      q.processAllAvailable()
      val streamedCurve = DocStream.curveFromNovelty(spark.table("stream_growth"))
        .orderBy("bucket").collect().map(_.toSeq).toSeq
      val batchCurve = graft.operators.Dedup.growthCurve(spark, root.toString)
        .orderBy("bucket").collect().map(_.toSeq).toSeq
      assert(streamedCurve.nonEmpty && streamedCurve.length == 3)
      assert(streamedCurve == batchCurve, s"stream=$streamedCurve\nbatch=$batchCurve")
      // the planted dups actually bent the curve (parity is not vacuous)
      assert(streamedCurve.exists(r => r(3).asInstanceOf[Long] < r(1).asInstanceOf[Long] + r(2).asInstanceOf[Long]))
    } finally q.stop()
  }

  test("streaming heavy-hitter sketch: SpaceSaving guarantees hold vs batch-exact counts") {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    val q = DocStream
      .heavyHitterSketch(DocStream.fromParquet(spark, docStreamDir))
      .writeStream
      .outputMode("complete") // sketch state merges across micro-batches
      .format("memory")
      .queryName("stream_hh")
      .start()
    try {
      q.processAllAvailable()
      val hh = spark
        .table("stream_hh")
        .collect()
        .map(r => r.getAs[String]("item") -> (r.getAs[Long]("cnt"), r.getAs[Long]("err")))
        .toMap
      assert(hh.nonEmpty && hh.size <= graft.operators.TextAnalysis.HhCapacity)
      val exact = spark.read
        .parquet(s"$dir/documents.parquet")
        .select(explode(graft.operators.TextAnalysis.bigramsOf(col("text"))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => r.getAs[String]("bigram") -> r.getAs[Long]("n"))
        .toMap
      val total = exact.values.sum
      val bound = total.toDouble / graft.operators.TextAnalysis.HhCapacity
      // coverage: anything above total/capacity must be tracked by the
      // stream's sketch, no matter how the micro-batches sliced it
      exact.filter(_._2 > bound).foreach { case (bg, n) =>
        assert(hh.contains(bg), s"heavy bigram '$bg' (n=$n > $bound) untracked")
      }
      // sandwich: cnt >= true >= cnt - err for every tracked item
      hh.foreach { case (item, (cnt, err)) =>
        val truth = exact.getOrElse(item, 0L)
        assert(cnt >= truth && cnt - err <= truth,
          s"sandwich violated for '$item': cnt=$cnt err=$err true=$truth")
      }
    } finally q.stop()
  }

  test("index maintenance kill-and-restart: replayed batch is neither self-screened nor double-absorbed") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.operators.{DedupIndex, FuzzyDedup}
    val prefix = "recover_idx"
    val docs   = spark.read.parquet(s"$dir/documents.parquet")
    val base   = docs.filter(col("doc_id") % FuzzyDedup.DeltaMod < 8)
    val delta  = docs.filter(col("doc_id") % FuzzyDedup.DeltaMod >= 8)
    DedupIndex.build(base, prefix)
    DedupIndex.resetVerdicts(spark, prefix)
    val d  = java.nio.file.Files.createTempDirectory("graft_recover_delta")
    val cp = java.nio.file.Files.createTempDirectory("graft_recover_cp")
    delta.repartition(4).write.mode("overwrite").parquet(d.toString)

    def start(sink: (DataFrame, Long) => Unit) = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(d.toString)
      .writeStream
      .option("checkpointLocation", cp.toString)
      .foreachBatch(sink)
      .start()

    // run 1: the sink COMPLETES for batch 1 (probe + absorb + verdict
    // marker), then the query is killed before the checkpoint commit — the
    // exact window foreachBatch replays on restart
    val killer: (DataFrame, Long) => Unit = (b, id) => {
      DedupIndex.probeAndAbsorbBatch(prefix)(b, id)
      if (id == 1L) throw new RuntimeException("injected kill after sink, before checkpoint commit")
    }
    val q1 = start(killer)
    val died =
      try { q1.awaitTermination(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
      finally q1.stop()
    assert(died, "injected kill did not terminate the first run — replay untested")

    // run 2: same checkpoint, plain sink — batch 1 REPLAYS (its offset was
    // logged, its commit was not) and must no-op on its marker. Clear the
    // in-memory high-water mark first: a real restart is a fresh JVM, and
    // the replay must be caught by the TABLE probe, not the run-1 mark.
    DedupIndex.clearReplayMark(prefix)
    val q2 = start(DedupIndex.probeAndAbsorbBatch(prefix))
    try q2.processAllAvailable()
    finally q2.stop()

    val verdicts = spark.table(s"${prefix}_verdicts")
    val nDelta   = delta.count()
    // exactly one verdict per delta doc: a re-run replay would have either
    // duplicated batch-1 rows or (self-screen) flipped its survivors
    assert(verdicts.count() == nDelta, "duplicate or missing verdict rows after restart")
    assert(verdicts.select("doc_id").distinct().count() == nDelta)
    assert(verdicts.select("batch_id").distinct().count() == 4)
    // no double absorb: the fp index would carry duplicate fingerprints if
    // batch 1's survivors were appended twice
    val dupFp = spark.table(s"${prefix}_fp")
      .groupBy("fingerprint").count().filter(col("count") > 1).count()
    assert(dupFp == 0L, s"$dupFp fingerprints duplicated in the index — a batch was absorbed twice")

    // parity vs the batch q112 fold: replay the stream's own batch
    // composition through probeAndAbsorb on a fresh index; verdicts must
    // match row-for-row (a self-screened batch-1 survivor would differ)
    val comp = verdicts.select("batch_id", "doc_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val foldPrefix = "recover_fold_idx"
    DedupIndex.build(base, foldPrefix)
    val folded = comp.keys.toSeq.sorted.flatMap { id =>
      val batchDocs = delta.filter(col("doc_id").isin(comp(id).toSeq: _*))
      DedupIndex.probeAndAbsorb(spark, batchDocs, foldPrefix).collect().map(_.toSeq)
    }.toSet
    val streamed = verdicts.drop("batch_id").collect().map(_.toSeq).toSet
    assert(streamed == folded, "restart verdicts diverge from the batch q112 fold")
    // the replayed batch really had survivors at stake
    val b1Keeps = verdicts.filter(col("batch_id") === 1L && col("keep") === 1L).count()
    assert(b1Keeps > 0L, "vacuous: the killed batch had no survivors to protect")
  }

  test("a null-string/null-metric micro-batch degrades to data, never a stream failure") {
    // the streaming twin of NullTextSpec's batch contract: the batch
    // registry is proven null-proof, but the streaming paths run their own
    // typed-encoder and state machinery — a failed-scrape micro-batch
    // (every string NULL, metrics NULL) arriving mid-stream must degrade
    // exactly like the batch operators (P2 drop / P3 zero), not kill the
    // query. One clean file then one all-null file, one file per trigger,
    // so the null batch hits WARM state.
    //
    // Degraded-VECTOR note (the r16 zero/NaN-vector probe's streaming leg):
    // no streaming path reads the embedding column — DocStream consumes
    // (doc_id, text, lang, source, n_chars) and EventStream the events
    // shape; neither source schema carries a vector (grep `embedding`
    // under graft/streaming is empty). The zero-norm/NaN contract is
    // therefore fully owned by the batch boundary (Tables.finiteVectors +
    // Similarity.cosine), pinned by ZeroVectorProbeSpec/NullTextSpec; a
    // future streaming embedding source must route ingestion through the
    // same filtered view to inherit it.
    import org.apache.spark.sql.functions.lit
    val docsDir   = java.nio.file.Files.createTempDirectory("graft_nullbatch_docs")
    val eventsDir = java.nio.file.Files.createTempDirectory("graft_nullbatch_events")
    val docs   = spark.read.parquet(s"$dir/documents.parquet")
    val events = spark.read.parquet(s"$dir/events.parquet")
    def one(df: org.apache.spark.sql.DataFrame, dest: java.nio.file.Path, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_nullbatch_one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, dest.resolve(name))
    }
    one(docs, docsDir, "b0.parquet")
    one(
      docs.withColumn("text", lit(null).cast("string"))
        .withColumn("lang", lit(null).cast("string"))
        .withColumn("source", lit(null).cast("string"))
        .withColumn("n_chars", lit(null).cast("long")),
      docsDir, "b1.parquet")
    one(events, eventsDir, "b0.parquet")
    one(
      events.withColumn("event_type", lit(null).cast("string"))
        .withColumn("props", lit(null).cast("string"))
        .withColumn("value", lit(null).cast("double")),
      eventsDir, "b1.parquet")

    def docStream()   = DocStream.fromParquet(spark, docsDir.toString, maxFilesPerTrigger = Some(1))
    def eventStream() = EventStream.fromParquet(spark, eventsDir.toString, maxFilesPerTrigger = Some(1))
    val transforms: Seq[(String, String, org.apache.spark.sql.DataFrame)] = Seq(
      ("nb_dedup", "append", DocStream.dedupExact(docStream())),
      ("nb_lsh", "append", DocStream.lshCandidates(docStream()).toDF()),
      ("nb_novelty", "append", DocStream.noveltyEvents(docStream()).toDF()),
      ("nb_hh", "complete", DocStream.heavyHitterSketch(docStream())),
      ("nb_tumbling", "complete", EventStream.tumblingCounts(eventStream())),
      ("nb_sessions", "complete", EventStream.sessionCounts(eventStream())),
      ("nb_transitions", "append", EventStream.transitionPairs(eventStream()).toDF()),
      ("nb_funnel", "append", EventStream.funnelConversions(eventStream()).toDF()),
      ("nb_scd2", "append", EventStream.scd2Runs(eventStream()).toDF()),
      ("nb_totals", "append", EventStream.runningUserTotals(eventStream()).toDF())
    )
    val failures = transforms.flatMap { case (name, mode, df) =>
      val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        // both files actually fed the query — the null batch was processed,
        // not skipped
        val fed = q.recentProgress.count(_.numInputRows > 0)
        if (fed >= 2) None else Some(name -> s"only $fed data-carrying micro-batches")
      } catch {
        case e: Throwable =>
          Some(name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      } finally q.stop()
    }
    assert(
      failures.isEmpty,
      s"${failures.size} streaming transforms fail on a null micro-batch:\n" +
        failures.map { case (n, m) => s"  $n -> $m" }.mkString("\n"))
    // P3 spot check: the null batch contributes zero to running totals
    // (sum semantics over NULL), and every doc row still got a novelty
    // verdict (null-text docs share one null fingerprint)
    val nNovelty = spark.table("nb_novelty").count()
    assert(nNovelty == docs.count() * 2, s"novelty rows $nNovelty != 2x corpus")
  }

  test("EventStream.fromParquet starts on an empty directory (DefaultFileSchema fallback)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-empty-stream").toFile.getAbsolutePath
    val df  = graft.streaming.EventStream.fromParquet(spark, tmp)
    assert(df.isStreaming, "empty-dir start must yield a streaming frame, not throw")
    // normalized event shape: ts present as TIMESTAMP next to the raw ns
    assert(df.columns.toSet.intersect(Set("ts", "ts_ns", "event_type", "user_id")).size == 4)
  }

  test("EventStream.fromParquet honors an explicit caller schema on an empty directory") {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-empty-stream-ns").toFile.getAbsolutePath
    // the ns-LONG producer contract: ts arrives as a raw epoch-ns LONG
    val nsSchema = StructType(graft.streaming.EventStream.DefaultFileSchema.map {
      case f if f.name == "ts" => f.copy(dataType = LongType)
      case f                   => f
    })
    val df = graft.streaming.EventStream.fromParquet(spark, tmp, schema = Some(nsSchema))
    assert(df.isStreaming)
    assert(df.columns.contains("ts") && df.columns.contains("ts_ns"))
  }
}
