package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventWindows
import graft.streaming.EventStream

/** Streaming/batch semantic parity: the streaming windowed aggregation over
  * the events files must produce exactly the batch module's result once the
  * stream is fully processed, and the sketch/scrub aggregates compose into
  * streaming queries with their batch guarantees intact.
  *
  * The tumbling parity is re-pinned under a DIFFERENT shuffle-partition
  * count (7, vs the suite default 4): the state-store partition count is
  * `spark.sql.shuffle.partitions` at query start, and keying bugs that
  * round-trip state through the wrong partition classically hide at the
  * one partition count every test uses. The 7-partition session is a child
  * (`newSession`) of the shared context: same executors, own conf — the
  * override must not leak into the other suites' session.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)
  private lazy val spark7 = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    s
  }
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

  /** Documents staged across TWO files, so the sketch's aggregation state
    * merges partials from more than one file. */
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

  /** File stream over a directory of `documents` parquet. */
  private def docStream(path: String) = spark.readStream
    .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    .parquet(path)

  test("SpaceSaving sketch aggregates in streaming complete mode, guarantees hold") {
    import org.apache.spark.sql.functions.{col, explode}
    val stream = docStream(docStreamDir)
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
      .piiScrubOf(docStream(d.resolve("documents.parquet").toString))
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

  test("a null-string/null-metric micro-batch degrades to data, never a stream failure") {
    // the streaming twin of NullTextSpec's batch contract: a failed-scrape
    // micro-batch (every string NULL, metrics NULL) arriving mid-stream
    // must degrade exactly like the batch operators (P2 drop / P3 zero),
    // not kill the query. One clean file then one all-null file, one file
    // per trigger, so the null batch hits WARM state.
    import org.apache.spark.sql.functions.lit
    val eventsDir = java.nio.file.Files.createTempDirectory("graft_nullbatch_events")
    val events = spark.read.parquet(s"$dir/events.parquet")
    def one(df: org.apache.spark.sql.DataFrame, dest: java.nio.file.Path, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_nullbatch_one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, dest.resolve(name))
    }
    one(events, eventsDir, "b0.parquet")
    one(
      events.withColumn("event_type", lit(null).cast("string"))
        .withColumn("props", lit(null).cast("string"))
        .withColumn("value", lit(null).cast("double")),
      eventsDir, "b1.parquet")

    val q = EventStream
      .tumblingCounts(EventStream.fromParquet(spark, eventsDir.toString, maxFilesPerTrigger = Some(1)))
      .writeStream.outputMode("complete").format("memory").queryName("nb_tumbling").start()
    try {
      q.processAllAvailable()
      // both files actually fed the query — the null batch was processed,
      // not skipped
      val fed = q.recentProgress.count(_.numInputRows > 0)
      assert(fed >= 2, s"nb_tumbling: only $fed data-carrying micro-batches")
    } finally q.stop()
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

  test("the child session actually runs at 7 shuffle partitions; the shared session is untouched") {
    assert(spark7.conf.get("spark.sql.shuffle.partitions") == "7")
    assert(GraftSession.get("local[4]", 4).conf.get("spark.sql.shuffle.partitions") == "4",
      "partition override leaked into the shared session — every other suite now runs at 7")
  }

  test("windowed-agg state at 7 partitions: tumbling counts equal batch q25") {
    val q = EventStream
      .tumblingCounts(EventStream.fromParquet(spark7, streamDir))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("p7_tumbling")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark7.table("p7_tumbling").collect().map(_.toSeq).toSet
      val batch    = EventWindows.tumbling(spark7, dir).collect().map(_.toSeq).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }
}
