package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Quarantine
import graft.sources.{FatalStatusException, HttpResponse, HttpTimeouts, HttpTransport, Layout, RetriesExhaustedException, RetryingHttpClient, RetryPolicy}

/** Storage layout, file formats, quarantine channel, HTTP client contracts, media codec. */
class InfraSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)
  private val dir = "/root/testdata/sf0.001"

  test("bucketed table joins without an exchange on the bucket key") {
    // default warehouse dir (./spark-warehouse, gitignored) — the conf is
    // static and can't change on a live session. Clear any orphaned
    // location from prior runs (in-memory catalog forgets it).
    spark.sql("DROP TABLE IF EXISTS graft_orders_bucketed")
    val loc = new java.io.File("spark-warehouse/graft_orders_bucketed")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    Layout.writeBucketed(
      Tables.orders(spark, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
      "graft_orders_bucketed",
      "o_custkey",
      8
    )
    val t      = spark.table("graft_orders_bucketed")
    val agg    = t.groupBy("o_custkey").agg(count(lit(1)).as("n"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), s"bucketed agg still shuffles:\n$plan")
  }

  test("csv and json round-trip with explicit schemas") {
    val out  = Files.createTempDirectory("graft_formats").toString
    val src  = Tables.events(spark, dir).select("event_id", "event_type", "user_id", "value")
    src.write.mode("overwrite").option("header", "true").csv(s"$out/csv")
    src.write.mode("overwrite").json(s"$out/json")
    val csvBack = spark.read
      .option("header", "true")
      .schema("event_id LONG, event_type STRING, user_id LONG, value DOUBLE")
      .csv(s"$out/csv")
    val jsonBack = spark.read
      .schema("event_id LONG, event_type STRING, user_id LONG, value DOUBLE")
      .json(s"$out/json")
    assert(csvBack.count() == src.count())
    assert(jsonBack.count() == src.count())
    val a = src.agg(sum(col("event_id")), sum(col("user_id"))).head()
    assert(csvBack.agg(sum(col("event_id")), sum(col("user_id"))).head() == a)
    assert(jsonBack.agg(sum(col("event_id")), sum(col("user_id"))).head() == a)
  }

  test("quarantine splits rows with reasons, keeps both channels complete") {
    import spark.implicits._
    val df = Seq(
      (1L, "ok", 10.0),
      (2L, null.asInstanceOf[String], 5.0),
      (3L, "bad-value", -1.0),
      (4L, null.asInstanceOf[String], -2.0)
    ).toDF("id", "name", "value")
    val split = Quarantine.split(
      df,
      Map(
        "name_present"  -> col("name").isNotNull,
        "value_nonneg"  -> (col("value") >= 0)
      )
    )
    assert(split.valid.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    val q = split.quarantined
      .select(col("id"), col("_quarantine_reasons"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .toMap
    assert(q == Map(
      2L -> Set("name_present"),
      3L -> Set("value_nonneg"),
      4L -> Set("name_present", "value_nonneg")
    ))
  }

  test("R6: client hands concrete timeouts to the transport") {
    class RecordingTransport extends HttpTransport {
      var seen: Option[HttpTimeouts] = None
      override def configure(t: HttpTimeouts): Unit = seen = Some(t)
      override def request(m: String, p: String, b: Option[String], h: Map[String, String]) =
        HttpResponse(200, "ok")
    }
    val t = new RecordingTransport
    new RetryingHttpClient(t, RetryPolicy(), HttpTimeouts(1234, 5678)).get("/x")
    assert(t.seen.contains(HttpTimeouts(1234, 5678)))
    // defaults mirror the reference: connect 5 s, read 30 s
    val d = new RecordingTransport
    new RetryingHttpClient(d).get("/x")
    assert(d.seen.contains(HttpTimeouts(5000, 30000)))
  }

  test("R6: a timing-out transport is retried, then surfaced as exhausted") {
    class TimeoutTransport extends HttpTransport {
      var calls = 0
      override def request(m: String, p: String, b: Option[String], h: Map[String, String]) = {
        calls += 1
        throw new java.net.SocketTimeoutException("read timed out")
      }
    }
    val t = new TimeoutTransport
    val ex = intercept[RetriesExhaustedException] {
      new RetryingHttpClient(t, RetryPolicy(retries = 3, baseDelayMs = 1, capDelayMs = 2, jitterMs = 1))
        .get("/slow")
    }
    assert(t.calls == 3)
    assert(ex.attempts == 3)
  }

  test("unexpected 5xx fails fast (one attempt); 3xx returns outright") {
    class StatusTransport(status: Int) extends HttpTransport {
      var calls = 0
      override def request(m: String, p: String, b: Option[String], h: Map[String, String]) = {
        calls += 1
        HttpResponse(status, "")
      }
    }
    val fatal = new StatusTransport(501)
    intercept[FatalStatusException](new RetryingHttpClient(fatal).get("/x"))
    assert(fatal.calls == 1, "non-retryable 5xx burned the retry budget")
    val redirect = new StatusTransport(302)
    assert(new RetryingHttpClient(redirect).get("/x").status == 302)
    assert(redirect.calls == 1)
  }

  test("CLI exit parity: 422 -> 'Validation error' + code 2, interrupt -> 'Aborted.' (cli.py:46-53)") {
    import graft.etl.AnimalsDemo.exitFor
    val v = graft.sources.ValidationHttpException("friends must be a list", "POST", "/animals/v1/home")
    assert(exitFor(v).contains((2, "Validation error: friends must be a list")))
    // Spark wraps executor-side failures — the cause chain must be walked
    val wrapped = new RuntimeException("Job aborted", new RuntimeException("task failed", v))
    assert(exitFor(wrapped).contains((2, "Validation error: friends must be a list")))
    assert(exitFor(new InterruptedException()).contains((0, "Aborted.")))
    assert(exitFor(new RuntimeException("boom")).isEmpty, "unmapped errors must propagate")
  }

  test("ImageIOCodec decodes a real generated PNG per-partition; non-images fall back to FakeCodec") {
    import spark.implicits._
    import graft.operators.Multimodal
    // a real 7x5 PNG, generated with the same pure-JVM API the codec reads
    val img = new java.awt.image.BufferedImage(7, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 7).foreach(x => (0 until 5).foreach(y => img.setRGB(x, y, x * 31 + y)))
    val buf = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", buf), "JDK PNG writer unavailable")
    val png = buf.toByteArray
    // 32 bytes (a whole md5-hex multiple): non-image but NOT corrupt, so
    // the FakeCodec fallback decodes it deterministically
    val garbage = "definitely not an image.........".getBytes("UTF-8")
    assert(garbage.length == 32)
    // ragged length: corrupt bytes the fallback REFUSES — quarantined, not
    // decoded to garbage metadata
    val ragged = "truncated".getBytes("UTF-8")
    val media = Seq(
      Multimodal.MediaRecord(1L, png),
      Multimodal.MediaRecord(2L, garbage),
      Multimodal.MediaRecord(3L, ragged)
    ).toDS().repartition(3) // one record per partition: codec constructed per partition on executors
    val res = Multimodal
      .decodeSafe(media, classOf[Multimodal.ImageIOCodec].getName)
      .collect()
      .map(r => r.doc_id -> r)
      .toMap
    val decoded = res(1L).meta
    assert(res(1L).ok && decoded.width == 7 && decoded.height == 5, s"real PNG dims misread: $decoded")
    assert(decoded.n_frames == 1 && decoded.n_bytes == png.length.toLong)
    // the non-image row degrades to the deterministic fake shape, not a failure
    assert(res(2L).ok && res(2L).meta == Multimodal.FakeCodec.decode(2L, garbage))
    // the corrupt row lands in the quarantine channel with the throw's class
    assert(!res(3L).ok && res(3L).err == "decode_error:IllegalArgumentException")
  }
}
