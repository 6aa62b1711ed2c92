package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryModule, Tables}

/** Multimodal-column plumbing: media as opaque BINARY columns with typed
  * metadata, processed by per-partition decoders.
  *
  * The container has no image/audio codecs, so [[FakeCodec]] is a
  * deterministic stand-in (clearly marked): it "decodes" a binary payload
  * into (n_bytes, checksum, fake width/height from header bytes) and
  * "frame-samples" by striding the payload. The Spark-side shape is real:
  * binary columns, case-class schemas, `mapPartitions` batch decode (the
  * Scala analogue of `mapInPandas` — one codec instance per partition, not
  * per row), and partition-count control for decoder parallelism.
  *
  * Fixture (r14): media payloads derive from `doc_id` ALONE
  * ([[syntheticPayload]] — repeated md5-hex, so both sides of the oracle can
  * rebuild the bytes), NOT from `text`: the r13 null-text probe showed a
  * text-coupled fixture conflates the decode seam with the corpus — a
  * failed-scrape batch (null text) must not even touch the media path.
  * Every [[CorruptMod]]-th doc carries a NULL payload and every
  * [[TruncMod]]-th a truncated one: the planted decode-failure rows that
  * keep BOTH quarantine channels (null payload, throwing codec) exercised
  * on real data.
  *
  * Decode-failure contract (reference P2/P3 semantics — drop or
  * nullify-and-count, never throw, `/root/reference/src/animals_etl/
  * pipeline.py:39-43,67-70`): a null payload or a throwing codec yields a
  * typed failure row from [[decodeSafe]] (the [[graft.etl.Quarantine]]
  * analogue at the mapPartitions seam — reasons travel WITH the rows), and
  * per-doc feature/frame stages drop the row. A task failure on bad media
  * bytes would be a job killer at 100 TB, where corrupt payloads are
  * routine.
  *
  * Oracle caveat: q52/q53's char-level SQL (substring/ascii on the rebuilt
  * payload string) equals this byte-level path only for single-byte UTF-8 —
  * md5 hex is ASCII by construction. Real multimodal payloads are opaque
  * bytes and never round-trip through a char oracle.
  */
object Multimodal extends QueryModule {

  /** Every doc_id ≡ 0 (mod this) carries a NULL payload — the planted
    * decode-failure row (97 is prime, so the corrupt set cuts across every
    * source/lang stratum). */
  val CorruptMod = 97L

  /** Every doc_id ≡ 0 (mod this) carries a TRUNCATED payload — corrupt but
    * non-null bytes the codec THROWS on, so the `decode_error:` branch of
    * [[decodeSafe]] is exercised by a registered query (q51's per-source
    * failure counts), not only by specs. 89 is prime and distinct from
    * [[CorruptMod]]; their one collision in the fixture range (doc_id 0)
    * resolves to NULL — the `when` chain and the SQL CASE agree. */
  val TruncMod = 89L

  /** Byte length of the truncated payload: deliberately NOT a whole md5-hex
    * multiple (32), so [[FakeCodec]]'s integrity check rejects it. */
  val TruncLen = 24

  /** Payload length knob: md5-hex (32 ASCII chars) repeated 1..this times →
    * 32–992 bytes, 1–4 strided frames under [[sampleFrames]]. */
  val PayloadRepMod = 31L

  /** The synthetic media payload for `doc_id`: repeated md5 hex of the id —
    * a function of the KEY only, so (a) a DuckDB oracle rebuilds the exact
    * bytes, (b) null/garbage `text` can't reach the media path, and (c)
    * every [[CorruptMod]]-th row is NULL and every [[TruncMod]]-th row
    * truncated, keeping BOTH failure channels (null-payload quarantine,
    * throwing-codec quarantine) hot on real data. */
  def syntheticPayload(docId: Column): Column =
    when(docId % lit(CorruptMod) === 0, lit(null).cast(BinaryType))
      .when(
        docId % lit(TruncMod) === 0,
        encode(substring(md5(docId.cast(StringType)), 1, TruncLen), "UTF-8"))
      .otherwise(
        encode(
          repeat(md5(docId.cast(StringType)), (docId % lit(PayloadRepMod) + lit(1)).cast(IntegerType)),
          "UTF-8"))

  /** The oracle-side twin of [[syntheticPayload]], spliced into each query's
    * SQL — one definition, not four hand-maintained copies; the engine
    * constants are interpolated so editing one cannot desync the oracle. */
  private val PayloadSql =
    s"""CASE WHEN doc_id % $CorruptMod = 0 THEN NULL
       |  WHEN doc_id % $TruncMod = 0 THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, $TruncLen)
       |  ELSE repeat(md5(CAST(doc_id AS VARCHAR)), CAST(doc_id % $PayloadRepMod + 1 AS INTEGER)) END""".stripMargin

  /** Oracle-side validity predicate matching [[FakeCodec]]'s integrity
    * check: a payload decodes only when it is whole 32-char md5-hex
    * repeats. NULL payloads stay NULL through the ELSE (length(NULL) is
    * NULL, so the WHEN never fires). */
  private val ValidPayloadSql =
    "CASE WHEN length(p0) % 32 <> 0 THEN NULL ELSE p0 END"

  case class MediaRecord(doc_id: Long, payload: Array[Byte])
  case class MediaMeta(
      doc_id: Long,
      n_bytes: Long,
      checksum: String,
      width: Int,
      height: Int,
      n_frames: Int
  )

  /** Decoder seam, injected by FQN exactly like
    * [[graft.sources.HttpTransport.byName]]: a production image binds a real
    * image/audio codec by shipping a class name — the operators never
    * change. Implementations must have a no-arg constructor; they are
    * instantiated PER PARTITION on the executor (codec handles don't
    * serialize). */
  trait MediaCodec {
    /** Called once per partition, before the first decode — native-library
      * init goes here; the fakes keep the no-op default. */
    def open(): Unit = ()
    def decode(docId: Long, payload: Array[Byte]): MediaMeta
  }

  object MediaCodec {
    def byName(className: String): MediaCodec =
      Class.forName(className).getDeclaredConstructor().newInstance().asInstanceOf[MediaCodec]
  }

  /** Deterministic fake decoder — the default binding (this container ships
    * no codecs). Reads "dimensions" from the first header bytes and counts
    * one "frame" per 1024 bytes. */
  final class FakeCodec extends MediaCodec {
    override def decode(docId: Long, payload: Array[Byte]): MediaMeta = FakeCodec.decode(docId, payload)
  }

  /** Real image decoder over the SAME seam: pure-JVM `javax.imageio`
    * (PNG/BMP/GIF/JPEG readers ship with the JDK — no native libraries, no
    * new dependencies). Binds by FQN exactly like [[FakeCodec]]; a payload
    * that does not parse as a supported image falls back to the fake's
    * deterministic shape — which itself throws on ragged (non-32-multiple)
    * lengths, so corrupt non-image bytes land in [[decodeSafe]]'s
    * quarantine channel rather than decoding to garbage.
    * The registered q50–q53 fixtures keep [[FakeCodec]] — their oracle
    * arithmetic is byte-based by design — while this class is the
    * production binding once payloads are real images; InfraSpec decodes a
    * generated PNG through it per-partition. */
  final class ImageIOCodec extends MediaCodec {
    override def decode(docId: Long, payload: Array[Byte]): MediaMeta = {
      // NonFatal, not just IOException: the JDK plugin readers throw
      // RuntimeExceptions on corrupt input (CMMException on a broken ICC
      // profile, ArrayIndexOutOfBounds on truncated GIF/BMP) — any of
      // them must land in the fallback, not fail the task
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) FakeCodec.decode(docId, payload)
      else MediaMeta(docId, payload.length.toLong, FakeCodec.md5hex(payload), img.getWidth, img.getHeight, 1)
    }
  }

  object FakeCodec {
    private[Multimodal] def md5hex(payload: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(payload).map("%02x".format(_)).mkString

    /** The ONE header→dimensions formula, shared by [[decode]] (q50/q51)
      * and [[extractFeatures]] (q52) — their alignment is a semantic
      * invariant (resize operates on decode's dims), so it must not live
      * as two hand-maintained copies. Empty-payload floor of 1 keeps both
      * aligned with the SQL oracle's `ascii(substring(text,1,1)) % 128 +
      * 1` (ascii of an empty string is 0 in DuckDB, so it also yields 1). */
    private[Multimodal] def headerDims(payload: Array[Byte]): (Int, Int) = (
      if (payload.length > 0) (payload(0) & 0x7f) + 1 else 1,
      if (payload.length > 1) (payload(1) & 0x7f) + 1 else 1
    )

    def decode(doc_id: Long, payload: Array[Byte]): MediaMeta = {
      // integrity check — the deterministic stand-in for "real codecs
      // throw on truncated input": a valid synthetic payload is whole
      // 32-char md5-hex repeats, so a ragged length is corrupt bytes.
      // decodeSafe turns the throw into a decode_error: failure row; a
      // direct caller gets the exception, same as a real codec.
      if (payload.length % 32 != 0)
        throw new IllegalArgumentException(
          s"truncated payload: ${payload.length} bytes is not a whole md5-hex multiple")
      val sum    = md5hex(payload)
      val (w, h) = headerDims(payload)
      MediaMeta(doc_id, payload.length.toLong, sum, w, h, payload.length / 1024 + 1)
    }
  }

  /** One decode attempt, quarantine-style: `meta` populated on success,
    * null on failure with `err` naming the reason — the row-level failure
    * travels WITH the data (never a task failure), exactly like
    * [[graft.etl.Quarantine]]'s `_quarantine_reasons` but at the
    * mapPartitions seam where column rules can't reach. */
  final case class DecodeResult(doc_id: Long, err: String, meta: MediaMeta) {
    def ok: Boolean = err == null
  }

  /** Typed decode stage with the failure channel: one codec instance per
    * partition (constructed by FQN on the executor, `open()` once), batch
    * iteration — the distributed decode shape a real pipeline needs. A null
    * payload never reaches the codec; a throwing codec (corrupt bytes — the
    * JDK image readers throw RuntimeExceptions on truncated input) yields a
    * failure row naming the exception, not a dead task. */
  def decodeSafe(
      media: Dataset[MediaRecord],
      codecClass: String = classOf[FakeCodec].getName
  ): Dataset[DecodeResult] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val codec = MediaCodec.byName(codecClass)
      codec.open()
      it.map { r =>
        if (r.payload == null) DecodeResult(r.doc_id, "null_payload", null)
        else
          try DecodeResult(r.doc_id, null, codec.decode(r.doc_id, r.payload))
          catch {
            case scala.util.control.NonFatal(e) =>
              DecodeResult(r.doc_id, s"decode_error:${e.getClass.getSimpleName}", null)
          }
      }
    }
  }

  /** The media frame: doc keys joined with their [[syntheticPayload]]
    * (doc_id-derived — independent of `text` by design, see the header).
    *
    * Fan-out (`documentsDistributed`), per the per-site policy: every
    * consumer of this frame is per-row CPU (codec decode, byte
    * histograms, per-frame md5), so a single-split corpus file — the 30×
    * scale corpus is ONE 17 MB parquet, under one maxPartitionBytes
    * split — would serialize the whole decode onto one core (measured:
    * q53 4.2 s wall ≈ 4.9 cpu-s at 30× before; 0.79 s wall after). On a
    * real media corpus the payload column makes files span many splits,
    * but the decode stage stays CPU-bound — the fan-out is the correct
    * production shape, not a test crutch. */
  def mediaFromDocuments(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), syntheticPayload(col("doc_id")).as("payload"))
      .as[MediaRecord]
  }

  /** Oracle-checkable binary metadata: byte length, md5, header hex — pure
    * built-ins (the codegen'd subset of the decode). Null payloads
    * null-propagate (P3 semantics: the row survives with null metadata and
    * its id — never dropped silently, never thrown). */
  def binaryMeta(s: SparkSession, dir: String): DataFrame = {
    val payload = syntheticPayload(col("doc_id"))
    Tables
      .documentsDistributed(s, dir) // per-row md5: same fan-out rationale as [[mediaFromDocuments]]
      .select(
        col("doc_id"),
        length(payload).cast(LongType).as("n_bytes"),
        md5(payload).as("checksum"),
        lower(hex(substring(payload, 1, 8))).as("header_hex")
      )
  }

  /** Decoded metadata aggregated per source — exercises the mapPartitions
    * decode path end-to-end, WITH the failure channel: `n_failed` counts
    * quarantined rows per source (the planted [[CorruptMod]] rows land
    * here), and the metric sums cover successful decodes only (sum over a
    * null meta field skips it — same as the SQL oracle's sum-over-NULL). */
  def decodeStats(s: SparkSession, dir: String): DataFrame = {
    val src  = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val meta = decodeSafe(mediaFromDocuments(s, dir))
    meta
      .toDF()
      .join(src, Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(col("meta")).as("n_media"),
        (count(lit(1)) - count(col("meta"))).as("n_failed"),
        sum(col("meta.n_bytes")).as("total_bytes"),
        sum(col("meta.width").cast(LongType)).as("sum_width"),
        sum(col("meta.height").cast(LongType)).as("sum_height"),
        sum(col("meta.n_frames").cast(LongType)).as("sum_frames")
      )
  }

  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Long,
      rw: Long,
      rh: Long,
      bin0: Double,
      bin1: Double,
      bin2: Double,
      bin3: Double
  )

  final case class Frame(doc_id: Long, frame_idx: Long, frame_md5: String)

  /** Feature-extract + resize stage (per-partition codec): fake "image"
    * dims from header bytes resized to fit 64×64 (aspect preserved,
    * integer floor), plus a 4-bin byte-histogram feature vector. Pure byte
    * arithmetic, so the SQL oracle reproduces the mapPartitions path
    * exactly. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // P2 drop semantics: an undecodable (null) payload contributes no
      // feature row — and never a task failure
      it.filter(_.payload != null).map { r =>
        val p      = r.payload
        val n      = p.length
        val (w, h) = FakeCodec.headerDims(p) // q50's decode dims, one formula
        val scale  = math.min(math.min(64.0 / w, 64.0 / h), 1.0)
        val rw = math.max(1L, math.floor(w * scale).toLong)
        val rh = math.max(1L, math.floor(h * scale).toLong)
        val bins = new Array[Long](4)
        p.foreach(b => bins((b & 0x7f) >> 5) += 1)
        // half-away-from-zero rounding to 6 decimals (= DuckDB round(x, 6))
        def ratio(i: Int) = if (n == 0) 0.0 else math.floor(bins(i).toDouble / n * 1e6 + 0.5) / 1e6
        MediaFeatures(r.doc_id, n.toLong, rw, rh, ratio(0), ratio(1), ratio(2), ratio(3))
      }
    }
  }

  /** Frame sampling: one output row per strided 16-byte "frame" at offsets
    * 0, 256, 512, … — the generator-shaped multimodal op (explode over
    * payload positions), as mapPartitions + flatMap. */
  def sampleFrames(media: Dataset[MediaRecord]): Dataset[Frame] = {
    import media.sparkSession.implicits._
    val stride   = 256
    val frameLen = 16
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      // P2 drop: a null payload samples zero frames, never a task failure
      it.filter(_.payload != null).flatMap { r =>
        val n = r.payload.length
        (0 to (if (n == 0) 0 else (n - 1) / stride)).iterator.map { i =>
          val off   = i * stride
          val frame = r.payload.slice(off, math.min(off + frameLen, n))
          md.reset()
          val hex = md.digest(frame).map(b => f"${b & 0xff}%02x").mkString
          Frame(r.doc_id, i.toLong, hex)
        }
      }
    }
  }

  def mediaFeatures(s: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaFromDocuments(s, dir)).toDF()

  def frameSample(s: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaFromDocuments(s, dir)).toDF()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q50_binary_meta"    -> (binaryMeta _),
    "q51_decode_stats"   -> (decodeStats _),
    "q52_media_features" -> (mediaFeatures _),
    "q53_frame_sample"   -> (frameSample _)
  )

  val oracles: Map[String, String] = Map(
    "q50_binary_meta" ->
      s"""WITH m AS (SELECT doc_id, $PayloadSql AS p FROM documents)
         |SELECT doc_id, CAST(octet_length(CAST(p AS BLOB)) AS BIGINT) AS n_bytes,
         |  md5(p) AS checksum,
         |  lower(hex(encode(substring(p, 1, 8)))) AS header_hex
         |FROM m""".stripMargin,
    "q52_media_features" ->
      s"""WITH m0 AS (SELECT doc_id, $PayloadSql AS p FROM documents),
         |m AS (
         |  SELECT doc_id, p, CAST(length(p) AS BIGINT) AS n,
         |    (ascii(substring(p, 1, 1)) % 128) + 1 AS w,
         |    (ascii(substring(p, 2, 1)) % 128) + 1 AS h
         |  FROM m0 WHERE p IS NOT NULL
         |),
         |s AS (SELECT *, least(64.0 / w, 64.0 / h, 1.0) AS scale FROM m),
         |b AS (
         |  SELECT doc_id, n,
         |    greatest(1, CAST(floor(w * scale) AS BIGINT)) AS rw,
         |    greatest(1, CAST(floor(h * scale) AS BIGINT)) AS rh,
         |    len(list_filter(string_split(p, ''), c -> (ascii(c) // 32) = 0)) AS b0,
         |    len(list_filter(string_split(p, ''), c -> (ascii(c) // 32) = 1)) AS b1,
         |    len(list_filter(string_split(p, ''), c -> (ascii(c) // 32) = 2)) AS b2,
         |    len(list_filter(string_split(p, ''), c -> (ascii(c) // 32) = 3)) AS b3
         |  FROM s
         |)
         |SELECT doc_id, n AS n_bytes, rw, rh,
         |  -- n = 0 must yield 0.0, not 0/0 -> NULL, matching the Scala path
         |  CASE WHEN n = 0 THEN 0.0 ELSE floor(CAST(b0 AS DOUBLE) / n * 1000000 + 0.5) / 1000000 END AS bin0,
         |  CASE WHEN n = 0 THEN 0.0 ELSE floor(CAST(b1 AS DOUBLE) / n * 1000000 + 0.5) / 1000000 END AS bin1,
         |  CASE WHEN n = 0 THEN 0.0 ELSE floor(CAST(b2 AS DOUBLE) / n * 1000000 + 0.5) / 1000000 END AS bin2,
         |  CASE WHEN n = 0 THEN 0.0 ELSE floor(CAST(b3 AS DOUBLE) / n * 1000000 + 0.5) / 1000000 END AS bin3
         |FROM b""".stripMargin,
    "q53_frame_sample" ->
      s"""WITH m AS (SELECT doc_id, $PayloadSql AS p FROM documents)
         |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
         |  md5(substring(p, CAST(i * 256 + 1 AS INTEGER), 16)) AS frame_md5
         |FROM (
         |  SELECT doc_id, p,
         |    unnest(generate_series(0, CAST((length(p) - 1) // 256 AS BIGINT))) AS i
         |  FROM m WHERE p IS NOT NULL
         |)""".stripMargin,
    "q51_decode_stats" ->
      s"""WITH m0 AS (SELECT doc_id, source, $PayloadSql AS p0 FROM documents),
         |m AS (SELECT doc_id, source, $ValidPayloadSql AS p FROM m0)
         |SELECT source,
         |  count(p) AS n_media,
         |  count(*) - count(p) AS n_failed,
         |  CAST(sum(octet_length(CAST(p AS BLOB))) AS BIGINT) AS total_bytes,
         |  CAST(sum((ascii(substring(p, 1, 1)) % 128) + 1) AS BIGINT) AS sum_width,
         |  CAST(sum((ascii(substring(p, 2, 1)) % 128) + 1) AS BIGINT) AS sum_height,
         |  CAST(sum(octet_length(CAST(p AS BLOB)) // 1024 + 1) AS BIGINT) AS sum_frames
         |FROM m GROUP BY source""".stripMargin
  )
}
