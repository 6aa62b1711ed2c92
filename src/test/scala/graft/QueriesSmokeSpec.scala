package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must execute against sf0.001 and (where it
  * aggregates the whole table) return rows. Catches runtime plan errors
  * before the driver's verify pass does.
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)
  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle or a documented reason") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  test("approx_count_distinct is within its error bound") {
    val row         = graft.queries.Analytics.approxDistinctRaw(spark, dir).head()
    val approxParts = row.getAs[Long]("approx_parts").toDouble
    val exactParts  = row.getAs[Long]("n_parts").toDouble
    assert(math.abs(approxParts - exactParts) / exactParts < 0.1)
    // the registered q14 row carries the same check as oracle-visible flags
    val q14 = SparkEntry.queries("q14_approx_distinct")(spark, dir).head()
    assert(q14.getAs[Long]("parts_ok") == 1L && q14.getAs[Long]("orders_ok") == 1L)
  }

  test("Tables.registerAll exposes every table to spark.sql") {
    Tables.registerAll(spark, dir)
    val n = spark
      .sql("SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .head()
      .getLong(0)
    assert(n > 0)
    // events registers in normalized shape: µs TIMESTAMP + raw ns long
    val cols = spark.sql("SELECT * FROM events").columns.toSet
    assert(cols.contains("ts") && cols.contains("ts_ns"))
    assert(Tables.Names.forall(t => spark.sql(s"SELECT * FROM $t LIMIT 1").count() == 1))
  }

  test("media decode binds a codec by FQN (production seam, second fake)") {
    import spark.implicits._
    val media = graft.operators.Multimodal.mediaFromDocuments(spark, dir)
    val metas = graft.operators.Multimodal
      .decodeSafe(media, classOf[ConstCodec].getName)
      .filter(_.ok)
      .map(_.meta)
      .collect()
    assert(metas.nonEmpty)
    assert(metas.forall(m => m.checksum == "const" && m.width == 1 && m.height == 2 && m.n_frames == 3))
  }

  test("planted corrupt media rows quarantine as failure rows, never task failures") {
    import graft.operators.Multimodal
    val media  = Multimodal.mediaFromDocuments(spark, dir)
    val docIds = Tables.documents(spark, dir).collect().map(_.getAs[Long]("doc_id")).toSet
    // the two planted failure shapes: NULL payloads (null-quarantine
    // channel) and truncated payloads (throwing-codec channel); their one
    // collision (doc_id 0) resolves to NULL, per the when-chain order
    val expectedNull  = docIds.filter(_ % Multimodal.CorruptMod == 0)
    val expectedTrunc = docIds.filter(id => id % Multimodal.TruncMod == 0 && id % Multimodal.CorruptMod != 0)
    assert(expectedNull.nonEmpty && expectedTrunc.nonEmpty, "fixture must plant both corrupt shapes")
    val results = Multimodal.decodeSafe(media).collect()
    val failed  = results.filterNot(_.ok).map(r => r.doc_id -> r).toMap
    assert(failed.keySet == expectedNull ++ expectedTrunc)
    assert(expectedNull.forall(id => failed(id).err == "null_payload" && failed(id).meta == null))
    assert(expectedTrunc.forall(id =>
      failed(id).err == "decode_error:IllegalArgumentException" && failed(id).meta == null))
    assert(results.filter(_.ok).map(_.doc_id).toSet == docIds -- expectedNull -- expectedTrunc)
    // the byte-level P2 views (no codec in the path) drop only NULL
    // payloads — truncated bytes are still bytes to a histogram
    val featIds = Multimodal.mediaFeatures(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(featIds.intersect(expectedNull).isEmpty && expectedTrunc.subsetOf(featIds))
    // the codec-stage query counts BOTH planted shapes as failures
    val q51 = Multimodal.decodeStats(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_failed")).collect()(0).getLong(0)
    assert(q51 == (expectedNull.size + expectedTrunc.size).toLong)
  }

  test("a throwing codec yields decode_error rows, not a dead task") {
    import graft.operators.Multimodal
    val media = Multimodal.mediaFromDocuments(spark, dir)
    val res   = Multimodal.decodeSafe(media, classOf[ThrowingCodec].getName).collect()
    assert(res.nonEmpty && res.forall(!_.ok))
    // null payloads are pre-quarantined (codec never sees them); the rest
    // carry the codec's exception class in the reason channel
    assert(res.forall(r => r.err == "null_payload" || r.err == "decode_error:IllegalStateException"))
    assert(res.exists(_.err.startsWith("decode_error:")))
  }

  test("q46 bin ids are chunk-width invariant (two-phase offset composition)") {
    import org.apache.spark.sql.functions.col
    def rows(chunk: Long) =
      graft.operators.TrainingPrep
        .sequencePacking(spark, dir, chunk)
        .orderBy(col("doc_id"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
    // chunk 7 forces many chunks per language at sf0.001 — composition of
    // per-chunk running sums + offsets must equal the single-window result
    assert(rows(7L) == rows(1L << 30))
  }

  test("q55 global order is shard-prefix-width invariant (two-phase rank composition)") {
    import org.apache.spark.sql.functions.col
    def rows(prefixLen: Int) =
      graft.operators.TrainingPrep
        .trainingOrder(spark, dir, prefixLen)
        .orderBy(col("doc_id"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq
    assert(rows(1) == rows(3))
  }

  test("q88 cardinality invariant: trainingOrder is 1:1 with documents (cached-n substitution)") {
    // globalNtile derives its tile denominator n from the cached documents
    // row count instead of ranked.count() (r17 optimization). That is only
    // sound while trainingOrder emits exactly one row per document — a
    // future edit that filters or null-drops a row inside trainingOrder
    // would silently shift every tile boundary rather than fail. Pin the
    // invariant on real data whose 256-way shard offsets are exercised.
    val ordered = graft.operators.TrainingPrep.trainingOrder(spark, dir).count()
    val docs    = graft.Tables.rowCountCached(spark, dir, "documents")
    assert(ordered == docs, s"trainingOrder rows $ordered != documents $docs")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes on sf0.001") {
      val df = fn(spark, dir)
      val n  = df.count()
      assert(n >= 0)
    }
  }
}

/** Second fake codec, loaded by FQN in the seam test above — proves a
  * production decoder can bind without touching the operators. */
class ConstCodec extends graft.operators.Multimodal.MediaCodec {
  override def decode(docId: Long, payload: Array[Byte]): graft.operators.Multimodal.MediaMeta =
    graft.operators.Multimodal.MediaMeta(docId, payload.length.toLong, "const", 1, 2, 3)
}

/** Always-throwing codec — the corrupt-bytes stand-in for the
  * decode-failure-row contract test. */
class ThrowingCodec extends graft.operators.Multimodal.MediaCodec {
  override def decode(docId: Long, payload: Array[Byte]): graft.operators.Multimodal.MediaMeta =
    throw new IllegalStateException("unparseable media payload")
}
