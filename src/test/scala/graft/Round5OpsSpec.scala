package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphOps, Similarity, TrainingPrep}
import graft.queries.Analytics

/** Round-5 operators: PageRank (q77), salted skew-join (q78), int8
  * quantization (q79), snapshot diff (q80). Semantic fixtures + the plan
  * properties that make each scale. */
class Round5OpsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)
  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q77: hand-computed ranks on a 3-node chain (1→2→3)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = GraphOps
      .pageRankOver(edges)
      .orderBy("node")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // r0 = 1e6 each; teleport = 150000, damp 0.85, outdeg 1:
    // iter1: (150000, 1000000, 1000000)
    // iter2: (150000, 150000+floor(.85·150000)=277500, 1000000)
    // iter3: (150000, 277500, 150000+floor(.85·277500)=385875)
    assert(
      got.toSeq == Seq(
        (1L, 150000L, 1L, 0L),
        (2L, 277500L, 1L, 1L),
        (3L, 385875L, 0L, 1L)
      ),
      s"got: ${got.toSeq}"
    )
  }

  test("q77: every rank ≥ teleport floor and dangling mass only leaks (sum ≤ n·scale)") {
    val rows = GraphOps.pageRank(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) >= GraphOps.Teleport), "rank below teleport floor")
    val total = rows.map(_.getLong(1)).sum
    assert(
      total <= rows.length * GraphOps.RankScale,
      "rank mass grew: dangling leak should only shrink the total"
    )
  }

  test("q78: salted join result equals the direct (unsalted) join") {
    val got = Analytics
      .saltedJoin(spark, dir)
      .orderBy("s_name")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val li = Tables
      .lineitem(spark, dir)
      .withColumn(
        "join_key",
        when(col("l_orderkey") % 10 < 7, lit(1L)).otherwise(col("l_suppkey"))
      )
    val expect = li
      .join(Tables.supplier(spark, dir), col("join_key") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(Num.dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("s_name")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.toSeq == expect.toSeq)
  }

  test("q78: the salted join is a shuffled (non-broadcast) join over the exploded dim") {
    val plan = finalPlan(Analytics.saltedJoin(spark, dir))
    assert(plan.contains("ShuffledHashJoin"), s"expected the hinted shuffled join in:\n$plan")
    assert(plan.contains("Generate explode"), "dim side not replicated via explode")
    // the hot key must be spread: the join keys include the salt column
    assert(plan.contains("salt"), "salt column missing from the physical join")
  }

  test("q79: reconstruction error bounded by the quantization step (rng/255 + 1)") {
    val emb = Tables
      .embeddings(spark, dir)
      .select(transform(col("embedding"), x => floor(x.cast("double") * lit(1e6))).as("qv"))
    val stats = emb
      .select(posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect()
    val worstStep = stats.map(r => math.max(r.getLong(2) - r.getLong(1), 1L) / 255.0 + 1.0).max
    val rows = Similarity.int8Quantize(spark, dir).collect()
    assert(rows.nonEmpty)
    val maxErr = rows.map(_.getLong(4)).max
    assert(maxErr <= worstStep.ceil.toLong, s"max_abs_err $maxErr exceeds step bound $worstStep")
  }

  test("q80: category counts match the direct modular predicates") {
    val byCat = TrainingPrep
      .snapshotDiff(spark, dir)
      .agg(
        sum("n_added").as("a"),
        sum("n_removed").as("r"),
        sum("n_changed").as("c"),
        sum("n_unchanged").as("u"),
        sum("n_total").as("t")
      )
      .head()
    val docs = Tables.documents(spark, dir)
    def cnt(c: org.apache.spark.sql.Column): Long = docs.filter(c).count()
    val added   = cnt(col("doc_id") % 13 === 0 && col("doc_id") % 17 =!= 0)
    val removed = cnt(col("doc_id") % 17 === 0 && col("doc_id") % 13 =!= 0)
    val changed = cnt(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0 && col("doc_id") % 17 =!= 0)
    assert(byCat.getLong(0) == added, "added")
    assert(byCat.getLong(1) == removed, "removed")
    assert(byCat.getLong(2) == changed, "changed")
    assert(byCat.getLong(4) == byCat.getLong(0) + byCat.getLong(1) + byCat.getLong(2) + byCat.getLong(3))
  }

  test("q81: union-merged sketch estimate ≈ exact global distinct (tolerance spec-asserted, not hash-gated)") {
    val rows = graft.operators.Dedup.sketchRollupEst(spark, dir).collect()
    assert(rows.nonEmpty)
    // every per-source and the merged __all__ estimate must land within
    // SketchTol (16% ≈ 10σ at lgK=12) of its exact count — the round-7
    // home of the probabilistic assertion the gate hash no longer carries
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val est   = r.getDouble(2)
      assert(math.abs(est - exact) <= graft.operators.Dedup.SketchTol * exact,
        s"sketch estimate outside bound for ${r.getString(0)}: est=$est exact=$exact")
    }
    val all = rows.filter(_.getString(0) == "__all__")
    assert(all.length == 1)
    // __all__ covers at least as many distincts as the largest source
    val maxSrc = rows.filter(_.getString(0) != "__all__").map(_.getLong(1)).max
    assert(all.head.getLong(1) >= maxSrc)
    // the registered (hash-gated) q81 is the deterministic projection
    val gate = graft.operators.Dedup.sketchRollup(spark, dir)
    assert(gate.columns.toSeq == Seq("scope", "n_exact"))
  }

  test("q82: transition counts sum to n_events − n_users-with-events, probabilities sum to 1 per prev") {
    val t = graft.operators.EventWindows.transitions(spark, dir)
    val ev = Tables.events(spark, dir)
    val nEvents = ev.count()
    val nUsers  = ev.select("user_id").distinct().count()
    val total   = t.agg(sum("n")).head().getLong(0)
    assert(total == nEvents - nUsers, s"pairs $total != events $nEvents - users $nUsers")
    val probSums = t.groupBy("prev_type").agg(sum("p").as("ps")).collect()
    // per-row rounding to 6 decimals: the sum can drift by ≤ #rows·5e-7
    assert(probSums.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-4))
  }

  test("q83: merge accounting closes (base and delta fully explained) and text never shuffles") {
    val df   = TrainingPrep.upsertMerge(spark, dir)
    val agg  = df
      .agg(
        sum("n_kept").as("k"),
        sum("n_updated").as("u"),
        sum("n_inserted").as("i"),
        sum("n_deleted").as("d"),
        sum("n_final").as("f")
      )
      .head()
    val docs  = Tables.documents(spark, dir)
    val nBase = docs.count()
    assert(agg.getLong(0) + agg.getLong(1) + agg.getLong(2) == agg.getLong(4), "final = kept+updated+inserted")
    assert(agg.getLong(0) + agg.getLong(1) + agg.getLong(3) == nBase, "base rows = kept+updated+deleted")
    assert(agg.getLong(1) == docs.filter(col("doc_id") % 9 === 0 && col("doc_id") % 23 =!= 0).count())
    assert(agg.getLong(3) == docs.filter(col("doc_id") % 23 === 0).count())
    assert(agg.getLong(2) == docs.filter(col("doc_id") % 9 === 4).count())
    val plan = finalPlan(df)
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchanges.contains("text"), s"raw text shuffles in upsert merge: $exchanges")
  }

  test("q84: native as-of exec — fixture semantics (inclusive ties, no-match nulls, interleaved keys)") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "l-a"), // before any right row for key 1 → null
      (1L, 20L, "l-b"), // matches rt=20 (inclusive tie)
      (1L, 35L, "l-c"), // matches rt=30 (greatest ≤ 35)
      (2L, 5L, "l-d"),  // key 2: matches rt=1
      (3L, 50L, "l-e")  // key 3 has no right rows at all → null
    ).toDF("k", "t", "lv")
    val right = Seq(
      (1L, 20L, "r-20"),
      (1L, 30L, "r-30"),
      (1L, 40L, "r-40"), // never reached (future of every left row)
      (2L, 1L, "r-1")
    ).toDF("rk", "rt", "rv")
    val got = graft.plans.AsOfJoinNative
      .asof(left, right, key = "k", rightKey = "rk", leftTime = "t", rightTime = "rt")
      .select("k", "t", "lv", "rt", "rv")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3), r.getString(4)))
      .sortBy(x => (x._1, x._2))
    assert(
      got.toSeq == Seq(
        (1L, 10L, "l-a", -1L, null),
        (1L, 20L, "l-b", 20L, "r-20"),
        (1L, 35L, "l-c", 30L, "r-30"),
        (2L, 5L, "l-d", 1L, "r-1"),
        (3L, 50L, "l-e", -1L, null)
      ),
      s"got: ${got.toSeq}"
    )
  }

  test("q84: property — native as-of agrees with a plain-Scala model on seeded random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // small key/time domains force heavy collisions: ties, runs of equal
    // times, keys present on only one side
    val row   = Gen.zip(Gen.chooseNum(0L, 6L), Gen.chooseNum(0L, 30L))
    val cases = Gen.zip(Gen.listOfN(120, row), Gen.listOfN(80, row)).pureApply(Gen.Parameters.default, Seed(7L))
    val (lRows, rRowsRaw) = cases
    // right must be unique per (key, time) — the operator's contract
    val rRows = rRowsRaw.distinct
    val left  = lRows.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k", "t", "lid")
    val right = rRows.map { case (k, t) => (k, t, k * 1000 + t) }.toDF("rk", "rt", "rv")
    val got = graft.plans.AsOfJoinNative
      .asof(left, right, "k", "rk", "t", "rt")
      .select("lid", "rt", "rv")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else (r.getLong(1), r.getLong(2))))
      .toMap
    val model = lRows.zipWithIndex.map { case ((k, t), i) =>
      val m = rRows.filter(r => r._1 == k && r._2 <= t).sortBy(_._2).lastOption
      i.toLong -> m.map(r => (r._2, r._1 * 1000 + r._2)).orNull
    }.toMap
    assert(got == model)
  }

  test("q84: native as-of equals the q28 window composition row-for-row") {
    val native = graft.operators.AsOfJoin.purchaseAsofClickNative(spark, dir).collect()
    val window = graft.operators.AsOfJoin.purchaseAsofClick(spark, dir).collect()
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf).mkString("|")
    assert(native.map(key).sorted.toSeq == window.map(key).sorted.toSeq)
  }

  test("q84: the plan is the dedicated exec — no union, no window state machine") {
    val plan = finalPlan(graft.operators.AsOfJoin.purchaseAsofClickNative(spark, dir))
    assert(plan.contains("AsOfJoin"), s"native exec missing in:\n$plan") // renders without the Exec suffix
    assert(!plan.contains("Window"), "window operator leaked into the native as-of plan")
    assert(!plan.contains("Union"), "union leaked into the native as-of plan")
  }

  test("q79: the quantize pass is map-side — no corpus exchange (model rides as literals)") {
    val plan = finalPlan(Similarity.int8Quantize(spark, dir))
    // the only exchange feeds the final per-label aggregate: skinny row
    // stats, never the vector column
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchanges.contains("qv") && !exchanges.contains("embedding"),
      s"vector column rides an exchange in q79: $exchanges")
  }

  test("q81: one corpus scan feeds per-source sketches AND the global exact count") {
    val plan = finalPlan(graft.operators.Dedup.sketchRollup(spark, dir))
    // the corpus is scanned ONCE, inside the localCheckpoint of the distinct
    // (source, fp) table; the registered plan itself must read only the
    // materialized distinct — any FileScan here means the single-pass claim
    // regressed (the optimizer otherwise prunes each consumer into its own
    // corpus scan)
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 0, s"expected zero corpus scans above the checkpointed distinct, got $scans:\n$plan")
  }

  test("q80: exchanges carry fingerprints, never text") {
    val plan = finalPlan(TrainingPrep.snapshotDiff(spark, dir))
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchanges.contains("text"), s"raw text shuffles in snapshot diff: $exchanges")
  }

  /** Write an events.parquet fixture in the driver's shape (ts = raw ns
    * epoch long, as the nanos-parquet contract reads it). */
  private def eventsFixture(rows: Seq[(Long, Long, Long, String)]): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-events").toFile.getAbsolutePath
    rows
      .map { case (id, tsSec, user, typ) => (id, tsSec * 1000000000L, user, typ, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write
      .parquet(s"$tmp/events.parquet")
    tmp
  }

  test("q91: SCD2 islands on a hand-built run sequence (runs, closes, current flag, id tiebreak)") {
    import spark.implicits._
    val dir = eventsFixture(
      Seq(
        // user 1: view,view | click,click | view  → 3 islands
        (10L, 1L, 1L, "view"), (11L, 2L, 1L, "view"), (12L, 3L, 1L, "click"),
        (13L, 4L, 1L, "click"), (14L, 5L, 1L, "view"),
        // user 2: a single open-ended run
        (20L, 7L, 2L, "error"),
        // user 3: two events at the SAME ts — event_id must break the tie
        (30L, 10L, 3L, "view"), (31L, 10L, 3L, "click")
      )
    )
    val out = graft.operators.EventWindows
      .scd2Intervals(spark, dir)
      .select(col("user_id"), col("state"), col("valid_from_us"), col("valid_to_us"), col("n_events"), col("is_current"))
      .as[(Long, String, Long, Option[Long], Long, Long)]
      .collect()
      .toSet
    val M = 1000000L // seconds → micros
    assert(
      out == Set(
        (1L, "view", 1 * M, Some(3 * M), 2L, 0L),
        (1L, "click", 3 * M, Some(5 * M), 2L, 0L),
        (1L, "view", 5 * M, None, 1L, 1L),
        (2L, "error", 7 * M, None, 1L, 1L),
        (3L, "view", 10 * M, Some(10 * M), 1L, 0L),
        (3L, "click", 10 * M, None, 1L, 1L)
      ),
      s"SCD2 intervals diverged: $out"
    )
  }

  test("q95: cohort retention matrix — signup-week cohorts, pre-signup activity excluded") {
    import spark.implicits._
    val wk = 604800L // seconds per week; fixture ts are seconds
    val dir = eventsFixture(
      Seq(
        // user 1: signs up week 0, active weeks 1 and 2
        (1L, 100L, 1L, "signup"), (2L, wk + 100L, 1L, "click"), (3L, 2 * wk + 100L, 1L, "view"),
        // user 2: signs up week 0, never returns
        (4L, 200L, 2L, "signup"),
        // user 3: pre-signup view must NOT count; signs up week 1, active that week
        (5L, 100L, 3L, "view"), (6L, wk + 200L, 3L, "signup"), (7L, wk + 300L, 3L, "click")
      )
    )
    val out = graft.operators.EventWindows
      .cohortRetention(spark, dir)
      .as[(Long, Long, Long, Long, Double)]
      .collect()
      .toSet
    assert(
      out == Set(
        (0L, 0L, 2L, 2L, 1.0),  // both week-0 users active in their signup week
        (0L, 1L, 1L, 2L, 0.5),  // only user 1 returns in week 1
        (0L, 2L, 1L, 2L, 0.5),
        (1L, 0L, 1L, 1L, 1.0)   // user 3's pre-signup view excluded
      ),
      s"retention matrix diverged: $out"
    )
  }

  test("q97: window-2 pairs on a tiny doc — exact skip-gram counts and marginals") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pmi").toFile.getAbsolutePath
    // "a b c" at window 2 → ordered pairs (a,b), (b,c), (a,c); marginals a=1 b=2 c=1 over both docs
    Seq((1L, "a b c", "en", "s", 5L), (2L, "b", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$tmp/documents.parquet")
    val out = graft.operators.TextAnalysis
      .pmiPairs(spark, tmp)
      .select(col("w1"), col("w2"), col("n_pair"), col("c1"), col("c2"))
      .as[(String, String, Long, Long, Long)]
      .collect()
      .toSet
    assert(
      out == Set(("a", "b", 1L, 1L, 2L), ("b", "c", 1L, 2L, 1L), ("a", "c", 1L, 1L, 1L)),
      s"skip-gram pairs diverged: $out"
    )
  }

  test("q102: every packed shard stays within budget + one boundary doc; manifest closes to the corpus") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val maxDoc = docs
      .select(max(size(split(col("text"), " +")).cast("long")))
      .as[Long]
      .head()
    val shards = TrainingPrep
      .packedShardExport(spark, dir)
      .select(col("lang"), col("bin_id"), col("n_docs"), col("n_tokens"))
      .as[(String, Long, Long, Long)]
      .collect()
    // exclusive-prefix packing can overflow a bin only by the doc that crosses the boundary
    shards.foreach { case (lang, bin, _, toks) =>
      assert(toks < TrainingPrep.TokenBudget + maxDoc, s"shard ($lang, $bin) holds $toks tokens")
    }
    assert(shards.map(_._3).sum == docs.count(), "manifest doc counts don't close to the corpus")
  }

  test("q100: drift table closes — label rows sum to the global row, floor bound holds") {
    import spark.implicits._
    val rows = Similarity
      .embeddingDrift(spark, dir)
      .select(col("scope"), col("dim"), col("n"), col("sum_micro"), col("mean_micro"))
      .as[(String, Long, Long, Long, Long)]
      .collect()
    val (global, labels) = rows.partition(_._1 == "__all__")
    assert(global.nonEmpty && labels.nonEmpty)
    // accounting closure: per dim, label sums reproduce the global row exactly
    val byDim = labels.groupBy(_._2).view.mapValues(rs => (rs.map(_._3).sum, rs.map(_._4).sum)).toMap
    global.foreach { case (_, dim, n, s, _) =>
      assert(byDim(dim) == ((n, s)), s"dim $dim: label rows don't close to the global row")
    }
    // floor bound: mean_micro·n ≤ sum_micro < (mean_micro+1)·n
    rows.foreach { case (scope, dim, n, s, m) =>
      assert(m * n <= s && s < (m + 1) * n, s"floor bound violated at ($scope, $dim)")
    }
  }

  test("q99: planted orphan rows are counted per FK edge; intact edges report zero") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-fk").toFile.getAbsolutePath
    // row 3 is orphaned on BOTH lineitem edges (order 99, supplier 99)
    Seq((1L, 10L), (2L, 10L), (3L, 99L)).toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$tmp/lineitem.parquet")
    Seq((1L, 100L), (2L, 100L)).toDF("o_orderkey", "o_custkey").write.parquet(s"$tmp/orders.parquet")
    Seq((100L, 0)).toDF("c_custkey", "c_nationkey").write.parquet(s"$tmp/customer.parquet")
    Seq(Tuple1(10L)).toDF("s_suppkey").write.parquet(s"$tmp/supplier.parquet")
    Seq(Tuple1(0)).toDF("n_nationkey").write.parquet(s"$tmp/nation.parquet")
    val out = Analytics
      .fkIntegrity(spark, tmp)
      .select(col("fk"), col("n_rows"), col("n_orphans"))
      .as[(String, Long, Long)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out("lineitem.l_orderkey->orders") == ((3L, 1L)), s"orphan order not counted: $out")
    assert(out("lineitem.l_suppkey->supplier") == ((3L, 1L)))
    assert(out("orders.o_custkey->customer") == ((2L, 0L)))
    assert(out("customer.c_nationkey->nation") == ((1L, 0L)))
  }

  test("q98: profile counts planted nulls and exact distincts per column") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-profile").toFile.getAbsolutePath
    Seq(
      (1L, 1000000000L, 1L, "view", Option(1.0), Option("{}")),
      (2L, 2000000000L, 1L, "view", Option.empty[Double], Option("{}")),
      (3L, 3000000000L, 2L, "click", Option(2.0), Option.empty[String])
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write
      .parquet(s"$tmp/events.parquet")
    val out = graft.operators.EventWindows
      .dataProfile(spark, tmp)
      .select(col("col_name"), col("n_rows"), col("n_null"), col("n_distinct"))
      .as[(String, Long, Long, Long)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3, r._4)))
      .toMap
    assert(out("event_id") == ((3L, 0L, 3L)))
    assert(out("value") == ((3L, 1L, 2L)), s"null double not profiled: $out")
    assert(out("props") == ((3L, 1L, 1L)))
    assert(out("event_type") == ((3L, 0L, 2L)))
  }

  test("q96: burst hour flagged against the user's own baseline; constant rate never flags") {
    import spark.implicits._
    var id = 0L
    def burst(user: Long, hour: Long, n: Int): Seq[(Long, Long, Long, String)] =
      (0 until n).map { i => id += 1; (id, hour * 3600L + i, user, "click") }
    // user 1: 1 event/hour for 10 hours, then a 20-event burst hour
    // user 2: constant 3 events/hour — σ = 0, nothing can exceed mean + 3σ
    val dir = eventsFixture(
      (0L until 10L).flatMap(h => burst(1L, h, 1)) ++ burst(1L, 10L, 20) ++
        (0L until 5L).flatMap(h => burst(2L, h, 3))
    )
    val out = graft.operators.EventWindows
      .rateAnomaly(spark, dir)
      .select(col("user_id"), col("n_hours"), col("max_cnt"), col("n_anomalous_hours"))
      .as[(Long, Long, Long, Long)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3, r._4)))
      .toMap
    assert(out(1L) == ((11L, 20L, 1L)), s"burst not flagged: $out")
    assert(out(2L) == ((5L, 3L, 0L)), s"constant rate false-flagged: $out")
  }

  test("q92: funnel order constraints — pre-view clicks and pre-click purchases don't count") {
    val dir = eventsFixture(
      Seq(
        // user 1: click BEFORE view, then view → click → purchase (converts, 2 s latency)
        (1L, 1L, 1L, "click"), (2L, 2L, 1L, "view"), (3L, 3L, 1L, "click"), (4L, 4L, 1L, "purchase"),
        // user 2: view then purchase with NO intervening click — stops at step 1
        (5L, 1L, 2L, "view"), (6L, 2L, 2L, "purchase"),
        // user 3: everything in reverse order — enters the funnel, converts nothing
        (7L, 1L, 3L, "purchase"), (8L, 2L, 3L, "click"), (9L, 3L, 3L, "view")
      )
    )
    val r = graft.operators.EventWindows.eventFunnel(spark, dir).collect().head
    assert(r.getAs[Long]("n_view") == 3L)
    assert(r.getAs[Long]("n_click_after") == 1L)
    assert(r.getAs[Long]("n_purchase_after") == 1L)
    assert(r.getAs[Double]("avg_view_to_purchase_us") == 2000000.0)
    assert(r.getAs[Double]("conversion") == 0.333333)
  }

  test("q103: BM25 ranking semantics — tf wins, length normalization demotes, no-term docs absent") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25").toFile.getAbsolutePath
    val pad = (1 to 60).map(i => s"pad$i").mkString(" ")
    Seq(
      (1L, "spark hash join alpha beta gamma delta eps", "en", "s", 10L),  // all q1 terms once, short
      (2L, "spark spark hash hash join join alpha beta", "en", "s", 10L),  // double tf, same length
      (3L, "alpha beta gamma delta eps zeta eta theta", "en", "s", 10L),   // no query terms
      (4L, s"spark hash join $pad", "en", "s", 10L)                        // same tf as doc 1, 8x longer
    ).toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tmp/documents.parquet")
    val q1 = graft.operators.TextAnalysis
      .bm25Retrieval(spark, tmp)
      .filter(col("query_id") === "q1")
      .orderBy("rnk")
      .select(col("doc_id"), col("score_micro"))
      .as[(Long, Long)]
      .collect()
    assert(q1.map(_._1).toSeq == Seq(2L, 1L, 4L), s"BM25 order diverged: ${q1.toSeq}")
    assert(q1(0)._2 > q1(1)._2 && q1(1)._2 > q1(2)._2, "scores must strictly decrease on this fixture")
    assert(!q1.map(_._1).contains(3L), "a doc with no query terms must not be retrieved")
  }

  test("q104: saturation curve — all-repeat bucket shows dup_rate 1.0 and a flat cumulative") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-growth").toFile.getAbsolutePath
    val docs =
      (0 until 50).map(i => (i.toLong, s"fresh a$i", "en", "s", 10L)) ++          // bucket 0: all new
        (50 until 100).map(i => (i.toLong, s"fresh b$i", "en", "s", 10L)) ++     // bucket 1: all new
        (100 until 150).map(i => (i.toLong, s"fresh a${i - 100}", "en", "s", 10L)) // bucket 2: all repeats of bucket 0
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tmp/documents.parquet")
    val out = graft.operators.Dedup
      .growthCurve(spark, tmp)
      .select(col("bucket"), col("n_docs"), col("n_new_distinct"), col("cum_distinct"), col("dup_rate"))
      .as[(Long, Long, Long, Long, Double)]
      .collect()
      .sortBy(_._1)
      .toSeq
    assert(
      out == Seq((0L, 50L, 50L, 50L, 0.0), (1L, 50L, 50L, 100L, 0.0), (2L, 50L, 0L, 100L, 1.0)),
      s"growth curve diverged: $out"
    )
  }

  test("q101: full embedding of a short doc scores containment 1.0 where jaccard fails the q32 bar") {
    import spark.implicits._
    val tmp   = java.nio.file.Files.createTempDirectory("graft-contain").toFile.getAbsolutePath
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")            // 10 trigram shingles
    val wrapper = quote + " " + (1 to 40).map(i => s"w$i").mkString(" ") // quote + 40 unique tokens
    Seq(
      (1L, quote, "en", "s", 10L),
      (2L, wrapper, "en", "s", 10L),
      (3L, (1 to 20).map(i => s"z$i").mkString(" "), "en", "s", 10L) // unrelated
    ).toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tmp/documents.parquet")
    val rows = graft.operators.Dedup
      .containment(spark, tmp)
      .select(col("id_a"), col("id_b"), col("containment"), col("jaccard"))
      .as[(Long, Long, Double, Double)]
      .collect()
    assert(rows.length == 1, s"expected exactly the planted pair: ${rows.toSeq}")
    val (a, b, c, j) = rows.head
    assert((a, b) == ((1L, 2L)))
    assert(c == 1.0, s"full embedding must score containment 1.0, got $c")
    assert(j < 0.3, s"the planted pair must sit below q32's jaccard bar (got $j) — otherwise the test is vacuous")
  }

  test("q93: planted per-source boilerplate header is flagged; clean source reports zero") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-boiler").toFile.getAbsolutePath
    val header = (1 to 8).map(i => s"hdr$i").mkString(" ") // one exact 8-token span
    val docs =
      (0 until 10).map { i =>
        val tail = (1 to 8).map(j => s"body${i}_$j").mkString(" ")
        (i.toLong, s"$header $tail", "en", "srcBoiler", 10L)
      } ++
        (0 until 5).map { i =>
          (100L + i, (1 to 8).map(j => s"clean${i}_$j").mkString(" "), "en", "srcClean", 10L)
        }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tmp/documents.parquet")
    val out = graft.operators.Dedup
      .boilerplate(spark, tmp)
      .select(col("source"), col("n_docs"), col("n_distinct_spans"), col("n_boiler_spans"), col("boiler_doc_hits"))
      .as[(String, Long, Long, Long, Long)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5)))
      .toMap
    // header appears in all 10 docs (df=10 ≥ 0.2·10); the 10 unique tails don't
    assert(out("srcBoiler") == ((10L, 11L, 1L, 10L)), s"boilerplate report diverged: $out")
    assert(out("srcClean") == ((5L, 5L, 0L, 0L)))
  }

  test("q94: temperature allocation on skewed sources — exact √-weights, small source upsampled") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-mix").toFile.getAbsolutePath
    def doc(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")
    Seq(
      (1L, doc(6400, "a"), "en", "srcBig", 10L),
      (2L, doc(1600, "b"), "en", "srcMid", 10L),
      (3L, doc(400, "c"), "en", "srcSmall", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tmp/documents.parquet")
    val out = graft.operators.TrainingPrep
      .mixAllocation(spark, tmp)
      .select(col("source"), col("tokens"), col("w_micro"), col("share"), col("target_tokens"), col("epochs"))
      .as[(String, Long, Long, Double, Long, Double)]
      .collect()
      .map(r => r._1 -> r)
      .toMap
    // √6400=80, √1600=40, √400=20 → weights 4:2:1 of the 8400·0.5=4200 budget
    assert(out("srcBig") == (("srcBig", 6400L, 80000000L, 0.571429, 2400L, 0.375)))
    assert(out("srcMid") == (("srcMid", 1600L, 40000000L, 0.285714, 1200L, 0.75)))
    assert(out("srcSmall") == (("srcSmall", 400L, 20000000L, 0.142857, 600L, 1.5)))
  }

  test("q90: planted cross-source overlap — exact pair counts, flags earned") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-overlap").toFile.getAbsolutePath
    // srcA has 20 docs; srcB shares exactly 5 canonical texts with srcA;
    // srcC is disjoint — so the pair matrix is fully known in advance
    val docs =
      (0 until 20).map(i => (i.toLong, s"alpha doc $i", "en", "srcA", 10L)) ++
        (0 until 10).map(i => (100L + i, if (i < 5) s"alpha doc $i" else s"beta doc $i", "en", "srcB", 10L)) ++
        (0 until 8).map(i => (200L + i, s"gamma doc $i", "en", "srcC", 10L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tmp/documents.parquet")
    val full = graft.operators.Dedup
      .sourceOverlapEst(spark, tmp)
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_inter"), col("est_inter"))
      .as[(String, String, Long, Long, Long, Double)]
      .collect()
    val out = full.map(r => (r._1, r._2) -> r._5).toMap
    assert(out.keySet == Set(("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")))
    assert(out(("srcA", "srcB")) == 5L, s"planted 5-doc overlap missed: $out")
    assert(out(("srcA", "srcC")) == 0L)
    assert(out(("srcB", "srcC")) == 0L)
    // sketch intersection estimate within OverlapTol of exact, relative to
    // the pair's union size — spec-asserted (round-7 discipline), not
    // hash-gated
    full.foreach { case (a, b, na, nb, nInter, est) =>
      val union = (na + nb - nInter).toDouble
      assert(math.abs(est - nInter) <= graft.operators.Dedup.OverlapTol * union,
        s"est_inter outside bound for ($a,$b): est=$est exact=$nInter union=$union")
    }
    // the registered (hash-gated) q90 is the deterministic projection
    assert(graft.operators.Dedup.sourceOverlap(spark, tmp).columns.toSeq ==
      Seq("src_a", "src_b", "n_a", "n_b", "n_inter"))
  }

  test("q89: bloom probe has no false negatives and the pruned join equals the direct join") {
    import spark.implicits._
    import org.apache.spark.util.sketch.BloomFilter
    // no-false-negative contract (the exactness argument rests on it):
    // every inserted key MUST probe true, through the codegen'd Column path
    val bf = BloomFilter.create(500, Analytics.BloomFpp)
    (0L until 1000L by 2L).foreach(bf.putLong)
    val probed = spark
      .range(0, 1000)
      .filter(graft.plans.BloomExpressions.mightContain(bf, col("id")))
      .select(col("id"))
      .as[Long]
      .collect()
      .toSet
    assert((0L until 1000L by 2L).forall(probed.contains), "bloom dropped an inserted key")
    val fpRate = probed.count(_ % 2 == 1) / 500.0
    assert(fpRate <= 0.05, s"false-positive rate $fpRate implausibly high for fpp=1%")

    // end-to-end: bloom-pruned join ≡ plain join (false positives dropped)
    val direct = Tables
      .lineitem(spark, dir)
      .join(
        Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey")
      )
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"))
      .as[(String, Long)]
      .collect()
      .toMap
    val pruned = Analytics
      .bloomJoin(spark, dir)
      .select(col("l_returnflag"), col("n_items"))
      .as[(String, Long)]
      .collect()
      .toMap
    assert(pruned == direct, s"bloom-pruned join diverged: $pruned vs $direct")
  }
}
