package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 hardening: q137 cost-based dispatch (never-worse vs scratch),
  * EventStream empty-directory starts. */
class Round7OpsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)

  /** Canonical K_n edge list. */
  private def clique(n: Int): Seq[(Long, Long)] =
    for { a <- 0 until n; b <- (a + 1) until n } yield (a.toLong, b.toLong)

  test("q137 dispatch: sparse delta stays incremental, dense fold auto-selects scratch") {
    import spark.implicits._
    // sparse regime: a 100-edge path plus 3 closing edges — candidate mass
    // (Σ deg over delta endpoints ≈ 20) ≪ ScratchCrossover × |E|
    val sparseBase  = (0 until 100).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val sparseDelta = Seq((0L, 2L), (10L, 12L), (50L, 52L)).toDF("a", "b")
    val (_, sparseScratch) =
      graft.operators.GraphOps.triangleDeltaDispatch(sparseBase, sparseDelta)
    assert(!sparseScratch, "sparse fixture must stay on the incremental branch")

    // scratch regime: the delta is the MAJORITY of the graph (3/4 of K30's
    // 435 edges) — candidate mass 326·58 ≈ 18.9k exceeds half the wedge
    // work 30·29·29 ≈ 25.2k, so re-enumerating from scratch is cheaper
    // than streaming nearly every adjacency row through the increment.
    // (A 25%-delta fold stays incremental by design: honest measurement
    // showed closing-edge attribution beats two full enumerations even at
    // 27% triangle churn — see ScratchCrossover's scaladoc.)
    val (baseE, deltaE) = clique(30).partition { case (a, b) => (a * 31 + b) % 4 == 0 }
    val denseBase  = baseE.toDF("a", "b")
    val denseDelta = deltaE.toDF("a", "b")
    val (_, denseScratch) =
      graft.operators.GraphOps.triangleDeltaDispatch(denseBase, denseDelta)
    assert(denseScratch, "dense fixture must auto-select the scratch branch")

    // the oracle contract is branch-independent: both branches produce
    // IDENTICAL rows on both fixtures (the telescoping pin, re-proved
    // against the scratch twin)
    Seq((sparseBase, sparseDelta), (denseBase, denseDelta)).foreach { case (b, d) =>
      val inc = graft.operators.GraphOps.triangleDeltaOver(b, d).head()
      val scr = graft.operators.GraphOps.triangleDeltaScratch(b, d).head()
      assert(inc == scr, s"branch outputs diverge: inc=$inc scr=$scr")
    }
  }

  test("q137 dispatch: empty delta takes the incremental branch and adds nothing") {
    import spark.implicits._
    val base  = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val delta = Seq.empty[(Long, Long)].toDF("a", "b")
    val (out, usedScratch) = graft.operators.GraphOps.triangleDeltaDispatch(base, delta)
    assert(!usedScratch)
    val row = out.head()
    assert(row.getAs[Long]("n_delta_edges") == 0L)
    assert(row.getAs[Long]("tri_added") == 0L)
    assert(row.getAs[Long]("touched_nodes") == 0L)
  }

  test("q137 scratch twin: all-new K4 counted once per triangle, touched = all corners") {
    import spark.implicits._
    val base  = Seq((100L, 101L)).toDF("a", "b") // a triangle-free spectator edge
    val delta = clique(4).toDF("a", "b")
    val row   = graft.operators.GraphOps.triangleDeltaScratch(base, delta).head()
    assert(row.getAs[Long]("n_delta_edges") == 6L)
    assert(row.getAs[Long]("tri_added") == 4L) // C(4,3)
    assert(row.getAs[Long]("touched_nodes") == 4L)
  }

  test("q139 early-exit: unchanged survivor count halts the peel, output identical") {
    import spark.implicits._
    // triangle {1,2,3} with a 2-edge tail: k=2 peeling drains the tail in
    // two rounds, round 3 confirms stability — well under the 8-round cap
    val edgeList = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val (fast, fastRounds) = graft.operators.GraphOps.kCoreRuns(edgeList.toDF("src", "dst"), k = 2, rounds = 8)
    assert(fastRounds < 8, s"expected early stop under the 8-round cap, ran $fastRounds")
    // fixed-round reference: all 8 peel rounds, no early exit
    val und = edgeList.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    def degrees(es: Seq[(Long, Long)]): Map[Long, Long] =
      es.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val fullDeg = degrees(und)
    val fixedCore = (1 to 8).foldLeft(fullDeg.keySet) { (surv, _) =>
      degrees(und.filter { case (a, b) => surv(a) && surv(b) }).collect { case (n, d) if d >= 2 => n }.toSet
    }
    val full = fullDeg.map { case (n, d) => (n, d, if (fixedCore(n)) 1L else 0L) }.toSet
    assert(
      fast.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == full,
      "early-exit output must be bit-identical to the fixed-round peel")
    val core = fast.filter(col("in_core") === 1L).select("node").as[Long].collect().toSet
    assert(core == Set(1L, 2L, 3L), "the 2-core is exactly the triangle")
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
