package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FaunaFunctions._

/** Property-style tests (SURVEY.md §5 engine test plan): seeded ScalaCheck
  * generators produce a batch of adversarial inputs, evaluated in ONE Spark
  * job per property against a plain-Scala reference model of the reference
  * implementation (`/root/reference/src/animals_etl/utils.py`).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)

  private def sample[A](g: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(42L))

  test("splitFriends: never empty/untrimmed elements; matches reference model") {
    import spark.implicits._
    val piece = Gen.oneOf(
      Gen.alphaStr.map(_.take(8)),
      Gen.const(""),
      Gen.const("  "),
      Gen.alphaStr.map(s => s"  ${s.take(5)} ")
    )
    val csv   = Gen.listOf(piece).map(_.mkString(","))
    val cases = sample(csv, 300)

    def model(s: String): Seq[String] =
      if (s == null || s.isEmpty) Seq.empty
      else s.split(",", -1).map(_.trim).filter(_.nonEmpty).toSeq

    val got = cases.toDF("s").select(col("s"), splitFriends(col("s")).as("f")).collect()
    got.foreach { r =>
      val s = r.getString(0)
      val f = r.getSeq[String](1)
      assert(f == model(s), s"input='$s'")
      assert(f.forall(p => p.nonEmpty && p == p.trim))
    }
  }

  test("epoch normalize: unit auto-detect invariant under x1000 within bands") {
    import spark.implicits._
    // seconds in a representable, past range → s/ms/µs/ns encodings of the
    // same instant must render identically
    val secs  = sample(Gen.chooseNum(1L, 1700000000L), 200)
    val cases = secs.flatMap(s => Seq(s, s * 1000L, s * 1000000L, s * 1000000000L).zip(Seq.fill(4)(s)))
    val asOf  = lit("2026-01-01 00:00:00").cast("timestamp")
    val rows = cases
      .toDF("e", "secs")
      .select(col("secs"), epochToIso8601Utc(col("e"), asOf).as("iso"))
      .collect()
    val bySecs = rows.groupBy(_.getLong(0))
    bySecs.foreach { case (s, rs) =>
      val isos = rs.map(r => Option(r.getString(1))).distinct
      // ns band floor is 10^18 (~2001-09); below it, ns-scaled values of tiny
      // seconds fall into other bands — the reference has the same aliasing,
      // so only assert equality where every encoding lands in its own band
      if (s >= 1000000000L) {
        assert(isos.size == 1, s"secs=$s got ${isos.toList}")
        assert(isos.head.nonEmpty)
      }
    }
  }

  test("epoch normalize: negatives and far-future always reject") {
    import spark.implicits._
    val neg = sample(Gen.chooseNum(Long.MinValue + 1, -1L), 100)
    val fut = sample(Gen.chooseNum(1800000000L, 4000000000L), 100) // 2027..2096 seconds band
    val asOf = lit("2026-01-01 00:00:00").cast("timestamp")
    val rows = (neg ++ fut).toDF("e").select(epochToIso8601Utc(col("e"), asOf)).collect()
    assert(rows.forall(_.isNullAt(0)))
  }

  test("topK aggregate matches the sort-based reference under repartition") {
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    // adversarial: heavy duplicate scores force tie-breaks, many partitions
    // force partial/merge paths, k > group size on some groups
    val gen = for {
      g <- Gen.chooseNum(0, 4)
      s <- Gen.chooseNum(0, 9) // heavy score collisions
      id <- Gen.chooseNum(0L, 10000L)
    } yield (g, s.toDouble, id)
    val rows = sample(gen, 2000).distinct // unique triples → deterministic ranks
    val df   = rows.toDF("g", "score", "id").repartition(13)
    val key  = struct(col("score"), (-col("id")).as("neg"), col("id"))
    val got = df
      .groupBy("g")
      .agg(graft.plans.TopKAggregate.topK(key, 7).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.score"), col("col.id"), (col("pos") + 1).cast(LongType).as("rnk"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toSet
    // reference model: plain Scala sort desc by (score, -id) → top 7, ranked
    val expect = rows
      .groupBy(_._1)
      .flatMap { case (g, rs) =>
        rs.map { case (_, s, id) => (s, id) }
          .sortBy { case (s, id) => (-s, id) }
          .zipWithIndex
          .take(7)
          .map { case ((s, id), i) => (g, s, id, (i + 1).toLong) }
      }
      .toSet
    assert(got == expect, s"diff: got-extra=${got -- expect}, missing=${expect -- got}")
  }

  test("TopKStructs reversed fields: heap equals reference sort (score desc, name asc)") {
    import spark.implicits._
    // small domains force heavy ties so every comparison level is exercised
    val row = for {
      g     <- Gen.chooseNum(0, 3)
      score <- Gen.chooseNum(0, 4).map(_.toDouble)
      name  <- Gen.oneOf("apple", "pear", "quince")
    } yield (g, score, name)
    val cases = sample(row, 400).zipWithIndex.map { case ((g, s, n), i) => (g, s, n, i.toLong) }
    val k     = 5
    val got = cases
      .toDF("g", "score", "name", "id")
      .groupBy("g")
      .agg(
        graft.plans.TopKAggregate
          .topK(struct(col("score"), col("name"), col("id")), k, reversed = Seq(false, true))
          .as("top")
      )
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("g"), col("t.score"), col("t.name"), col("t.id"), (col("pos") + 1).cast("long"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    // reference: plain sort by (score desc, name asc, id desc — field 3 is
    // NOT reversed, so larger ids rank better on full ties)
    val expect = cases
      .groupBy(_._1)
      .flatMap { case (g, rs) =>
        rs.map { case (_, s, n, id) => (s, n, id) }
          .sortBy { case (s, n, id) => (-s, n, -id) }
          .take(k)
          .zipWithIndex
          .map { case ((s, n, id), i) => (g, s, n, id, (i + 1).toLong) }
      }
      .toSet
    assert(got == expect, s"diff: got-extra=${got -- expect}, missing=${expect -- got}")
  }

  test("SpaceSaving sketch: heavy hitter survives tiny capacity across merges") {
    import spark.implicits._
    // 500 copies of "hot", 30 of "warm", 2000 distinct singletons; capacity
    // 16 << vocabulary forces heavy eviction, repartition(8) forces merges
    val items = Seq.fill(500)("hot") ++ Seq.fill(30)("warm") ++ (0 until 2000).map(i => s"cold$i")
    val rnd   = new scala.util.Random(7)
    val df    = rnd.shuffle(items).toDF("item").repartition(8)
    val tracked = df
      .agg(graft.plans.HeavyHitters.spaceSaving(col("item"), 16).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.item"), col("h.cnt"), col("h.err"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(tracked.length <= 16)
    val hot = tracked.find(_._1 == "hot")
    assert(hot.isDefined, s"true heavy hitter evicted: ${tracked.mkString(", ")}")
    val (_, cnt, err) = hot.get
    assert(cnt >= 500L, s"estimate $cnt underestimates true 500")
    assert(cnt - err <= 500L, s"estimate $cnt - err $err exceeds true 500")
    // every tracked estimate must sandwich its true count
    val truth = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    tracked.foreach { case (k, c, e) =>
      assert(c >= truth(k) && c - e <= truth(k), s"sandwich violated for $k: ($c, $e) vs ${truth(k)}")
    }
  }

  test("URL canonicalization is idempotent and strips every scheme/www/query/slash decoration") {
    import spark.implicits._
    val host = Gen.oneOf("example.com", "Sub.Domain.ORG", "a-b.io")
    val url = for {
      scheme <- Gen.oneOf("", "http://", "https://", "HTTPS://")
      www    <- Gen.oneOf("", "www.", "WWW.")
      h      <- host
      path   <- Gen.oneOf("", "/x/Y", "/x")
      query  <- Gen.oneOf("", "?utm=1&b=2", "#frag", "?a=1#f")
      slash  <- Gen.oneOf("", "/", "///")
    } yield s"$scheme$www$h$path$query$slash"
    val rows = sample(url, 300).toDF("u")
      .select(
        col("u"),
        graft.operators.Dedup.canonicalizeUrl(col("u")).as("c1"),
        graft.operators.Dedup.canonicalizeUrl(graft.operators.Dedup.canonicalizeUrl(col("u"))).as("c2")
      )
      .collect()
    rows.foreach { r =>
      val (u, c1, c2) = (r.getString(0), r.getString(1), r.getString(2))
      assert(c1 == c2, s"not idempotent: '$u' -> '$c1' -> '$c2'")
      assert(!c1.contains("://") && !c1.startsWith("www.") && !c1.contains("?") && !c1.contains("#"),
        s"decoration survived: '$u' -> '$c1'")
      assert(!c1.endsWith("/") || c1.isEmpty, s"trailing slash survived: '$u' -> '$c1'")
      assert(c1 == c1.toLowerCase, s"case survived: '$u' -> '$c1'")
    }
  }

  test("span fingerprints: count law (tokens/width), distinct spans distinct fingerprints") {
    import spark.implicits._
    val w = graft.operators.Dedup.SpanTokens
    val text = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "cd")).map(_.mkString(" ")))
    val rows = sample(text, 300).toDF("text")
      .select(
        col("text"),
        size(split(col("text"), " +")).as("n"),
        graft.operators.Dedup.spanFingerprints(col("text")).as("fps")
      )
      .collect()
    rows.foreach { r =>
      val toks = r.getInt(1)
      val fps  = r.getSeq[String](2)
      assert(fps.length == toks / w, s"'${r.getString(0)}': ${fps.length} spans for $toks tokens")
      assert(fps.forall(_.length == 32), "md5 hex fingerprints")
    }
  }

  test("boundedBands: band membership is all-or-nothing and capped; kept rows unchanged") {
    import spark.implicits._
    // adversarial occupancy mix: bands of size 1, cap, cap+1, and a mega-band
    val cap = 4
    val rows = sample(
      for {
        band <- Gen.oneOf("solo", "atcap", "over", "mega", "mega", "mega")
        id   <- Gen.choose(0L, 10000L)
      } yield (band, id),
      300
    ).distinct
    val df  = rows.toDF("band", "doc_id")
    val out = graft.operators.FuzzyDedup.boundedBands(df, "band", cap).collect()
      .map(r => (r.getAs[String]("band"), r.getAs[Long]("doc_id")))
    val inCounts  = rows.groupBy(_._1).view.mapValues(_.size).toMap
    val outCounts = out.groupBy(_._1).view.mapValues(_.length).toMap
    inCounts.foreach { case (band, n) =>
      if (n <= cap)
        assert(outCounts.getOrElse(band, 0) == n, s"under-cap band $band lost rows")
      else
        assert(!outCounts.contains(band), s"over-cap band $band partially retained")
    }
    assert(out.toSet.subsetOf(rows.toSet), "boundedBands invented rows")
  }

  /** Random (doc_id, band) rows for the pair verbs: ~60 ordinary bands
    * whose occupancy straddles `pairCap`, one mega band, and ids drawn from
    * a narrow range so that many pairs share several bands. */
  private val pairCap = 4
  private def keyedRows(ids: Gen[Long], n: Int): List[(Long, String)] =
    sample(Gen.zip(ids, Gen.frequency(6 -> Gen.choose(0, 59).map(k => s"k$k"), 1 -> Gen.const("mega"))), n).distinct

  test("selfPairs: every a < b sharing a band at or under the cap, each pair exactly once") {
    import spark.implicits._
    val rows   = keyedRows(Gen.choose(0L, 30L), 240)
    val byBand = rows.groupBy(_._2).values.map(_.map(_._1))
    val shared = (for (ids <- byBand.toList if ids.size <= pairCap; a <- ids; b <- ids if a < b) yield (a, b))
    val got = graft.operators.FuzzyDedup.selfPairs(rows.toDF("doc_id", "band"), pairCap).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got.sorted == shared.distinct.sorted, "pair set differs from the brute force")
    assert(shared.size > shared.distinct.size, "no pair shares two bands: the dedup is untested")
    assert(byBand.exists(_.size > pairCap), "no band above the cap: the cap is untested")
  }

  test("probePairs: every (probe, index) sharing a band once, capped on the index side only") {
    import spark.implicits._
    // "hot" sits above the cap on the probe side and under it on the index side
    val index = keyedRows(Gen.choose(0L, 30L), 240) ++ Seq(1000L -> "hot", 1001L -> "hot")
    val probe = keyedRows(Gen.choose(100L, 130L), 120) ++ (200L until 210L).map(_ -> "hot")
    val kept  = index.groupBy(_._2).filter(_._2.size <= pairCap).values.flatten.toList
    val shared = for ((p, band) <- probe; (i, indexBand) <- kept if band == indexBand) yield (p, i)
    val got = graft.operators.FuzzyDedup
      .probePairs(
        probe.toDF("doc_id", "band"),
        graft.operators.FuzzyDedup.boundedBands(index.toDF("doc_id", "band"), "band", pairCap))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got.sorted == shared.distinct.sorted, "pair set differs from the brute force")
    assert(shared.size > shared.distinct.size, "no pair shares two bands: the dedup is untested")
    assert(got.contains(200L -> 1000L), "a band over the cap on the probe side lost its pairs")
    assert(index.groupBy(_._2).values.exists(_.size > pairCap), "no index band above the cap")
  }

  test("fp8/fp15 fingerprints: stay in their declared non-negative ranges") {
    import spark.implicits._
    val texts = sample(Gen.alphaNumStr, 200).filter(_.nonEmpty)
    val df = texts.toDF("t").select(
      graft.functions.Fingerprints.fp8(col("t")).as("f8"),
      graft.functions.Fingerprints.fp15(col("t")).as("f15")
    ).collect()
    df.foreach { r =>
      val (f8, f15) = (r.getLong(0), r.getLong(1))
      assert(f8 >= 0L && f8 < (1L << 32), s"fp8 out of uint32 range: $f8")
      assert(f15 >= 0L && f15 < (1L << 60), s"fp15 out of 60-bit range: $f15")
    }
  }

  test("ISO validation: every rendered timestamp validates; offset forms reject") {
    import spark.implicits._
    val secs = sample(Gen.chooseNum(0L, 1700000000L), 200)
    val asOf = lit("2026-01-01 00:00:00").cast("timestamp")
    val ok = secs
      .toDF("e")
      .select(isValidIsoUtc(epochToIso8601Utc(col("e"), asOf)).as("v"))
      .collect()
    assert(ok.forall(_.getBoolean(0)))
    val bad = secs.take(50).map(s => s"1970-01-01T00:00:0$s+00:00")
    val rej = bad.toDF("z").select(isValidIsoUtc(col("z"))).collect()
    assert(rej.forall(!_.getBoolean(0)))
  }

  /** Seeded random graphs checked against a plain-Scala brute-force
    * reference (all (i<j<k) triples) — the oriented wedge machinery, edge
    * charges and k-core peel must agree with O(n³) truth on graphs small
    * enough to enumerate. */
  private def randomGraphs: Seq[Set[(Long, Long)]] = {
    val edgeGen = for {
      a <- Gen.choose(0L, 17L)
      b <- Gen.choose(0L, 17L)
    } yield (math.min(a, b), math.max(a, b))
    (1 to 6).map { i =>
      Gen.listOfN(60, edgeGen).pureApply(Gen.Parameters.default, Seed(1000L + i))
        .filter { case (a, b) => a != b }
        .toSet
    }
  }

  test("q134/q138: random graphs match the brute-force triangle reference") {
    import spark.implicits._
    randomGraphs.foreach { edges =>
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val eSet  = edges
      def adjacent(x: Long, y: Long) = eSet.contains((math.min(x, y), math.max(x, y)))
      val triples = for {
        Seq(i, j, k) <- nodes.combinations(3).toSeq
        if adjacent(i, j) && adjacent(j, k) && adjacent(i, k)
      } yield (i, j, k)
      val perNode = triples.flatMap(t => Seq(t._1, t._2, t._3)).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val df  = edges.toSeq.toDF("src", "dst")
      val got = graft.operators.GraphOps.triangleStatsOver(df).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("triangles")).toMap
      nodes.foreach { n =>
        assert(got.getOrElse(n, 0L) == perNode.getOrElse(n, 0L), s"node $n on edges=$eSet")
      }
      // q138: per-edge common-neighbor counts + [0, 1e6] bound
      val perEdge = triples
        .flatMap(t => Seq((t._1, t._2), (t._1, t._3), (t._2, t._3)))
        .map { case (x, y) => (math.min(x, y), math.max(x, y)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val sim = graft.operators.GraphOps.edgeSimilarityOver(df).collect()
      sim.foreach { r =>
        val e = (r.getAs[Long]("a"), r.getAs[Long]("b"))
        assert(r.getAs[Long]("common") == perEdge.getOrElse(e, 0L), s"edge $e")
        val p = r.getAs[Long]("sim_ppm")
        assert(p >= 0L && p <= 1000000L, s"sim out of [0, 1e6] for $e")
      }
    }
  }

  test("q139: k-core nesting — the (k+1)-core is contained in the k-core; both match brute peel") {
    import spark.implicits._
    randomGraphs.take(3).foreach { edges =>
      def brutePeel(k: Int): Set[Long] = {
        var surv = edges.flatMap(e => Seq(e._1, e._2))
        var changed = true
        while (changed) {
          val deg = edges.toSeq
            .filter(e => surv(e._1) && surv(e._2))
            .flatMap(e => Seq(e._1, e._2))
            .groupBy(identity).view.mapValues(_.size).toMap
          val next = surv.filter(n => deg.getOrElse(n, 0) >= k)
          changed = next != surv
          surv = next
        }
        surv
      }
      val df = edges.toSeq.toDF("src", "dst")
      def engineCore(k: Int): Set[Long] =
        graft.operators.GraphOps.kCoreRuns(df, k = k, rounds = 24)._1.collect()
          .filter(_.getAs[Long]("in_core") == 1L).map(_.getAs[Long]("node")).toSet
      val c2 = engineCore(2); val c3 = engineCore(3)
      assert(c2 == brutePeel(2), s"2-core mismatch on $edges")
      assert(c3 == brutePeel(3), s"3-core mismatch on $edges")
      assert(c3.subsetOf(c2), "core nesting violated")
    }
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

  test("q77: random graphs match an in-memory integer PageRank reference") {
    // The distributed plan (degree joins, dangling-mass left join + coalesce,
    // per-round checkpoint) against a 20-line replica of the SAME integer
    // quantization: rank/outdeg is exact integer division, next rank is
    // Teleport + floor(0.85 * mass) with the identical IEEE multiply. The
    // hand-computed chain fixture (Round5OpsSpec) pins the arithmetic; this
    // pins the PLAN on adversarial shapes — self-referential hubs, dangling
    // nodes, disconnected pieces. Directed: src -> dst as mined.
    import spark.implicits._
    import graft.operators.GraphOps.{Iters, RankScale, Teleport}
    randomGraphs.foreach { edges =>
      val dirEdges = edges.map { case (a, b) => (a, b) } // already (min,max): directed low->high
      val nodes = dirEdges.flatMap(e => Seq(e._1, e._2))
      val outdeg = dirEdges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val indeg  = dirEdges.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      var rank   = nodes.map(_ -> RankScale).toMap
      for (_ <- 1 to Iters) {
        val mass = dirEdges.toSeq
          .map { case (s, d) => d -> rank(s) / outdeg(s) } // exact integer div
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        rank = nodes.map(n => n -> (Teleport + math.floor(0.85 * mass.getOrElse(n, 0L).toDouble).toLong)).toMap
      }
      val expected = nodes.map(n => (n, rank(n), outdeg.getOrElse(n, 0L), indeg.getOrElse(n, 0L)))
      val got = graft.operators.GraphOps
        .pageRankOver(dirEdges.toSeq.toDF("src", "dst"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == expected, s"pagerank mismatch on ${dirEdges.size} edges")
    }
  }
}
