package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 fixes: AsOfJoinExec UnsafeRow contract, BloomMightContain
  * canonical equality. */
class Round6OpsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)

  private def asofFixture = {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "l-a"),
      (1L, 20L, "l-b"),
      (2L, 5L, "l-d")
    ).toDF("k", "t", "lv")
    val right = Seq(
      (1L, 20L, "r-20"),
      (2L, 1L, "r-1")
    ).toDF("rk", "rt", "rv")
    (left, right)
  }

  test("q84: bare asof(...).collect() — no ProjectExec above the exec (UnsafeRow contract)") {
    // SparkPlan.getByteArrayRdd casts emitted rows to UnsafeRow; before the
    // per-partition UnsafeProjection this threw ClassCastException because
    // q84's registered query always had a Project on top.
    val (left, right) = asofFixture
    val rows = graft.plans.AsOfJoinNative
      .asof(left, right, "k", "rk", "t", "rt")
      .collect()
    assert(rows.length == 3)
    val matched = rows.filter(_.getAs[String]("rv") != null)
    assert(matched.map(r => (r.getAs[Long]("k"), r.getAs[String]("rv"))).toSet ==
      Set((1L, "r-20"), (2L, "r-1")))
  }

  test("q84: sort directly above the exec (UnsafeExternalRowSorter consumes the rows)") {
    val (left, right) = asofFixture
    val sorted = graft.plans.AsOfJoinNative
      .asof(left, right, "k", "rk", "t", "rt")
      .orderBy(col("k"), col("t"))
      .collect()
    assert(sorted.length == 3)
    assert(sorted.head.getAs[String]("lv") == "l-a" && sorted.head.isNullAt(sorted.head.fieldIndex("rv")))
  }

  test("q89: BloomMightContain canonical equality is content-based (two probes, same bytes)") {
    import org.apache.spark.util.sketch.BloomFilter
    val bf = BloomFilter.create(100, 0.03)
    (1L to 50L).foreach(bf.putLong)
    val bytes1 = graft.plans.BloomExpressions.serialize(bf)
    val bytes2 = bytes1.clone() // distinct array instance, same content
    val child  = org.apache.spark.sql.GraftBridge.expression(col("x"))
    val e1 = graft.plans.BloomMightContain(child, bytes1)
    val e2 = graft.plans.BloomMightContain(child, bytes2)
    // reference-based case-class equality on Array[Byte] broke expression
    // canonicalization / subexpression elimination for duplicate probes
    assert(e1 == e2 && e1.hashCode == e2.hashCode)
    val bfOther = BloomFilter.create(100, 0.03)
    (51L to 99L).foreach(bfOther.putLong)
    val e3 = graft.plans.BloomMightContain(child, graft.plans.BloomExpressions.serialize(bfOther))
    assert(e1 != e3)
  }

  test("q121: DSIR selects the raw docs that look like the target distribution") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-dsir").toFile.getAbsolutePath
    // target set = doc_id % 89 == 0 → ids 0 and 89 in this fixture
    val targetText = "alpha beta gamma alpha beta gamma"
    val likeTarget = "alpha beta gamma beta alpha gamma" // shares unigrams + 2 bigrams
    val offTarget  = "zeta eta theta iota kappa lambda"  // disjoint vocabulary
    val docs =
      Seq((0L, targetText, "en", "t", 10L), (89L, targetText, "en", "t", 10L)) ++
        Seq(1L, 2L, 3L).map(i => (i, likeTarget, "en", "s", 10L)) ++
        (4L to 40L).map(i => (i, offTarget, "en", "s", 10L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tmp/documents.parquet")
    val out = graft.operators.TrainingPrep
      .dsirSelection(spark, tmp)
      .select(col("rnk"), col("doc_id"), col("score_micro"))
      .as[(Long, Long, Long)]
      .collect()
      .sortBy(_._1)
    // the three target-alike docs outrank every off-distribution doc, with
    // the doc_id-asc tie-break among their identical scores
    assert(out.take(3).map(_._2).toSeq == Seq(1L, 2L, 3L), s"selection order: ${out.toSeq}")
    assert(out(0)._3 == out(2)._3 && out(2)._3 > out(3)._3, "no strict score gap to off-distribution docs")
    // the target docs themselves are never selected (they define the model)
    assert(!out.map(_._2).exists(id => id % graft.operators.TrainingPrep.DsirTargetMod == 0))
  }

  test("q122: winnowing guarantee — docs sharing a >= w+k-1 token run share a minimizer") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-winnow").toFile.getAbsolutePath
    // shared run of exactly WinW + WinK - 1 = 10 tokens, disjoint elsewhere
    val shared = (1 to 10).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"apple banana cherry date elderberry $shared fig grape", "en", "s", 10L),
      (2L, s"umber violet walnut xigua yam $shared zebra quince", "en", "s", 10L),
      (3L, "one two three four five six seven eight nine ten eleven", "en", "s", 10L)
    )
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tmp/documents.parquet")
    val sk = graft.operators.FuzzyDedup
      .winnowSketchTable(spark, tmp)
      .select(col("doc_id"), col("mins"))
      .as[(Long, Seq[Long])]
      .collect()
      .toMap
    assert(
      sk(1L).toSet.intersect(sk(2L).toSet).nonEmpty,
      s"SIGMOD-03 guarantee violated: no shared minimizer for a ${graft.operators.FuzzyDedup.WinW + graft.operators.FuzzyDedup.WinK - 1}-token shared run"
    )
    assert(sk(3L).toSet.intersect(sk(1L).toSet).isEmpty, "disjoint docs share a minimizer (hash collision?)")
  }

  test("q122: sketch density tracks 2/(w+1) on near-random tokens; sketch is shift-robust") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-winnow2").toFile.getAbsolutePath
    // 2000 distinct tokens -> k-gram hashes are effectively uniform
    val body = (1 to 2000).map(i => s"t${i * 7919 % 65536}x$i").mkString(" ")
    val docs = Seq(
      (1L, body, "en", "s", 10L),
      (2L, s"pre1 pre2 pre3 pre4 pre5 $body", "en", "s", 10L) // shifted by 5 tokens
    )
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tmp/documents.parquet")
    val sk = graft.operators.FuzzyDedup
      .winnowSketchTable(spark, tmp)
      .select(col("doc_id"), col("m"), col("mins"))
      .as[(Long, Int, Seq[Long])]
      .collect()
      .map(r => r._1 -> (r._2, r._3.toSet))
      .toMap
    val (m1, s1) = sk(1L)
    val density  = s1.size.toDouble / m1
    assert(
      density > 0.15 && density < 0.30,
      s"density $density strays from 2/(w+1) = ${2.0 / (graft.operators.FuzzyDedup.WinW + 1)}"
    )
    // content-defined selection: a 5-token prefix insertion leaves the
    // downstream minimizers intact (only seam windows change)
    val (_, s2) = sk(2L)
    val jac     = s1.intersect(s2).size.toDouble / s1.union(s2).size
    assert(jac >= 0.9, s"prefix insertion rewrote the sketch (jaccard $jac) — selection is not content-defined")
  }

  test("q123: PCA from the covariance table — power iteration recovers a planted dominant direction") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pca").toFile.getAbsolutePath
    val d   = 64
    // planted direction: alternating ±1/8 (unit norm); data = t·u + tiny
    // per-row noise in a fixed orthogonal direction
    val u = Array.tabulate(d)(i => if (i % 2 == 0) 0.125 else -0.125)
    val w = Array.tabulate(d)(i => if (i % 2 == 0) 0.125 else 0.125) // ⟂ u
    val rows = (0 until 200).map { k =>
      val t   = (k * 17 % 200) / 100.0 - 1.0
      val eps = ((k * 31 % 100) / 100.0 - 0.5) * 0.05
      (k.toLong, Array.tabulate(d)(i => (t * u(i) + eps * w(i)).toFloat).toSeq, 0)
    }
    rows.toDF("vec_id", "embedding", "label").write.parquet(s"$tmp/embeddings.parquet")
    val cov = Array.ofDim[Double](d, d)
    graft.operators.Similarity
      .pcaCovariance(spark, tmp)
      .select(col("dim_i"), col("dim_j"), col("cov_p12"))
      .as[(Long, Long, Long)]
      .collect()
      .foreach { case (i, j, c) =>
        cov(i.toInt - 1)(j.toInt - 1) = c.toDouble
        cov(j.toInt - 1)(i.toInt - 1) = c.toDouble
      }
    // driver-side eigensolve on the 2080-entry model — the point of q123
    var v = Array.fill(d)(1.0)
    (0 until 100).foreach { _ =>
      val nv  = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val nrm = math.sqrt(nv.map(x => x * x).sum)
      v = nv.map(_ / nrm)
    }
    val cos = math.abs((0 until d).map(i => v(i) * u(i)).sum) // u is unit
    assert(cos > 0.99, s"dominant eigenvector strays from the planted direction: |cos| = $cos")
  }

  test("q125: rollup fold equals scratch rebuild, including sources present on only one side") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-rollup").toFile.getAbsolutePath
    // source "old" exists only in the base; "new" arrives only in the delta
    // (doc_id % 11 == 0); "both" spans the two
    val docs = Seq(
      (1L, "a b c", "en", "old", 5L),
      (2L, "d e", "en", "both", 5L),
      (11L, "f g h i", "en", "both", 5L),
      (22L, "j", "en", "new", 5L),
      (33L, "k l m", "en", "new", 5L)
    )
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tmp/documents.parquet")
    val merged = graft.operators.TrainingPrep
      .rollupMaintenance(spark, tmp)
      .select(col("source"), col("n_docs"), col("tokens"), col("cfp"), col("n_added"))
      .as[(String, Long, Long, Long, Long)]
      .collect()
      .map(r => r._1 -> r)
      .toMap
    assert(merged("old") == (("old", 1L, 3L, merged("old")._4, 0L)))
    assert(merged("both") == (("both", 2L, 6L, merged("both")._4, 1L)))
    assert(merged("new") == (("new", 2L, 4L, merged("new")._4, 2L)))
    // the checksum folds commutatively: scratch recompute in-engine agrees
    val scratch = spark.read
      .parquet(s"$tmp/documents.parquet")
      .select(
        col("source"),
        graft.functions.Fingerprints
          .fp8(concat(col("doc_id").cast("string"), lit(":"), col("text")))
          .as("fp")
      )
      .groupBy("source")
      .agg(sum(col("fp")).as("cfp"))
      .as[(String, Long)]
      .collect()
      .toMap
    merged.foreach { case (src, row) => assert(row._4 == scratch(src), s"checksum drift for $src") }
  }

  test("q126: skew diagnosis — planted hot key yields exact quantiles, skew factor, salt factor") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-skew").toFile.getAbsolutePath
    // user 1 owns 100 rows; users 2..11 own 10 each → n_keys=11, n_rows=200
    val rows =
      (1 to 100).map(i => (i.toLong, i.toLong * 1000000L, 1L, "view", 1.0, "{}")) ++
        (2L to 11L).flatMap(u => (1 to 10).map(i => (u * 1000 + i, i.toLong * 1000000L, u, "view", 1.0, "{}")))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props").write.parquet(s"$tmp/events.parquet")
    val r = graft.operators.EventWindows.skewDiagnosis(spark, tmp).collect().head
    assert(r.getAs[Long]("n_keys") == 11L && r.getAs[Long]("n_rows") == 200L)
    assert(r.getAs[Long]("max_cnt") == 100L && r.getAs[Long]("top_key") == 1L)
    assert(r.getAs[Long]("p50_cnt") == 10L, "p50 must be the uniform-cohort count")
    assert(r.getAs[Long]("p99_cnt") == 100L, "p99 rank (ceil(0.99*11)=11) must land on the hot key")
    assert(r.getAs[Long]("skew_micro") == 5500000L, s"skew = 100*11/200 = 5.5x, got ${r.getAs[Long]("skew_micro")}")
    assert(r.getAs[Long]("salt_factor") == 10L, "salt = ceil(max/p50)")
  }

  test("q127: k-anonymity audit — planted singleton drives k to 1 and counts at-risk rows exactly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-kanon").toFile.getAbsolutePath
    // quasi-id = (source, lang, n_chars // 500): one singleton group (the
    // "de" doc), one group of 3 (< k=5), one group of 6 (safe)
    val docs =
      Seq((100L, "x", "de", "s1", 700L)) ++
        (1L to 3L).map(i => (i, "x", "en", "s1", 100L)) ++
        (11L to 16L).map(i => (i, "x", "en", "s2", 100L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$tmp/documents.parquet")
    val r = graft.operators.TrainingPrep.kAnonymityAudit(spark, tmp).collect().head
    assert(r.getAs[Long]("n_rows") == 10L && r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Long]("k_anonymity") == 1L, "the singleton must set the dataset's k")
    assert(r.getAs[Long]("small_groups") == 2L && r.getAs[Long]("rows_at_risk") == 4L)
    assert(r.getAs[Long]("risk_ppm") == 400000L)
  }

  test("q128: journey paths — overlapping trigrams counted per start, event-time order, tiebreaks pinned") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-paths").toFile.getAbsolutePath
    // user 1: v c p v c p → paths v>c>p(2), c>p>v(1), p>v>c(1)
    // user 2: v c p       → v>c>p(1)
    // same-timestamp pair for user 3 resolves by event_id: a then b then c
    val rows = Seq(
      (1L, 1000000L, 1L, "view"), (2L, 2000000L, 1L, "click"), (3L, 3000000L, 1L, "purchase"),
      (4L, 4000000L, 1L, "view"), (5L, 5000000L, 1L, "click"), (6L, 6000000L, 1L, "purchase"),
      (7L, 1000000L, 2L, "view"), (8L, 2000000L, 2L, "click"), (9L, 3000000L, 2L, "purchase"),
      (10L, 1000000L, 3L, "a"), (11L, 1000000L, 3L, "b"), (12L, 1000000L, 3L, "c")
    ).map { case (id, ts, u, t) => (id, ts, u, t, 1.0, "{}") }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props").write.parquet(s"$tmp/events.parquet")
    val out = graft.operators.EventWindows
      .journeyPaths(spark, tmp)
      .select(col("rnk"), col("path"), col("n"))
      .as[(Long, String, Long)]
      .collect()
      .sortBy(_._1)
    assert(out.head == ((1L, "view>click>purchase", 3L)), s"top path wrong: ${out.head}")
    val byPath = out.map(r => r._2 -> r._3).toMap
    assert(byPath("click>purchase>view") == 1L && byPath("purchase>view>click") == 1L)
    assert(byPath("a>b>c") == 1L, "same-timestamp ordering must resolve by event_id")
    // rank ties (n=1) break path-ascending — pinned in both engines
    assert(out.filter(_._3 == 1L).map(_._2).toSeq == out.filter(_._3 == 1L).map(_._2).sorted.toSeq)
  }

  test("q108: strip accounting closes on the gate corpus; planted header strips exactly") {
    // accounting invariants on the (per-round regenerated) gate corpus
    val rows = graft.operators.Dedup.boilerplateStrip(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val before  = r.getAs[Long]("tokens_before")
      val removed = r.getAs[Long]("tokens_removed")
      assert(removed % graft.operators.Dedup.SpanTokens == 0, "partial-span removal")
      assert(removed <= before, "removed more tokens than exist")
      assert(r.getAs[Long]("docs_touched") <= r.getAs[Long]("n_docs"))
      assert((removed > 0) == (r.getAs[Long]("docs_touched") > 0), "removal/touched disagree")
      val expectPpm = math.floor((before - removed).toDouble / before.toDouble * 1e6).toLong
      assert(r.getAs[Long]("retained_ppm") == expectPpm, "retained_ppm drifts from its definition")
    }
    // controlled non-vacuity: 3 same-source docs share one aligned 8-token
    // header block (df=3 >= the floor), tails are unique. Exactly one block
    // per doc strips: removed = 3*8 tokens, all docs touched.
    import spark.implicits._
    val header = "terms of service apply to this mirrored page"  // 8 tokens
    val fixDir = java.nio.file.Files.createTempDirectory("graft-q108").toString
    (1L to 3L).map(i => (i, s"$header unique tail $i for document number $i ok", "en", "s0", 80L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$fixDir/documents.parquet")
    val fix = graft.operators.Dedup.boilerplateStrip(spark, fixDir).collect()
    assert(fix.length == 1)
    assert(fix.head.getAs[Long]("tokens_removed") == 3L * graft.operators.Dedup.SpanTokens,
      "planted shared header not stripped once per doc")
    assert(fix.head.getAs[Long]("docs_touched") == 3L)
  }

  test("q110: logit matches a JVM-side md5 reimplementation on a planted doc") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog"
    val dir  = java.nio.file.Files.createTempDirectory("graft-q110").toString
    Seq((1L, text, "en", "srcA", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent weight computation: first 8 md5 hex chars as uint32, %17-8
    def w(f: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(f.getBytes("UTF-8"))
      val hex = d.take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 17 - 8
    }
    val toks  = text.split(" +")
    val feats = toks.toSeq ++ toks.sliding(2).map(_.mkString("_"))
    val expected = feats.map(w).sum
    val row = graft.operators.TextAnalysis.hashedClassifier(spark, dir).collect().head
    assert(row.getAs[Long]("sum_logit") == expected,
      s"engine logit ${row.getAs[Long]("sum_logit")} != reimplementation $expected")
    assert(row.getAs[Long]("n_kept") == (if (expected > 0) 1L else 0L))
  }

  test("q115: only the edited doc's shard reports changed; untouched shards are 'same' with zero retokenize cost") {
    import spark.implicits._
    // ids 1..6 avoid every version rule (mod 7/13/17): present unedited in both
    // versions. id 7 is edited in v1 (mod-7 draft rule) — exactly its shard drifts.
    val dir = java.nio.file.Files.createTempDirectory("graft-q115").toString
    (1L to 7L).map(i => (i, s"document number $i with some text payload", "en", "s0", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TrainingPrep.shardDrift(spark, dir).collect()
    def fp8(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val shard7 = fp8("shard:42:7") % graft.operators.TrainingPrep.NumShards
    val changed = out.filter(_.getAs[String]("status") == "changed")
    assert(changed.map(_.getAs[Long]("shard")).toSeq == Seq(shard7),
      s"expected only doc 7's shard ($shard7) to drift, got ${changed.map(_.getAs[Long]("shard")).toSeq}")
    out.filter(_.getAs[String]("status") == "same").foreach { r =>
      assert(r.getAs[Long]("retokenize_tokens") == 0L, "unchanged shard billed for retokenization")
      assert(r.getAs[Long]("n_docs_v1") == r.getAs[Long]("n_docs_v2"))
    }
    assert(out.exists(_.getAs[String]("status") == "same"), "no unchanged shard — fixture degenerate")
  }

  test("q114: silhouette is bounded, every point is scored, clusters match q70's assignment") {
    val dir  = "/root/testdata/sf0.001"
    val qual = graft.operators.Clustering.clusterQuality(spark, dir).collect()
    val km   = graft.operators.Clustering.kmeans(spark, dir).collect()
    assert(qual.length == km.length, "cluster count differs from q70")
    val kmSizes = km.map(r => r.getAs[Long]("cid") -> r.getAs[Long]("n_points")).toMap
    qual.foreach { r =>
      assert(kmSizes(r.getAs[Long]("cid")) == r.getAs[Long]("n_points"),
        "q114 assigns points differently from q70's final assignment")
      val mean = r.getAs[Long]("sil_mean_micro")
      assert(mean >= 0L && mean <= 1000000L, s"silhouette mean out of [0,1]: $mean")
    }
    assert(qual.map(_.getAs[Long]("n_points")).sum ==
      spark.read.parquet(s"$dir/embeddings.parquet").count(), "a vector is unscored")
    assert(qual.exists(_.getAs[Long]("sil_mean_micro") > 0L), "all-zero silhouette — degenerate")
  }

  test("q111: recall accounting equals the set intersection of the two rankings") {
    val dir   = "/root/testdata/sf0.001"
    val brute = graft.operators.Similarity.knnBrute(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val ann = graft.operators.Similarity.ivfKnn(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = graft.operators.Similarity.annRecall(spark, dir).collect()
    recall.foreach { r =>
      val q        = r.getAs[Long]("q_id")
      val expected = brute.filter(_._1 == q).count(ann.contains)
      assert(r.getAs[Long]("n_hit") == expected, s"q$q: n_hit != |brute ∩ ivf|")
      assert(r.getAs[Long]("n_true") == brute.count(_._1 == q))
      assert(r.getAs[Long]("recall_ppm") ==
        math.floor(expected.toDouble / r.getAs[Long]("n_true") * 1e6).toLong)
    }
    assert(recall.map(_.getAs[Long]("n_hit")).sum > 0, "IVF finds nothing — eval is vacuous")
    // (no assertion that recall < 1 somewhere: whether nprobe=2 misses a
    // neighbour is a chance property of the per-round regenerated vectors)
  }

  test("q116: keep-first span ownership attributes exactly on a planted two-source corpus") {
    import spark.implicits._
    // 8-token spans A/B/C; docs are exactly two aligned spans each.
    val A = "a1 a2 a3 a4 a5 a6 a7 a8"
    val B = "b1 b2 b3 b4 b5 b6 b7 b8"
    val C = "c1 c2 c3 c4 c5 c6 c7 c8"
    val dir = java.nio.file.Files.createTempDirectory("graft-q116").toString
    Seq(
      (1L, s"$A $B", "en", "src_a", 47L), // spans (1,0)=A (1,1)=B
      (2L, s"$A $C", "en", "src_b", 47L), // spans (2,0)=A (2,1)=C
      (3L, s"$C $A", "en", "src_b", 47L)  // spans (3,0)=C (3,1)=A
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Dedup.spanOwnership(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // A: occurrences (1,0),(2,0),(3,1) → owner (1,0); B: unique; C: (2,1),(3,0) → owner (2,1)
    val a = rows("src_a")
    assert(a.getAs[Long]("n_spans") == 2 && a.getAs[Long]("n_unique") == 1 &&
      a.getAs[Long]("n_owned") == 1 && a.getAs[Long]("n_stripped") == 0)
    val b = rows("src_b")
    assert(b.getAs[Long]("n_spans") == 4 && b.getAs[Long]("n_unique") == 0 &&
      b.getAs[Long]("n_owned") == 1 && b.getAs[Long]("n_stripped") == 3,
      s"src_b attribution wrong: $b")
    assert(b.getAs[Long]("tokens_stripped") == 3L * graft.operators.Dedup.SpanTokens)
    assert(b.getAs[Double]("strip_frac") == 0.75)
  }

  test("q117: weighted sample reproduces the priority formula exactly on a planted corpus") {
    import spark.implicits._
    // 30 docs in one source, token counts 1..30; k=20 → 10 must lose.
    // Expected selection is recomputed independently (java MD5, same
    // w/(h+1) priority) — a true parity check, not a chance property.
    val dir = java.nio.file.Files.createTempDirectory("graft-q117").toString
    val docs = (1L to 30L).map { i =>
      val text = (1L to i).map(j => s"t$j").mkString(" ")
      (i, text, "en", "s0", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def fp8(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val expected = (1L to 30L)
      .map { i =>
        val w = math.min(i, graft.operators.TrainingPrep.WeightCap.toLong)
        (i, w, w.toDouble / (fp8(s"wsamp:$i") + 1L).toDouble)
      }
      .sortBy { case (id, _, pri) => (-pri, -id) }
      .take(graft.operators.TrainingPrep.WeightedSampleK)
      .zipWithIndex
      .map { case ((id, w, _), pos) => (pos + 1L, id, w) }
    val got = graft.operators.TrainingPrep.weightedSample(spark, dir).collect()
      .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("doc_id"), r.getAs[Long]("w")))
      .sortBy(_._1)
    assert(got.toSeq == expected, s"engine sample diverges from the independent formula:\n$got")
  }

  test("q117: weight cap binds — a giant doc competes at WeightCap, not its true length") {
    import spark.implicits._
    val cap = graft.operators.TrainingPrep.WeightCap
    val dir = java.nio.file.Files.createTempDirectory("graft-q117cap").toString
    Seq(
      (1L, (1 to cap * 3).map(i => s"w$i").mkString(" "), "en", "s0", 10L),
      (2L, "short text", "en", "s0", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val byId = graft.operators.TrainingPrep.weightedSample(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("w")).toMap
    assert(byId(1L) == cap.toLong, s"giant doc reported w=${byId(1L)}, expected cap $cap")
    assert(byId(2L) == 2L)
  }

  test("q118: exposure attributes exactly on a planted corpus; trigram-free docs are excluded") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q118").toString
    Seq(
      (1L, "a b c d e", "en", "s0", 9L),  // {abc,bcd,cde}; abc,bcd shared with doc 2
      (2L, "a b c d x", "en", "s0", 9L),  // {abc,bcd,cdx}
      (3L, "p q r s", "en", "s0", 7L),    // {pqr,qrs} all unique
      (4L, "hi there", "en", "s0", 8L),   // < 3 tokens → no trigrams → excluded
      (5L, "m n o p q", "en", "s1", 9L),  // exact dup of 6 → fully exposed
      (6L, "m n o p q", "en", "s1", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Dedup.ngramExposure(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_dup"), r.getAs[Long]("exposure_ppm"))).toMap
    assert(got == Map(
      1L -> ((3L, 2L, 666666L)),
      2L -> ((3L, 2L, 666666L)),
      3L -> ((2L, 0L, 0L)),
      5L -> ((3L, 3L, 1000000L)),
      6L -> ((3L, 3L, 1000000L))
    ), s"exposure table diverges from hand computation: $got")
  }

  test("q118: exposure totals close against the shingle df table on the gate corpus") {
    // cross-operator identity, not a chance property: Σ per-doc n_dup must
    // equal Σ over df≥2 shingles of df (each occurrence of a shared shingle
    // is counted once in exactly one doc's n_dup).
    val dir  = "/root/testdata/sf0.001"
    val rows = graft.operators.Dedup.ngramExposure(spark, dir).collect()
    rows.foreach { r =>
      val (n, d, ppm) = (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_dup"), r.getAs[Long]("exposure_ppm"))
      assert(d >= 0L && d <= n, s"n_dup out of range: $r")
      assert(ppm == d * 1000000L / n, s"ppm not the floor ratio: $r")
    }
    val expected = Tables.documents(spark, dir)
      .select(explode(graft.operators.Dedup.shingles(col("text"))).as("sh"))
      .groupBy("sh").count().filter(col("count") >= 2)
      .agg(sum("count")).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("n_dup")).sum == expected,
      "Σ n_dup diverges from the df-table mass")
    assert(rows.map(_.getAs[Long]("n_dup")).sum > 0L,
      "gate corpus has no cross-doc shingles — identity is vacuous")
  }

  test("q120: CDC boundaries are content-local — a head insertion leaves downstream chunks intact") {
    import spark.implicits._
    // doc 2 = doc 1 with 5 tokens prepended. Content-defined cuts depend
    // only on the 4-token window, so every chunk of doc 1 except (at most)
    // the seam-covering first chunk must reappear verbatim in doc 2.
    // Fixed-width chunking (q57's cut) shares NOTHING after the same edit.
    val rnd   = new scala.util.Random(7)
    val words = (1 to 200).map(_ => "w" + rnd.nextInt(5000))
    val a     = words.mkString(" ")
    val b     = "pre1 pre2 pre3 pre4 pre5 " + a
    val dir   = java.nio.file.Files.createTempDirectory("graft-q120").toString
    Seq((1L, a, "en", "s0", a.length.toLong), (2L, b, "en", "s0", b.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val chunks = graft.operators.Dedup.cdcChunkTable(spark, dir).collect()
    val fa     = chunks.filter(_.getAs[Long]("doc_id") == 1L).map(_.getAs[Long]("fp")).toSet
    val fb     = chunks.filter(_.getAs[Long]("doc_id") == 2L).map(_.getAs[Long]("fp")).toSet
    assert(fa.size >= 3, s"fixture inadequate: doc A cut into only ${fa.size} chunks")
    assert((fa intersect fb).size >= fa.size - 2,
      s"head insertion rewrote downstream chunks: ${fa.size} A-chunks, only ${(fa intersect fb).size} survive in B")
    // the q57 contrast: fixed-width cuts of the same pair share no chunk
    val fixedA = words.grouped(32).map(_.mkString(" ")).toSet
    val fixedB = (Seq("pre1", "pre2", "pre3", "pre4", "pre5") ++ words).grouped(32).map(_.mkString(" ")).toSet
    assert((fixedA intersect fixedB).isEmpty,
      "fixture lost its point: fixed-width chunks survived the insertion")
    // accounting closure on the planted pair
    val out = graft.operators.Dedup.cdcChunks(spark, dir).collect()
    assert(out.map(_.getAs[Long]("n_tokens")).sum == 405L) // 200 + 205
  }

  test("q120: chunk accounting closes against the raw token count on the gate corpus") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.operators.Dedup.cdcChunks(spark, dir).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_dup_chunks") <= r.getAs[Long]("n_chunks"), s"dup count overflows: $r")
      assert(r.getAs[Long]("dup_tokens") <= r.getAs[Long]("n_tokens"), s"dup tokens overflow: $r")
    }
    val expected = Tables.documents(spark, dir)
      .select(size(split(col("text"), " +")).cast("long").as("n")).agg(sum("n"))
      .collect()(0).getLong(0)
    assert(out.map(_.getAs[Long]("n_tokens")).sum == expected,
      "CDC chunks do not partition the token stream")
  }

  test("q116: accounting closes per source and totals agree with q71 on the gate corpus") {
    val dir  = "/root/testdata/sf0.01"
    val rows = graft.operators.Dedup.spanOwnership(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (u, o, st, n) = (r.getAs[Long]("n_unique"), r.getAs[Long]("n_owned"),
        r.getAs[Long]("n_stripped"), r.getAs[Long]("n_spans"))
      assert(u + o + st == n, s"ownership classes do not partition spans: $r")
      assert(r.getAs[Long]("tokens_stripped") == st * graft.operators.Dedup.SpanTokens)
      assert(r.getAs[Double]("strip_frac") ==
        BigDecimal(st.toDouble / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // cross-operator identity (not a chance property): occurrences of
    // duplicated spans counted by q71 (per lang) and q116 (per source)
    // total identically — both are Σ over spans with n_occ>1 of n_occ.
    val dupOcc71 = graft.operators.Dedup.spanDedup(spark, dir).collect()
      .map(_.getAs[Long]("n_dup_spans")).sum
    assert(rows.map(r => r.getAs[Long]("n_owned") + r.getAs[Long]("n_stripped")).sum == dupOcc71,
      "q116 dup-occurrence total diverges from q71's")
  }

  test("q129: banded two-phase running sum equals the naive global greedy on a planted corpus") {
    import spark.implicits._
    // Densities span five 50k-ppm bands, so band offsets actually compose:
    // a doc of n words with d distinct has density d*1e6/n (integer div).
    def doc(id: Long, src: String, distinct: Int, total: Int): (Long, String, String, String, Long) = {
      val words = (0 until total).map(i => s"w${id}_${i % distinct}")
      val t     = words.mkString(" ")
      (id, t, "en", src, t.length.toLong)
    }
    val rows = Seq(
      doc(1L, "s0", 10, 10),  // density 1_000_000, band 20
      doc(2L, "s1", 9, 12),   //         750_000,  band 15
      doc(3L, "s0", 5, 10),   //         500_000,  band 10
      doc(4L, "s1", 5, 15),   //         333_333,  band 6
      doc(5L, "s0", 5, 20),   //         250_000,  band 5
      doc(6L, "s1", 2, 20)    //         100_000,  band 2
    )
    val dir = java.nio.file.Files.createTempDirectory("graft-q129").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // Independent oracle: naive global sort by (density desc, doc_id) with a
    // sequential running sum — the plan shape q129 exists to AVOID at scale.
    val scored = rows.map { case (id, t, _, src, _) =>
      val ws   = t.split(" +")
      val toks = ws.length.toLong
      (id, src, toks, ws.distinct.length.toLong * 1000000L / toks)
    }
    val total  = scored.map(_._3).sum
    val budget = total * graft.operators.TrainingPrep.BudgetPct / 100L
    var cum    = 0L
    val expected = scored.sortBy { case (id, _, _, dens) => (-dens, id) }.map { case (id, src, toks, _) =>
      cum += toks
      (id, src, toks, cum <= budget)
    }
    val expBySrc = expected.groupBy(_._2).map { case (src, ds) =>
      src -> (ds.count(_._4).toLong, ds.filter(_._4).map(_._3).sum)
    }
    val got = graft.operators.TrainingPrep.tokenBudgetSelect(spark, dir).collect()
    assert(got.map(_.getAs[String]("source")).toSet == Set("s0", "s1"))
    got.foreach { r =>
      val (selDocs, selToks) = expBySrc(r.getAs[String]("source"))
      assert(r.getAs[Long]("sel_docs") == selDocs && r.getAs[Long]("sel_tokens") == selToks,
        s"banded selection diverges from the naive global greedy: $r expected ($selDocs, $selToks)")
    }
    // the budget must actually bind: not everything selected, nothing over budget
    assert(got.map(_.getAs[Long]("sel_tokens")).sum <= budget)
    assert(got.map(_.getAs[Long]("sel_docs")).sum < rows.size)
  }

  test("q130: group-aware split has provably zero leakage; naive split scatters planted duplicates") {
    import spark.implicits._
    // 30 duplicate pairs with ids spread across the hash space: each pair
    // lands in one naive split with prob 0.1, so P(zero naive leakage) =
    // 1e-30 — and fp8 is deterministic, so the assertion is stable.
    val pairs = (0 until 30).flatMap { g =>
      val t = s"dup group $g payload " + ("x" * (g % 7))
      Seq((1000L + g, t), (5000L + 31L * g, t))
    }
    val singles = (0 until 40).map(i => (9000L + i, s"unique doc $i"))
    val dir     = java.nio.file.Files.createTempDirectory("graft-q130").toString
    (pairs ++ singles)
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.operators.TrainingPrep.splitLeakage(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_docs") == 100L && r.getAs[Long]("n_groups") == 70L)
    assert(r.getAs[Long]("dup_groups") == 30L)
    assert(r.getAs[Long]("group_leaked_groups") == 0L,
      "group-aware split leaked — the whole point of splitting by representative")
    assert(r.getAs[Long]("naive_leaked_groups") > 0L,
      "fixture lost its point: naive per-doc split kept every duplicate pair together")
    assert(r.getAs[Long]("naive_leaked_docs") >= 2L * r.getAs[Long]("naive_leaked_groups"))
    assert(r.getAs[Long]("train_docs") + r.getAs[Long]("val_docs") + r.getAs[Long]("test_docs") ==
      r.getAs[Long]("n_docs"))
  }

  test("q132: schedule is a main-phase permutation plus a top-density anneal replay") {
    import spark.implicits._
    // 8 docs, distinct densities spanning bands; anneal = top 25% = 2 docs.
    def doc(id: Long, distinct: Int, total: Int): (Long, String, String, String, Long) = {
      val t = (0 until total).map(i => s"w${id}_${i % distinct}").mkString(" ")
      (id, t, "en", "s0", t.length.toLong)
    }
    val rows = Seq(
      doc(1L, 10, 10), doc(2L, 9, 12), doc(3L, 5, 10), doc(4L, 5, 15),
      doc(5L, 5, 20), doc(6L, 2, 20), doc(7L, 3, 20), doc(8L, 4, 20)
    )
    val dir = java.nio.file.Files.createTempDirectory("graft-q132").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out  = graft.operators.TrainingPrep.curriculumOrder(spark, dir).collect()
    val main = out.filter(_.getAs[String]("phase") == "main")
    val ann  = out.filter(_.getAs[String]("phase") == "anneal")
    assert(main.length == 8 && main.map(_.getAs[Long]("pos")).sorted.toSeq == (0L to 7L))
    assert(ann.length == 2 && ann.map(_.getAs[Long]("pos")).sorted.toSeq == Seq(8L, 9L))
    // independent cut oracle: top-2 by (density desc, doc_id) computed naively
    val expectedReserve = rows
      .map { case (id, t, _, _, _) =>
        val ws = t.split(" +"); (id, ws.distinct.length.toLong * 1000000L / ws.length)
      }
      .sortBy { case (id, dens) => (-dens, id) }
      .take(2).map(_._1).toSet
    assert(ann.map(_.getAs[Long]("doc_id")).toSet == expectedReserve,
      "anneal reserve is not the top-density slice")
    // the anneal docs also train in the main phase (replay, not exclusion)
    assert(expectedReserve.subsetOf(main.map(_.getAs[Long]("doc_id")).toSet))
  }

  test("q133: per-artifact deletion costs attribute exactly on a planted corpus") {
    import spark.implicits._
    // delete list = ids % 13 == 0: docs 13 and 26. Group structure:
    // {13,14} same text (rep 13 deleted, member survives -> loses rep),
    // {26} alone (orphaned), {1,2} same text untouched, 40/41 unique fill.
    // lang split puts every deleted doc in "en"; "xx" bins stay untouched.
    val rows = Seq(
      (13L, "shared alpha text", "en"), (14L, "shared alpha text", "en"),
      (26L, "lonely beta " + Seq.fill(40)("tok").mkString(" "), "en"),
      (1L, "shared gamma", "en"), (2L, "shared gamma", "en"),
      (40L, "plain doc one", "en"),
      (41L, "other lang doc", "xx"), (42L, "other lang doc two", "xx")
    ).map { case (id, t, l) => (id, t, l, "s0", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft-q133").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.operators.TrainingPrep.deletionPropagation(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_docs") == 8L && r.getAs[Long]("n_deleted") == 2L)
    assert(r.getAs[Long]("deleted_tokens") == 3L + 42L) // doc13: 3 toks, doc26: 42
    // chunks of 32: doc13 -> 1, doc26 -> ceil(42/32) = 2
    assert(r.getAs[Long]("chunk_rows_purged") == 3L)
    assert(r.getAs[Long]("groups_orphaned") == 1L, "doc 26's singleton group must orphan")
    assert(r.getAs[Long]("groups_losing_rep") == 1L, "group {13,14} must lose its representative")
    // all docs fit bin 0 of their lang: en bin touched, xx bin untouched
    assert(r.getAs[Long]("bins_total") == 2L && r.getAs[Long]("bins_touched") == 1L)
    assert(r.getAs[Long]("collateral_docs") == 4L) // en survivors: 14, 1, 2, 40
    val survToks = Seq("shared alpha text", "shared gamma", "shared gamma", "plain doc one")
      .map(_.split(" +").length.toLong).sum
    assert(r.getAs[Long]("collateral_tokens") == survToks)
  }

  test("q131: Hellinger² is 0 for identical sources, ≈2 for disjoint ones, and pairs are ordered") {
    import spark.implicits._
    // Sources A and B share an identical unigram distribution; C is
    // vocabulary-disjoint. 40 distinct terms total — all inside the
    // top-200 vocab cap, so no OOV renormalization muddies the bounds.
    def corpus(src: String, prefix: String): Seq[(String, String)] =
      (0 until 10).map(i => (src, (0 to i).map(j => s"${prefix}$j").mkString(" ")))
    val rows = (corpus("a", "t") ++ corpus("b", "t") ++ corpus("c", "z")).zipWithIndex
      .map { case ((src, t), i) => (i.toLong, t, "en", src, t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft-q131").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.sourceDivergence(spark, dir).collect()
    assert(out.length == 3, s"expected 3 source pairs, got ${out.length}")
    out.foreach(r => assert(r.getAs[String]("src_a") < r.getAs[String]("src_b")))
    val byPair = out.map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) -> r).toMap
    assert(byPair(("a", "b")).getAs[Long]("h2_e12") == 0L,
      "identical distributions must have exactly zero Hellinger² under floor-e12")
    assert(byPair(("a", "b")).getAs[Long]("shared_terms") == 10L)
    Seq(("a", "c"), ("b", "c")).foreach { k =>
      val r  = byPair(k)
      val h2 = r.getAs[Long]("h2_e12")
      assert(r.getAs[Long]("shared_terms") == 0L)
      // disjoint supports: H² = Σpa + Σpc = 2 exactly; per-term floor loses
      // strictly less than 1e-12 each over n_terms terms
      assert(h2 > 2000000000000L - r.getAs[Long]("n_terms") && h2 <= 2000000000000L,
        s"disjoint-support H² out of bounds: $h2")
    }
  }

  test("q134: planted triangles — K3 counted once per corner, square counts zero, dups/self-loops ignored") {
    import spark.implicits._
    // triangle {1,2,3} with pendant 4—1; square 5-6-7-8 (no triangle);
    // reversed duplicate (2,1), exact duplicate (1,2), self-loop (9,9)
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (1L, 2L), (4L, 1L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L), (9L, 9L)
    ).toDF("src", "dst")
    val out = graft.operators.GraphOps.triangleStatsOver(edges).collect()
    val byNode = out.map(r => r.getAs[Long]("node") -> r).toMap
    assert(!byNode.contains(9L), "a self-loop-only node has no undirected edge")
    Seq(1L, 2L, 3L).foreach(n => assert(byNode(n).getAs[Long]("triangles") == 1L))
    Seq(4L, 5L, 6L, 7L, 8L).foreach(n => assert(byNode(n).getAs[Long]("triangles") == 0L))
    // node 1: degree 3 (2, 3, 4), one triangle → cc = 2·1/(3·2) = 1/3
    assert(byNode(1L).getAs[Long]("degree") == 3L)
    assert(byNode(1L).getAs[Long]("cc_ppm") == 333333L)
    // nodes 2, 3: degree 2, closed wedge → cc = 1 exactly
    Seq(2L, 3L).foreach(n => assert(byNode(n).getAs[Long]("cc_ppm") == 1000000L))
    // degree-1 pendant: cc defined as 0, not a division by zero
    assert(byNode(4L).getAs[Long]("cc_ppm") == 0L)
  }

  test("q134: K4 — every wedge closes; 4 triangles, 3 per node, cc = 1") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L)
    val k4 = (for { a <- nodes; b <- nodes if a < b } yield (a, b)).toDF("src", "dst")
    val out = graft.operators.GraphOps.triangleStatsOver(k4).collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getAs[Long]("degree") == 3L)
      assert(r.getAs[Long]("triangles") == 3L)
      assert(r.getAs[Long]("cc_ppm") == 1000000L)
    }
    // global count = Σ per-node / 3
    assert(out.map(_.getAs[Long]("triangles")).sum / 3 == 4L)
  }

  test("q135: MI feature selection — perfectly discriminative tokens rank top, uniform token scores zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mi").toString
    // 2 en docs carry "aaa", 2 fr docs carry "bbb"; "ccc" appears in all 4
    val rows = Seq(
      (1L, "aaa ccc", "en", "s", 7L),
      (2L, "aaa ccc", "en", "s", 7L),
      (3L, "bbb ccc", "fr", "s", 7L),
      (4L, "bbb ccc", "fr", "s", 7L)
    )
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val feat = Seq("aaa", "bbb", "ccc")
      .toDF("t")
      .select(
        col("t"),
        (graft.functions.Fingerprints.fp8(col("t")) % graft.operators.TextAnalysis.MiHashDim)
          .as("f")
      )
      .collect()
      .map(r => r.getAs[String]("t") -> r.getAs[Long]("f"))
      .toMap
    val out  = graft.operators.TextAnalysis.miFeatures(spark, dir).collect()
    val byF  = out.map(r => r.getAs[Long]("feature") -> r).toMap
    // MI(aaa) = MI(bbb) = (2/4)·ln(4·2/(2·2)) = ln(2)/2 → 346573 micros
    Seq("aaa", "bbb").foreach { t =>
      assert(byF(feat(t)).getAs[Long]("mi_micros") == 346573L, s"MI of $t")
      assert(byF(feat(t)).getAs[Long]("n_docs") == 2L)
    }
    // ccc is label-independent: every (f, y) term is exactly ln(1) = 0
    assert(byF(feat("ccc")).getAs[Long]("mi_micros") == 0L)
    // ranking: the two discriminative features are ranks 1-2 (tie broken by
    // feature id ascending), the uniform one ranks below them
    val topTwo = out.filter(r => r.getAs[Long]("rnk") <= 2L).map(_.getAs[Long]("feature")).toSet
    assert(topTwo == Set(feat("aaa"), feat("bbb")))
    assert(byF(feat("ccc")).getAs[Long]("rnk") > 2L)
  }

  test("q137: triangle delta — closing-edge attribution counts 1/2/3-new-edge triangles exactly once") {
    import spark.implicits._
    // base: path 1-2-3; lone edge 20-21; delta: (1,3) closes the base path
    // (ONE new edge); (21,22)+(20,22) close a triangle with TWO new edges;
    // (10,11)+(11,12)+(10,12) form an all-new triangle (THREE new edges —
    // the case naive per-edge common-neighbor counting triple-counts);
    // (30,31) closes nothing
    val base  = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("a", "b")
    val delta = Seq((1L, 3L), (21L, 22L), (20L, 22L), (10L, 11L), (11L, 12L), (10L, 12L), (30L, 31L))
      .toDF("a", "b")
    val out = graft.operators.GraphOps.triangleDeltaOver(base, delta).head()
    assert(out.getAs[Long]("n_delta_edges") == 7L)
    assert(out.getAs[Long]("tri_added") == 3L,
      "expected exactly one count per new triangle regardless of how many of its edges are new")
    assert(out.getAs[Long]("touched_nodes") == 9L) // {1,2,3} ∪ {20,21,22} ∪ {10,11,12}
  }

  test("q137 telescopes: summed batch deltas equal the scratch count of the final graph") {
    import spark.implicits._
    // the real interaction graph in 4 hash-split batches, folded through
    // triangleDeltaOver exactly as a streaming foreachBatch sink would
    // (sf0.01: the sf0.001 fold is triangle-free, which would be vacuous)
    val und = graft.operators.GraphOps
      .edges(spark, "/root/testdata/sf0.01")
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .withColumn(
        "part",
        graft.functions.Fingerprints
          .fp8(concat(col("a").cast("string"), lit(":"), col("b").cast("string"))) % 4
      )
      .cache()
    try {
      var accum = Seq.empty[(Long, Long)].toDF("a", "b")
      var summed = 0L
      (0L to 3L).foreach { k =>
        val batch = und.filter(col("part") === k).select("a", "b")
        summed += graft.operators.GraphOps
          .triangleDeltaOver(accum, batch)
          .head()
          .getAs[Long]("tri_added")
        accum = accum.unionByName(batch)
      }
      val scratch = graft.operators.GraphOps
        .triangleStatsOver(und.select(col("a").as("src"), col("b").as("dst")))
        .agg(org.apache.spark.sql.functions.sum(col("triangles")).as("s"))
        .head()
          .getAs[Long]("s") / 3
      assert(summed == scratch, s"telescoped $summed != scratch $scratch")
      assert(scratch > 0L, "vacuous: the sf0.001 graph has no triangles")
    } finally und.unpersist()
  }

  test("q137: delta against an empty batch adds nothing; base-only triangles never recount") {
    import spark.implicits._
    val base  = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b") // base already closed
    val delta = Seq.empty[(Long, Long)].toDF("a", "b")
    val out   = graft.operators.GraphOps.triangleDeltaOver(base, delta).head()
    assert(out.getAs[Long]("n_delta_edges") == 0L)
    assert(out.getAs[Long]("tri_added") == 0L)
    assert(out.getAs[Long]("touched_nodes") == 0L)
  }

  private def clique(n: Int): Seq[(Long, Long)] =
    for { a <- 0 until n; b <- (a + 1) until n } yield (a.toLong, b.toLong)

  /** Runs q137 on each (name, base, delta) case, checks every output column
    * against q134's per-node recount of base and base ++ delta, and returns
    * (tri_added, touched_nodes) by case name. */
  private def q137AgainstRecount(cases: Seq[(String, Seq[(Long, Long)], Seq[(Long, Long)])]): Map[String, (Long, Long)] = {
    import spark.implicits._
    import graft.operators.GraphOps
    // per-node triangle counts by q134's operator, the reference algorithm
    def perNode(es: Seq[(Long, Long)]): Map[Long, Long] =
      GraphOps.triangleStatsOver(es.toDF("src", "dst")).select("node", "triangles").as[(Long, Long)].collect().toMap
    cases.map { case (name, base, delta) =>
      val row = GraphOps.triangleDeltaOver(base.toDF("a", "b"), delta.toDF("a", "b")).head()
      val b   = perNode(base)
      val f   = perNode(base ++ delta)
      val touched = (b.keySet ++ f.keySet).count(n => b.getOrElse(n, 0L) != f.getOrElse(n, 0L))
      assert(row.getAs[Long]("n_delta_edges") == delta.size.toLong, name)
      assert(row.getAs[Long]("tri_added") == (f.values.sum - b.values.sum) / 3, name)
      assert(row.getAs[Long]("touched_nodes") == touched.toLong, name)
      name -> (row.getAs[Long]("tri_added"), row.getAs[Long]("touched_nodes"))
    }.toMap
  }

  test("q137 equals the q134 recount: sparse path and 75%-delta K30") {
    // three quarters of K30's 435 edges arrive in one batch
    val (k30Base, k30Delta) = clique(30).partition { case (a, b) => (a * 31 + b) % 4 == 0 }
    val got = q137AgainstRecount(Seq(
      // a 100-edge path plus 3 closing edges, one new triangle each
      ("sparse path", (0 until 100).map(i => (i.toLong, (i + 1).toLong)), Seq((0L, 2L), (10L, 12L), (50L, 52L))),
      ("75%-delta K30", k30Base, k30Delta)
    ))
    // the reference agrees with the hand counts, so neither case is vacuous
    assert(got("sparse path") == ((3L, 9L)))
    assert(got("75%-delta K30")._1 > 0L && got("75%-delta K30")._2 == 30L)
  }

  test("q137 equals the q134 recount: all-new K4, every corner touched") {
    // every K4 edge is new, next to a triangle-free spectator edge
    val got = q137AgainstRecount(Seq(("all-new K4", Seq((100L, 101L)), clique(4))))
    assert(got("all-new K4") == ((4L, 4L))) // C(4,3), every corner touched
  }

  test("q138: edge similarity — K4 edges score 1.0, bridge and square edges score 0") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L)
    val k4    = for { a <- nodes; b <- nodes if a < b } yield (a, b)
    // K4 + a pendant bridge 4—5 + a disjoint square 10-11-12-13
    val edges = (k4 ++ Seq((4L, 5L), (10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L)))
      .toDF("src", "dst")
    val out  = graft.operators.GraphOps.edgeSimilarityOver(edges).collect()
    val byE  = out.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r).toMap
    // inside K4: common = 2, |N(a)∪N(b)∖{a,b}| = 3+3−2−2 = 2 → sim 1.0
    // (edges at node 4 see deg 4 from the bridge: (1,4)/(2,4)/(3,4) differ)
    Seq((1L, 2L), (1L, 3L), (2L, 3L)).foreach { e =>
      assert(byE(e).getAs[Long]("common") == 2L)
      assert(byE(e).getAs[Long]("sim_ppm") == 1000000L, s"pure-K4 edge $e")
    }
    // K4 edges touching the bridged node: 2 common of 3+4−2−2 = 3 union
    Seq((1L, 4L), (2L, 4L), (3L, 4L)).foreach { e =>
      assert(byE(e).getAs[Long]("sim_ppm") == 2000000L / 3L, s"bridged-K4 edge $e")
    }
    // the bridge itself and every square edge close no triangle
    (Seq((4L, 5L), (10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L))).foreach { e =>
      assert(byE(e).getAs[Long]("common") == 0L && byE(e).getAs[Long]("sim_ppm") == 0L,
        s"triangle-free edge $e must score 0")
    }
    // ranking: the three pure-K4 edges are ranks 1–3
    assert(out.filter(_.getAs[Long]("rnk") <= 3L).map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("q139: k-core peel — cascades drain a path, K4 survives k=3, tail peels off a triangle") {
    import spark.implicits._
    val nodes = Seq(10L, 11L, 12L, 13L)
    val k4    = for { a <- nodes; b <- nodes if a < b } yield (a, b)
    // triangle {1,2,3} with tail 3—4 (2-core = triangle, tail peels);
    // path 20-21-22-23-24 (2-core drains by CASCADE, needs multiple rounds);
    // K4 on 10..13 (3-core survives intact)
    val edges = (Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L)) ++ k4).toDF("src", "dst")
    val two = graft.operators.GraphOps.kCoreRuns(edges, k = 2, rounds = 8)._1.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("in_core")).toMap
    Seq(1L, 2L, 3L).foreach(n => assert(two(n) == 1L, s"triangle node $n must stay in the 2-core"))
    assert(two(4L) == 0L, "degree-1 tail must peel")
    Seq(20L, 21L, 22L, 23L, 24L).foreach(n =>
      assert(two(n) == 0L, s"path node $n must drain by cascade — ends peel, middles follow"))
    nodes.foreach(n => assert(two(n) == 1L))
    val three = graft.operators.GraphOps.kCoreRuns(edges, k = 3, rounds = 8)._1.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("in_core")).toMap
    nodes.foreach(n => assert(three(n) == 1L, s"K4 node $n survives k=3"))
    Seq(1L, 2L, 3L, 4L).foreach(n => assert(three(n) == 0L, s"triangle node $n peels at k=3"))
  }

  test("q142: assortativity — a star is exactly −1, a regular graph reports the 0 convention") {
    import spark.implicits._
    // star: hub 0 with 4 leaves — perfect disassortativity, r = −1 exactly
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val rs   = graft.operators.GraphOps.assortativityOver(star).head()
    assert(rs.getAs[Long]("n_edges") == 4L && rs.getAs[Long]("n_endpoint_pairs") == 8L)
    assert(rs.getAs[Long]("assortativity_micros") == -1000000L)
    // K4 is degree-regular: zero variance → undefined → reported 0
    val nodes = Seq(1L, 2L, 3L, 4L)
    val k4    = (for { a <- nodes; b <- nodes if a < b } yield (a, b)).toDF("src", "dst")
    assert(graft.operators.GraphOps.assortativityOver(k4).head().getAs[Long]("assortativity_micros") == 0L)
  }

  test("q141: cluster purity/NMI — well-separated planted groups score purity 1.0, refining clusters NMI < 1") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_purity").toString
    // 3 groups of 10 vectors on far-apart axes (64-dim); vec_ids
    // INTERLEAVE groups so q70's lowest-K init seeds every group (an
    // all-one-group seed can leave two groups sharing a centroid after
    // the fixed 2 iterations). Any k-means partition then REFINES the
    // groups: every cluster label-pure, clusters may split labels (NMI
    // strictly below 1).
    val rows = for {
      g <- 0 until 3
      i <- 0 until 10
    } yield {
      val v = Array.fill(64)(0.001f * i)
      v(g) = 10f + i * 0.01f
      ((i * 3 + g).toLong, v.toSeq, g)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = graft.operators.Clustering.clusterPurity(spark, dir).head()
    assert(r.getAs[Long]("n_points") == 30L && r.getAs[Long]("n_labels") == 3L)
    assert(r.getAs[Long]("purity_micros") == 1000000L,
      "every cluster must be label-pure on separated groups")
    assert(r.getAs[Long]("mi_micros") > 0L && r.getAs[Long]("hc_micros") > 0L && r.getAs[Long]("hl_micros") > 0L)
    val nmi = r.getAs[Long]("nmi_micros")
    assert(nmi > 0L && nmi <= 1000001L, s"NMI out of (0, 1]: $nmi")
    // pure refinement means MI ≈ H(labels): the floor-micros sums may
    // differ by at most one micro per contributing term
    assert(math.abs(r.getAs[Long]("mi_micros") - r.getAs[Long]("hl_micros")) <= 32L,
      "refinement identity MI = H(L) violated beyond floor slack")
  }

  test("q140: retrieval eval — single-relevant corpus pins MRR/DCG/NDCG; zero-relevant query scores 0") {
    import spark.implicits._
    val dir    = java.nio.file.Files.createTempDirectory("graft_eval").toString
    val filler = Seq.fill(4)("filler").mkString(" ")
    // q2 = {window, agg}: doc 1 has every term 3× (the ONLY relevant doc),
    // doc 2 matches both terms once (candidate, below the tf floor),
    // doc 3 matches one term. q1 = {spark, hash, join}: doc 4 matches all
    // three once — candidates but ZERO relevant. q3 has no candidates.
    val rows = Seq(
      (1L, "window window window agg agg agg", "en", "s", 33L),
      (2L, s"window agg $filler", "en", "s", 30L),
      (3L, s"window $filler", "en", "s", 26L),
      (4L, "spark hash join", "en", "s", 15L)
    )
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.retrievalEval(spark, dir).collect()
    val byK = out.map(r => (r.getAs[String]("query_id"), r.getAs[String]("system")) -> r).toMap
    assert(!byK.keySet.exists(_._1 == "q3"), "a query with no candidates emits no row")
    Seq("bm25", "rrf").foreach { sys =>
      val q2 = byK(("q2", sys))
      assert(q2.getAs[Long]("n_relevant") == 1L)
      // doc 1 dominates both rankers (highest tf AND highest density)
      assert(q2.getAs[Long]("first_rel_rank") == 1L, s"$sys should rank the only relevant doc first")
      assert(q2.getAs[Long]("mrr_micros") == 1000000L)
      // dcg = ⌊10⁶/ln 2⌋; idcg(1) is the same constant → ndcg exactly 1.0
      assert(q2.getAs[Long]("dcg_micros") == 1442695L)
      assert(q2.getAs[Long]("ndcg_micros") == 1000000L)
      val q1 = byK(("q1", sys))
      assert(q1.getAs[Long]("n_relevant") == 0L)
      assert(q1.getAs[Long]("first_rel_rank") == 0L && q1.getAs[Long]("mrr_micros") == 0L)
      assert(q1.getAs[Long]("dcg_micros") == 0L && q1.getAs[Long]("ndcg_micros") == 0L)
    }
  }

  test("q136: RRF fusion — integer identity, candidate parity, QL ordering on a planted corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rrf").toString
    val filler = Seq.fill(16)("filler").mkString(" ")
    // q2 = {window, agg}: doc 1 dense (QL 1.0), doc 3 half (0.5), doc 2
    // diluted (4/20 = 0.2); doc 4 matches nothing and must appear nowhere
    val rows = Seq(
      (1L, "window agg", "en", "s", 10L),
      (2L, s"window window window window $filler", "en", "s", 40L),
      (3L, "agg filler", "en", "s", 10L),
      (4L, "nothing here", "en", "s", 12L)
    )
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.rankFusion(spark, dir).collect()
    val k   = graft.operators.TextAnalysis.RrfK
    assert(!out.exists(_.getAs[Long]("doc_id") == 4L), "no-match doc must not be a candidate")
    out.foreach { r =>
      // the fused score IS the integer identity — nothing else
      val expect = 1000000L / (k + r.getAs[Long]("rank_bm25")) +
        1000000L / (k + r.getAs[Long]("rank_ql"))
      assert(r.getAs[Long]("rrf_micros") == expect)
    }
    val q2 = out.filter(_.getAs[String]("query_id") == "q2")
    assert(q2.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L),
      "both rankers share the matched-candidate set")
    val qlRank = q2.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank_ql")).toMap
    assert(qlRank(1L) == 1L && qlRank(3L) == 2L && qlRank(2L) == 3L,
      s"QL = tf_sum/dl must rank density 1.0 > 0.5 > 0.2, got $qlRank")
    // fused output is rank-contiguous and ordered by (rrf DESC, doc_id ASC)
    val ordered = q2.sortBy(_.getAs[Long]("rnk"))
    assert(ordered.map(_.getAs[Long]("rnk")).toSeq == (1L to q2.length).toSeq)
    ordered.sliding(2).foreach {
      case Array(a, b) =>
        val (ra, rb) = (a.getAs[Long]("rrf_micros"), b.getAs[Long]("rrf_micros"))
        assert(ra > rb || (ra == rb && a.getAs[Long]("doc_id") < b.getAs[Long]("doc_id")))
      case _ =>
    }
  }
}
