package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{FuzzyDedup, Similarity}
import graft.plans.{VectorExpressions, VectorHash}

/** Embedding near-dup (q37/q39) semantics the 0-row gate corpus can't pin:
  * recall on PLANTED near-duplicates, the candidate-volume prune the banding
  * must deliver, parity of the fused band-keys expression with its per-plane
  * reference formulation, and the q37 scale guard — plus the MinHash
  * survivor (q107/q109) and near-contamination (q113) checks.
  */
class FuzzyDedupSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)
  private val dir = "/root/testdata/sf0.001"

  /** Synthetic corpus with planted near-dups: `nBase` random unit-ish vectors
    * plus, for the first `nDup`, a perturbed copy at cosine ≥ 0.9. Written as
    * an embeddings.parquet table so the production readers run unchanged. */
  private lazy val plantedDir: String = {
    val rnd  = new scala.util.Random(42)
    val out  = Files.createTempDirectory("graft-planted").toFile
    out.deleteOnExit()
    val nBase = 80
    val nDup  = 12
    val base = (0 until nBase).map(_ => Array.fill(64)(rnd.nextGaussian().toFloat))
    val dups = (0 until nDup).map { i =>
      // small additive noise: cos(v, v + eps) stays well above 0.9 for
      // |eps| << |v| (verified below against the exact all-pairs join)
      base(i).map(x => x + (rnd.nextGaussian() * 0.05).toFloat)
    }
    val rows = (base ++ dups).zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"${out.getAbsolutePath}/embeddings.parquet")
    out.getAbsolutePath
  }

  test("q39 LSH finds every planted near-dup the exact all-pairs join finds") {
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairSet(FuzzyDedup.embeddingPairs(spark, plantedDir))
    val lsh   = pairSet(FuzzyDedup.embeddingPairsLsh(spark, plantedDir))
    assert(exact.nonEmpty, "fixture planted no qualifying pairs — perturbation too large")
    assert(exact.size >= 10, s"expected >= 10 planted pairs, got ${exact.size}")
    assert(lsh == exact, s"LSH missed pairs: ${exact -- lsh}; extra: ${lsh -- exact}")
  }

  test("q39 recall AT the 0.9 boundary: pair at cosine ~0.905 found, ~0.885 excluded") {
    // Exact-angle construction: w = c*u + sqrt(1-c^2)*z with z ⊥ u gives
    // cos(u, w) = c exactly (up to float32 storage rounding, hence the
    // margin off 0.9). This pins the scaladoc claim in FuzzyDedup that the
    // band shape keeps recall ~1 at the threshold itself, where per-band
    // collision probability is lowest — the planted-noise fixture above only
    // exercises cosine >= 0.97.
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def orthoUnit(u: Array[Double]): Array[Double] = {
      val z    = Array.fill(u.length)(rnd.nextGaussian())
      val proj = u.zip(z).map { case (a, b) => a * b }.sum
      unit(z.zipWithIndex.map { case (x, i) => x - proj * u(i) })
    }
    def atCosine(u: Array[Double], c: Double): Array[Double] = {
      val z = orthoUnit(u)
      u.zipWithIndex.map { case (x, i) => c * x + math.sqrt(1 - c * c) * z(i) }
    }
    val u  = unit(Array.fill(64)(rnd.nextGaussian()))
    val hi = atCosine(u, 0.905) // qualifies
    val lo = atCosine(u, 0.885) // does not
    val out = Files.createTempDirectory("graft-boundary").toFile
    out.deleteOnExit()
    import spark.implicits._
    Seq(0L -> u.toSeq, 1L -> hi.toSeq, 2L -> lo.toSeq)
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"${out.getAbsolutePath}/embeddings.parquet")
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ids(FuzzyDedup.embeddingPairs(spark, out.getAbsolutePath))
    assert(exact == Set((0L, 1L)), s"exact all-pairs at the boundary returned $exact")
    val lsh = ids(FuzzyDedup.embeddingPairsLsh(spark, out.getAbsolutePath))
    assert(lsh == exact, s"LSH at the boundary returned $lsh, exact returned $exact")
  }

  test("q76 embedding clusters: planted near-dup pairs become clusters labeled by their minimum") {
    val clusters = FuzzyDedup.embeddingClusters(spark, plantedDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(clusters.length >= 10, s"expected >= 10 planted clusters, got ${clusters.length}")
    // each planted pair is (base i, dup 80+i): cluster id = min = base id
    clusters.foreach { case (cid, size, maxId) =>
      assert(size == 2, s"planted dups are pairs, cluster $cid has size $size")
      assert(maxId == cid + 80, s"cluster $cid should pair base $cid with dup ${cid + 80}, got max $maxId")
    }
  }

  test("q39 banding prunes candidates >= 40x below all-pairs") {
    // The random-pair floor is bands·0.5^bits = 64/4096 ≈ 1.56% (64×), but
    // the gate corpus is CLUSTERED (vectors carry a `label`), and same-
    // cluster pairs agree on hyperplane signs more often than 0.5 per plane,
    // so the measured admit rate runs above the floor (~2.2% here ⇒ ~45×).
    // Those extra candidates are exactly what the cosine verify step is for;
    // 40× pins that the banding still prunes the join by over an order of
    // magnitude on realistic (correlated) data, not just on uniform noise.
    val n        = Tables.embeddings(spark, dir).count()
    val allPairs = n * (n - 1) / 2
    val emb      = Similarity.embWithNorm(spark, dir)
    val cands    = FuzzyDedup.hyperplaneCandidates(emb, FuzzyDedup.autoEmbBits(n), FuzzyDedup.EmbBands).count()
    assert(
      cands * 40 <= allPairs,
      s"banding admits $cands of $allPairs pairs (${cands * 100.0 / allPairs}%) — no real prune"
    )
  }

  test("HyperplaneBandKeys == per-plane reference formulation") {
    val emb = Tables.embeddings(spark, dir).limit(50)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    // both callers' shapes: q39's 12 bits × 64 bands and q61's 8 × 2
    val shapes = Seq(FuzzyDedup.EmbBits -> FuzzyDedup.EmbBands, Similarity.LshBucketBits -> Similarity.LshBandFamilies)
    for ((bits, bands) <- shapes) {
      // reference: one literal-array dot product per plane, same md5 planes
      val pl = VectorHash.planes(64, bits, bands)
      val ref = array((0 until bands).map { b =>
        val sig = (0 until bits).map { p =>
          val plane = array(pl(b * bits + p).toIndexedSeq.map(lit): _*)
          when(VectorExpressions.dotProduct(col("v"), plane) >= 0, lit(1 << p)).otherwise(lit(0))
        }.reduce(_ + _)
        concat_ws(":", lit(b), sig)
      }: _*)
      val rows = emb
        .select(
          col("vec_id"),
          VectorExpressions.hyperplaneBandKeys(col("v"), bits, bands).as("a"),
          ref.as("b")
        )
        .collect()
      rows.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2), s"$bits x $bands, vec_id=${r.getLong(0)}"))
    }
  }

  test("q37 guard fails fast above the row limit and can be overridden") {
    spark.conf.set("graft.exactPairs.maxRows", "10")
    try {
      val e = intercept[IllegalArgumentException](FuzzyDedup.embeddingPairs(spark, dir))
      assert(e.getMessage.contains("embeddingPairsLsh"))
      spark.conf.set("graft.exactPairs.maxRows", "1000000")
      assert(FuzzyDedup.embeddingPairs(spark, dir).count() >= 0)
    } finally spark.conf.unset("graft.exactPairs.maxRows")
  }

  test("q32 guard fails fast above the row limit and can be overridden") {
    spark.conf.set("graft.invertedJaccard.maxRows", "10")
    try {
      val e = intercept[IllegalArgumentException](graft.operators.Dedup.ngramJaccard(spark, dir))
      assert(e.getMessage.contains("minhashLsh"))
      spark.conf.set("graft.invertedJaccard.maxRows", "1000000")
      assert(graft.operators.Dedup.ngramJaccard(spark, dir).count() >= 0)
    } finally spark.conf.unset("graft.invertedJaccard.maxRows")
  }

  test("band-occupancy cap drops mega-buckets; honest near-dup pairs survive") {
    import spark.implicits._
    // degenerate corpus: 300 identical docs (one mega-bucket per band) plus
    // one honest near-dup pair in ordinary buckets
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val nearA  = "spark shuffles partitions across the cluster with hash keys fast"
    val nearB  = "spark shuffles partitions across the cluster with hash keys slowly"
    val rows = (0 until 300).map(i => (i.toLong, boiler, "en", "s", boiler.length.toLong)) ++
      Seq(
        (1000L, nearA, "en", "s", nearA.length.toLong),
        (1001L, nearB, "en", "s", nearB.length.toLong)
      )
    val d = java.nio.file.Files.createTempDirectory("graft-megabucket")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    val capped = FuzzyDedup.minhashLsh(spark, d.toString, maxOccupancy = 50)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1000L, 1001L)), s"capped run emitted $capped")
    // the dropped mega-bucket members are exact-dup territory: q30 catches them
    val exact = graft.operators.Dedup.exact(spark, d.toString)
      .collect().map(r => r.getAs[Long]("n_copies")).max
    assert(exact == 300L, "exact dedup does not cover the mega-bucket members")
    // without the cap the same corpus pays C(300,2)+1 verified pairs
    val uncapped = FuzzyDedup.minhashLsh(spark, d.toString, maxOccupancy = 1000000).count()
    assert(uncapped == 300L * 299 / 2 + 1)
  }

  test("connected components: chain converges in O(log diameter) rounds, one cluster") {
    import spark.implicits._
    // worst case for plain label propagation: a 64-node chain (diameter 63).
    // pointer jumping must close it in ~log2 rounds, not ~diameter rounds.
    val n     = 64
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = FuzzyDedup.connectedComponents(chain)
    val byLabel = labels.groupBy("label").count().collect()
    assert(byLabel.length == 1 && byLabel.head.getLong(1) == n, "chain did not merge into one cluster")
    assert(byLabel.head.getLong(0) == 0L, "cluster label is not the component minimum")
    assert(rounds <= 10, s"chain of $n took $rounds rounds — pointer jumping regressed")
    // two disjoint chains stay two clusters
    val two = chain.union(Seq((100L, 101L), (101L, 102L)).toDF("id_a", "id_b"))
    val (l2, _) = FuzzyDedup.connectedComponents(two)
    assert(l2.select("label").distinct().count() == 2)
  }

  test("edge store closure survives a session whose observationManager is live") {
    import spark.implicits._
    // Regression (r11 full-suite-only failure): SparkSession's lazy
    // `observationManager` is initialized by the FIRST observe() query on
    // the session and is NOT serializable. PackedPairStore.edges read
    // `schema.length` inside its mapPartitions lambda, capturing `this`
    // (and with it the session) — serializable only while the lazy field
    // was still null, so every suite passed standalone and 11 tests died
    // under the full run after the P3 observe() specs. Reproduce the
    // order-dependence deterministically: arm the lazy, then run CC.
    val obs = new org.apache.spark.sql.Observation()
    spark.range(2).observe(obs, count(lit(1)).as("n")).collect()
    assert(obs.get("n") == 2L) // observationManager is now initialized
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val (labels, _) = FuzzyDedup.connectedComponents(pairs) // must serialize
    assert(labels.select("label").distinct().count() == 2)
  }

  test("edge store is output-volume-proof: one serialized path, no routing variable") {
    import spark.implicits._
    // r9 had two stores behind a source-table ROW-count gate — the wrong
    // variable: a dup-dense SMALL corpus (few docs, Σ|group|² pair output)
    // routed onto the deserialized path that OOMed the 100× sweep. r10
    // removed the choice: ONE store, serialized UnsafeRow RDD blocks at
    // the level below, measured at parity with the old fast path.
    // the store packs UnsafeRow BYTES into chunks (compactness comes from
    // the packing, not the storage level), and the level must spill to
    // disk rather than recompute-or-die under memory pressure
    assert(FuzzyDedup.CcEdgeStorageLevel.useDisk && FuzzyDedup.CcEdgeStorageLevel.useMemory,
      "pair store must keep a memory+disk-spilling capacity profile")
    assert(FuzzyDedup.CcPackChunkBytes >= (1 << 20),
      "pack chunks must stay block-sized, not per-row")
    // the r9 misroute shape: 3 cliques of 20 nodes → 570 pairs from 60 rows
    val pairs = (0 until 3).flatMap { c =>
      val ids = (0 until 20).map(i => c * 100L + i)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toDF("id_a", "id_b")
    val (labels, _) = FuzzyDedup.connectedComponents(pairs)
    val clusters = labels.groupBy("label").count().collect()
    assert(clusters.length == 3 && clusters.forall(_.getLong(1) == 20L),
      "dense-dup fixture labels wrong")
    assert(clusters.map(_.getLong(0)).toSet == Set(0L, 100L, 200L),
      "cluster labels are not the component minima")
    // deterministic: a second run over the same pipeline labels identically
    // (the store's row copy + serialization round-trip must not reorder
    // or corrupt), including end-to-end through q38 at gate SF
    val dir = "/root/testdata/sf0.001"
    val a   = FuzzyDedup.dedupClusters(spark, dir).collect().map(_.toSeq).toSet
    val b   = FuzzyDedup.dedupClusters(spark, dir).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty, "q38 runs diverged across the pair store")
  }

  test("packed pair store: chunk-boundary roundtrip at a tiny ceiling") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // variable-width rows (long + string of growing length) force rows to
    // straddle chunk decisions; ceiling 64 B forces MANY chunks, ceiling 1
    // degrades to row-per-chunk — both must reproduce the rows exactly,
    // pinning the length-prefix codec (big-endian int32 + pointTo offsets)
    val proj = UnsafeProjection.create(Array[DataType](LongType, StringType))
    val rows = (0 until 200).map { i =>
      proj(InternalRow(i.toLong, UTF8String.fromString("s" * (i % 17)))).copy()
    }
    for (ceiling <- Seq(1, 64, 1 << 20)) {
      val chunks = FuzzyDedup.packUnsafeRows(rows.iterator, ceiling).toVector
      if (ceiling == 1) assert(chunks.length == rows.length, "ceiling 1 must give row-per-chunk")
      if (ceiling == 64) assert(chunks.length > 10, "tiny ceiling should produce many chunks")
      if (ceiling == (1 << 20)) assert(chunks.length == 1, "huge ceiling should give one chunk")
      assert(chunks.forall(c => ceiling == 1 || c.length <= ceiling + 4 + 64),
        "chunk overshoots ceiling by more than one row")
      val back = FuzzyDedup
        .unpackUnsafeRows(chunks.iterator, nFields = 2)
        .map(r => (r.getLong(0), r.getUTF8String(1).toString))
        .toVector
      assert(back == rows.map(r => (r.getLong(0), r.getUTF8String(1).toString)),
        s"roundtrip at ceiling $ceiling corrupted rows")
    }
  }

  test("pair store unpersists on the loud-failure path, not just on convergence") {
    import spark.implicits._
    // maxRounds=0 trips the non-convergence require() on the first round;
    // the output-sized packed store must not outlive the failure (a
    // long-lived session would otherwise strand it until GC).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs  = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      FuzzyDedup.connectedComponents(pairs, maxRounds = 0)
    }
    // labels localCheckpoints legitimately persist and have no unpersist
    // handle (reclaimed by GC — see Bench's between-query nudge); the
    // store is the only non-checkpoint persist in the operator
    val leaked = (spark.sparkContext.getPersistentRDDs.toMap -- before)
      .filterNot(_._2.isCheckpointed)
    assert(leaked.isEmpty, s"packed pair store leaked persisted RDDs: ${leaked.keySet}")
  }

  test("packed pair store: non-Unsafe rows route through the schema projection fallback") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // toRdd emits UnsafeRow under codegen — a convention, not a contract. A
    // generic-row source must pack via the schema projection, and without a
    // schema it must fail loudly instead of silently mis-framing bytes.
    val schema  = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val generic = (0 until 50).map(i => InternalRow(i.toLong, UTF8String.fromString("g" * (i % 7))))
    val chunks  = FuzzyDedup.packUnsafeRows(generic.iterator, 128, Some(schema)).toVector
    val back = FuzzyDedup
      .unpackUnsafeRows(chunks.iterator, nFields = 2)
      .map(r => (r.getLong(0), r.getUTF8String(1).toString))
      .toVector
    assert(back == generic.map(r => (r.getLong(0), r.getUTF8String(1).toString)),
      "generic rows corrupted through the projection fallback")
    intercept[IllegalStateException] {
      FuzzyDedup.packUnsafeRows(generic.iterator, 128).foreach(_ => ())
    }
  }

  test("connectedComponents: random graphs match a union-find reference exactly") {
    // Five registry queries ride on the pointer-jumped CC loop (q38/q76/
    // q107/q109/q119); its planted fixtures pin known shapes, this pins the
    // CONTRACT on adversarial ones: random multigraphs with self-loops and
    // duplicate/reversed edges, labels == min in-graph id per component,
    // node set == ids appearing in any pair. Reference: union-find with
    // min-root union, so each root IS its component minimum.
    import spark.implicits._
    val rnd = new scala.util.Random(1303)
    for (trial <- 1 to 4) {
      val n = 20 + rnd.nextInt(40)
      val m = 1 + rnd.nextInt(3 * n)
      val pairs = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inGraph  = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet
      val expected = inGraph.map(x => x -> find(x.toInt).toLong).toMap
      val (labels, rounds) = FuzzyDedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: n=$n m=$m rounds=$rounds")
      assert(rounds <= FuzzyDedup.MaxCcRounds)
    }
  }

  test("q109: per cluster the kept member has max quality; totals close against q107") {
    val dir = "/root/testdata/sf0.001"
    val q109 = graft.operators.FuzzyDedup.dedupSurvivorsByQuality(spark, dir).collect()
    val q107 = graft.operators.FuzzyDedup.dedupSurvivors(spark, dir).collect()
    // same clusters, same removal COUNT per source — only the chosen reps differ
    val c109 = q109.map(r => r.getAs[String]("source") -> r.getAs[Long]("n_removed")).toMap
    val c107 = q107.map(r => r.getAs[String]("source") -> r.getAs[Long]("n_removed")).toMap
    assert(c109.values.sum == c107.values.sum, "total removal count differs from min-id survivors")
    assert(c109.values.sum > 0, "gate corpus planted no near-dups — spec would be vacuous")
    // independent argmax oracle: q_removed_sum == sum(member qm) - sum(per-cluster max qm)
    import org.apache.spark.sql.functions._
    val (labels, _) = graft.operators.FuzzyDedup.connectedComponents(
      graft.operators.FuzzyDedup.minhashLsh(spark, dir).select("id_a", "id_b"))
    val qm = Tables.documents(spark, dir).select(
      col("doc_id").as("node"),
      floor(graft.operators.TextAnalysis.qualityScore(col("text"), col("n_chars")) * lit(1e6))
        .cast("long").as("qm"))
    val members = labels.join(qm, Seq("node")).collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("qm")))
    val expected = members.map(_._2).sum -
      members.groupBy(_._1).values.map(_.map(_._2).max).sum
    assert(q109.map(_.getAs[Long]("q_removed_sum")).sum == expected,
      "removed quality mass != member mass minus per-cluster maxima")
  }

  test("q113: a paraphrased leak is caught where q54 misses it") {
    import spark.implicits._
    // gate-corpus sanity only (leak COUNT there is a chance property of the
    // per-round regenerated data — eval set ∩ planted dup groups — so
    // non-vacuity is proven by the controlled fixture below instead)
    val gate = graft.operators.FuzzyDedup.nearContamination(spark, "/root/testdata/sf0.001").collect()
    gate.foreach { r =>
      assert(r.getAs[Long]("n_leaked") <= r.getAs[Long]("n_train"))
      assert(r.getAs[Long]("n_leak_pairs") >= r.getAs[Long]("n_leaked"))
    }
    // planted paraphrase: train = eval text + novel tail, tuned so exact-shingle
    // containment (q54's signal) is 0.453 < its 0.5 threshold while the pair
    // still collides in MinHash bands and verifies at Jaccard 0.453 >= 0.3
    val evalText = "kilo echo mike uniform bravo charlie red romeo delta lima sierra bravo amber quebec golf bravo charlie november november charlie hotel charlie romeo november bravo red sierra delta hotel uniform uniform sierra bravo sierra sierra mike bravo hotel bravo romeo blue echo juliet november echo romeo delta sierra juliet romeo red victor foxtrot delta sierra sierra uniform golf lima delta"
    val tail = "novemberx4 deltax4 xrayx4 tangox4 romeox4 whiskeyx4 victorx4 quebecx4 uniformx4 golfx4 yankeex4 redx4 amberx4 bluex4 yankeex4 golfx4 kilox4 uniformx4 bravox4 whiskeyx4 yankeex4 whiskeyx4 bluex4 zulux4 echox4 bluex4 tangox4 limax4 charliex4 quebecx4 hotelx4 xrayx4 alphax4 echox4 whiskeyx4 alphax4 echox4 echox4 charliex4 redx4 quebecx4 kilox4 novemberx4 julietx4 alphax4 deltax4 novemberx4 deltax4 papax4 xrayx4 bravox4 bluex4 julietx4 romeox4 alphax4 hotelx4 greenx4 alphax4 bluex4 greenx4 whiskeyx4 mikex4 julietx4 oscarx4 bravox4 whiskeyx4 zulux4 foxtrotx4 victorx4 papax4"
    val trainText = s"$evalText $tail"
    val dir = java.nio.file.Files.createTempDirectory("graft-q113").toString
    Seq(
      (97L, evalText, "en", "seval", evalText.length.toLong),   // 97 % EvalMod == 0
      (1L, trainText, "en", "strain", trainText.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val near = graft.operators.FuzzyDedup.nearContamination(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_leaked")).toMap
    assert(near("strain") == 1L, "paraphrased leak not caught by the banded screen")
    val exact = graft.operators.TrainingPrep.contaminationScreen(spark, dir).collect()
    assert(exact.length == 1 && exact.head.getAs[Long]("flagged") == 0L,
      "q54 flagged the paraphrase — fixture no longer demonstrates the gap q113 closes")
  }

  test("q107: survivors = corpus minus non-representative cluster members (min-id reps kept)") {
    // sf0.001 gate corpus: q38's clusters vs q107's accounting must agree
    val dir = "/root/testdata/sf0.001"
    val clusters = graft.operators.FuzzyDedup.dedupClusters(spark, dir).collect()
    val removedExpected = clusters.map(r => r.getAs[Long]("cluster_size") - 1).sum
    val surv = graft.operators.FuzzyDedup.dedupSurvivors(spark, dir).collect()
    val nDocs    = surv.map(_.getAs[Long]("n_docs")).sum
    val nRemoved = surv.map(_.getAs[Long]("n_removed")).sum
    val nKept    = surv.map(_.getAs[Long]("n_survivors")).sum
    assert(nRemoved == removedExpected, s"removed $nRemoved != clusters' non-reps $removedExpected")
    assert(nKept + nRemoved == nDocs, "survivor accounting does not close")
    assert(nRemoved > 0, "gate corpus planted no near-dups — accounting would be vacuous")
  }
}
