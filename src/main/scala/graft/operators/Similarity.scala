package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Eager, QueryModule, Tables}

/** Similarity search over the `embeddings` table (`ARRAY<FLOAT>`, dim 64).
  *
  * Two paths:
  *  - Brute-force cosine top-k: broadcast the (small) query set against the
  *    full corpus — a narrow map + per-query top-k, no corpus shuffle. This
  *    is the correctness baseline and is exactly right when |queries| is
  *    small, even at 100 TB of corpus.
  *  - LSH-bucketed (random-hyperplane sign bits) variant in [[MinHashLsh]]
  *    spirit: candidates meet only within a bucket, turning all-pairs
  *    O(n²) into a per-bucket join. Registered as `q61` (self-similar pair
  *    mining) — the scale path for corpus × corpus.
  *
  * All arithmetic is elementwise float→double cast then sequential fold, so
  * the DuckDB oracle (same fold order) is bit-identical; ranking ties are
  * broken on vec_id after rounding to 6 decimals.
  */
object Similarity extends QueryModule {

  /** Sequential-fold dot product — codegen'd Catalyst expression
    * (identical fold order to the HOF composition and the oracle). */
  def dot(a: Column, b: Column): Column = graft.plans.VectorExpressions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine with the zero-norm guard, shared by EVERY engine division site
    * (Similarity / FuzzyDedup / Clustering): a zero norm product yields
    * NULL, never an ANSI DIVIDE_BY_ZERO task failure. Defense in depth
    * behind the [[Tables]] ingestion drop (which already removes zero-norm
    * vectors from every Tables-fed path): a zero-norm vector reaching any
    * FUTURE entry point degrades to a null score — dropped by `cos >= t`
    * filters (NULL fails the predicate) and never winning a top-k slot
    * (descending orders put NULLs last). On a nonzero corpus the guard is
    * bit-neutral.
    *
    * GUARD FORM MATTERS (r16 regression, r17 fix): the r16 `nullif(na·nb,
    * 0)` spelling is `RuntimeReplaceable` via a `With` common-expression
    * form; inside [[ivfKnn]]'s 16 centroid-literal structs (~1,024 literal
    * doubles per `centroidScores` site) the `RewriteWithExpression` hoist
    * forced repeated optimizer passes over those giant literal trees —
    * 24.6–25.9 s of single-threaded driver planning PER ACTION (q62 49.9×,
    * q111 99.7× over baseline), a cost that no cluster size amortizes. The
    * `when` guard below has IDENTICAL null semantics — NULL on zero
    * product (`when` without `otherwise` yields NULL), NULL propagates
    * (NULL product fails the predicate → NULL), ANSI-safe (the division
    * only evaluates in the guarded branch) — and plans in 0.18 s. The
    * DuckDB oracle twins keep their `nullif` (DuckDB plans it fine).
    *
    * Correctness-compare scope (ADVICE r16): the oracle reads the raw
    * `embeddings` table while the engine reads the [[Tables]]-filtered
    * view, so oracle compares are DEFINED ON INGESTION-CLEAN CORPORA (all
    * generated testdata). On a corpus carrying zero-norm/degraded vectors
    * the guard prevents crashes on both sides, but the oracle would still
    * let such a vector occupy e.g. an IVF list or a sparse top-k slot the
    * engine's ingestion drop removed — an expected divergence by contract,
    * not a bug.
    */
  def cosine(dotCol: Column, na: Column, nb: Column): Column =
    round(when(na * nb =!= lit(0.0), dotCol / (na * nb)), 6)

  private def asDouble(c: Column): Column = transform(c, x => x.cast(DoubleType))

  /** Embeddings with the L2 norm precomputed ONCE per vector — at N² pair
    * volume, recomputing norms per pair triples the hot-loop cost. Reads
    * the fanned-out table: the pair joins are pure CPU on the stream side,
    * so a single-split fixture would otherwise run them on one core. */
  def embWithNorm(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddingsDistributed(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v"))
    emb.withColumn("nrm", norm(col("v")))
  }

  /** Brute-force cosine top-10 neighbours for query vectors vec_id < 5.
    *
    * Two-phase top-k via the bounded-heap [[graft.plans.TopKStructs]]
    * aggregate: each map partition keeps ≤ 10 candidates per query (O(n
    * log k), NO per-partition sort), the exchange carries only those
    * partials, and the final merge is tiny. A window `row_number <= 10`
    * would instead sort every map partition and (pre-WindowGroupLimit)
    * funnel corpus×|queries| rows into |queries| tasks. */
  def knnBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(s, dir)
    val q = emb
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val sim = emb
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("vec_id"),
        cosine(dot(col("v"), col("qv")), col("nrm"), col("qnrm")).as("cos")
      )
    // order = (cos DESC, vec_id ASC) encoded as max-struct(cos, -vec_id)
    val key = struct(col("cos"), (-col("vec_id")).as("neg_id"), col("vec_id"))
    sim
      .groupBy("q_id")
      .agg(graft.plans.TopKAggregate.topK(key, 10).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(
        col("q_id"),
        col("col.vec_id").as("vec_id"),
        col("col.cos").as("cos"),
        (col("pos") + 1).cast(LongType).as("rnk")
      )
  }

  /** [[autoLshBits]]' floor on the q61 hyperplane count: bucket fan-out
    * per band is 2^bits. Like the banded embedding LSH, bits must track
    * log₂(corpus): expected bucket occupancy is n/2^bits, so per-bucket
    * candidate volume n²/2^bits
    * stays O(n) only while 2^bits ≈ n — at a billion vectors use ~30 bits
    * (or the banded multi-table shape of q39 for recall). */
  val LshBucketBits = 8

  /** Target expected bucket occupancy for [[autoLshBits]]: keeps per-bucket
    * candidate work n·occupancy — linear — while buckets stay fat enough
    * that ≥0.95-cosine neighbours still collide at useful recall. */
  val LshTargetOccupancy = 128L

  /** q119-`autoSemK` discipline applied to the hyperplane count — the
    * fixed-bits knob had the same quadratic term behind it (measured: the
    * 100× replica at 8 bits packed ~780 vectors/bucket → Σocc² ≈ 156M
    * candidate pairs, 404 s / 10,006 cpu-s where the 30× corpus ran
    * 12.5 s / 220 — 45× the cpu for 3.3× the rows). Smallest bits ≥
    * [[LshBucketBits]] with expected occupancy n/2^bits ≤
    * [[LshTargetOccupancy]]; gate corpora (≤ ~6k vectors) stay at the oracle-replayed 8-bit
    * floor, and the 24-bit ceiling (16M buckets) is far past any
    * single-node corpus. */
  def autoLshBits(n: Long): Int = FuzzyDedup.pow2Bits(n, LshTargetOccupancy, LshBucketBits, 24)

  /** Band count of the q61 pair miner — the standard OR-of-bands LSH
    * amplification. A pair at cosine c collides in ONE band with
    * probability p^bits (p = 1 − acos(c)/π), so recall at the corpus-sized
    * bit count decays as bits grow; T independent bands lift it to
    * 1 − (1 − p^bits)^T while per-band occupancy (and therefore per-bucket
    * candidate volume) is unchanged — cost scales ×T, linear, where buying
    * the same recall with FEWER bits would grow per-bucket volume ×2^Δbits,
    * quadratic in occupancy. Two bands took the measured auto-bits recall
    * on the planted-pair fixture from 0.568 to 0.835 (Q61RecallSpec pins
    * ≥0.6). */
  val LshBandFamilies = 2

  /** Embedding dimension. */
  val Dim = 64

  /** LSH-bucketed near-pair mining: cosine ≥ 0.95 pairs, candidates limited
    * to vectors sharing a bucket in ANY of the [[LshBandFamilies]] bands
    * (OR-of-bands — see the constant's scaladoc for the recall math) —
    * q39's [[FuzzyDedup.hyperplanePairs]] with q61's own constants. */
  def lshPairs(s: SparkSession, dir: String): DataFrame =
    // bits track the corpus ([[autoLshBits]]): the FILTERED vector count
    // (cached) — the rows the plan actually buckets, not the raw footer
    // count, which over-sizes on a null/NaN-bearing corpus; gate corpora
    // stay at the oracle-replayed 8-bit floor
    lshPairsAt(s, dir, autoLshBits(Tables.embeddingsCountCached(s, dir)))

  /** [[lshPairs]] at an explicit hyperplane count — the recall-measurement
    * surface (Q61RecallSpec sweeps bit settings against planted
    * ground-truth pairs on one fixture corpus). */
  private[graft] def lshPairsAt(s: SparkSession, dir: String, bits: Int): DataFrame = {
    // bucketing + both verify sides — one embedding scan + norm pass
    val emb = Eager.materialize(embWithNorm(s, dir), "similarity.embeddings")
    FuzzyDedup.hyperplanePairs(emb, bits, LshBandFamilies, 0.95)
  }

  /** [[FuzzyDedup.verify]]d vector pairs (`v_a`/`nrm_a`, `v_b`/`nrm_b`)
    * whose 6-dp cosine is ≥ `min`, as (id_a, id_b, cos). */
  private[graft] def cosinePairs(verified: DataFrame, min: Double): DataFrame =
    verified
      .withColumn("cos", cosine(dot(col("v_a"), col("v_b")), col("nrm_a"), col("nrm_b")))
      .filter(col("cos") >= min)
      .select("id_a", "id_b", "cos")

  /** IVF-style ANN: coarse-quantize the corpus into inverted lists keyed by
    * the nearest of 16 centroids (deterministically: the vectors with
    * vec_id 0..15), then answer top-k probing only the 2 nearest lists per
    * query. The scale shape: the 16 centroids are collected once on the
    * driver (IVF centroids are always driver-resident — k-means output) and
    * embedded as literals, so assignment is a pure map-side argmax over the
    * corpus with ZERO exchange — no crossJoin row multiplication, no
    * `Window.partitionBy(vec_id)` shuffle of corpus×16 rows. Each query then
    * touches |corpus|·(nprobe/nlists) candidates instead of the full corpus,
    * and the final per-query top-k uses the bounded-heap partial aggregate
    * (see [[knnBrute]]).
    */
  def ivfKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(s, dir)
    // bounded driver-side collect: exactly 16 rows, pushdown on vec_id < 16
    val centroids = Eager
      .collect(emb.filter(col("vec_id") < 16).select(col("vec_id"), col("v"), col("nrm")), 16, "similarity.ivf.centroids")
      .sortBy(_.getLong(0))
    // the dummy-centroid branch below is ONLY for the empty corpus; a
    // NON-empty corpus with no vec_id < 16 rows is a mis-keyed input and
    // must fail loudly here, not silently return zero rows (the isEmpty
    // probe is a limit-1 job and runs only on the already-degenerate path)
    if (centroids.isEmpty)
      require(
        Eager.phase("similarity.ivf.emptyProbe")(emb.isEmpty),
        "ivfKnn: no centroid rows (vec_id < 16) found in a non-empty corpus — " +
          "centroid keying assumes vec_ids start at 0")
    // per-row array of struct(c_cos, -c_id): array_max = nearest centroid by
    // (rounded cosine DESC, c_id ASC) — the map-side argmax
    def centroidScores(vCol: Column, nrmCol: Column): Column =
      if (centroids.isEmpty)
        // empty corpus: a typed dummy entry keeps the struct extraction
        // analyzable (an empty array literal is VOID-typed and fails the
        // `best.neg_id` field access); zero rows means it never evaluates
        array(struct(lit(0.0).as("c_cos"), lit(0L).as("neg_id")))
      else array(centroids.toIndexedSeq.map { r =>
        val cId   = r.getLong(0)
        val cVec  = r.getSeq[Double](1)
        val cNorm = r.getDouble(2)
        struct(
          cosine(dot(vCol, array(cVec.map(lit): _*)), nrmCol, lit(cNorm)).as("c_cos"),
          lit(-cId).as("neg_id")
        )
      }: _*)
    val assigned = emb
      .withColumn("best", array_max(centroidScores(col("v"), col("nrm"))))
      .select(col("vec_id"), col("v"), col("nrm"), (-col("best.neg_id")).as("list_id"))
    // queries probe their 2 nearest lists: top-2 of the same literal scores
    val probes = emb
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .withColumn("near2", slice(reverse(array_sort(centroidScores(col("qv"), col("qnrm")))), 1, 2))
      .select(col("q_id"), col("qv"), col("qnrm"), explode(col("near2")).as("e"))
      .select(col("q_id"), col("qv"), col("qnrm"), (-col("e.neg_id")).as("list_id"))
    // search only within probed lists; two-phase top-10 per query
    val cand = assigned
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("vec_id"),
        col("list_id"),
        cosine(dot(col("v"), col("qv")), col("nrm"), col("qnrm")).as("cos")
      )
    val key = struct(col("cos"), (-col("vec_id")).as("neg_id"), col("vec_id"), col("list_id"))
    cand
      .groupBy("q_id")
      .agg(graft.plans.TopKAggregate.topK(key, 10).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(
        col("q_id"),
        col("col.vec_id").as("vec_id"),
        col("col.list_id").as("list_id"),
        col("col.cos").as("cos"),
        (col("pos") + 1).cast(LongType).as("rnk")
      )
  }

  /** ANN recall evaluation (q111) — the measurement loop every ANN
    * deployment runs before trusting an index: recall@10 of the IVF path
    * (q62) against the brute-force ground truth (q60), per query. An index
    * is a tuning knob (nlists/nprobe here, bits×bands for the LSH family)
    * and recall is THE metric that decides it — "measure, don't guess"
    * applied to the engine's own approximate operators, as a first-class
    * query rather than a test-only assertion.
    *
    * Both rankings use the same deterministic (rounded cos DESC, vec_id)
    * order, so the top-10 SETS are engine-reproducible and the recall is
    * exact integer arithmetic — no tolerance band needed. Scale shape: in
    * production recall runs over a SAMPLED query set (here: the 5 gate
    * queries), so the brute-force side is |sample|·|corpus| — bounded by
    * the sample, not the corpus²; the compose is two bounded top-k tables
    * joined on (q_id, vec_id) longs. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val brute = knnBrute(s, dir).select(col("q_id"), col("vec_id"))
    val ann   = ivfKnn(s, dir).select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    brute
      .join(ann, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(
        count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit")
      )
      .select(
        col("q_id"),
        col("n_true"),
        col("n_hit"),
        floor(col("n_hit").cast(DoubleType) / col("n_true").cast(DoubleType) * lit(1e6))
          .cast(LongType)
          .as("recall_ppm")
      )
  }

  /** q79: int8 scalar quantization of the embedding corpus — the
    * compression step before an ANN index ships to serving (4× smaller
    * than f32, SIMD-friendly distance kernels). Per-dimension min/max
    * scaling; the report is per-label code/error stats so the oracle can
    * hash-check the whole codebook application.
    *
    * CROSS-ENGINE DETERMINISM (q70's discipline): vectors are quantized to
    * integers (floor(x·10⁶)) FIRST, so min/max are exact picks and every
    * downstream value — code = floor((qv−mn)·255/rng), dequantized
    * qv' = mn + floor(code·rng/255), err = |qv−qv'| — is one IEEE
    * multiply/divide + floor on integer-valued doubles, bit-identical in
    * Spark and DuckDB. rng has a max(·,1) guard so constant dimensions
    * quantize to code 0 instead of dividing by zero.
    *
    * SCALE SHAPE: the model (per-dim min/max) is 64 rows — a tiny
    * partially-aggregated exchange, collected and re-embedded as literal
    * arrays, exactly like q62's centroids and q70's k-means model. The
    * quantize+error pass is then pure map-side zip_with arithmetic inside
    * codegen — ZERO exchange for the corpus; only (label, row-stat) rows
    * reach the final aggregation. */
  def int8Quantize(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables
      .embeddingsDistributed(s, dir)
      .select(
        col("vec_id"),
        col("label").cast(LongType).as("label"),
        transform(col("embedding"), x => floor(x.cast(DoubleType) * lit(1e6))).as("qv")
      )
    val stats = Eager
      .collect(
        emb
          .select(posexplode(col("qv")).as(Seq("dim", "v")))
          .groupBy("dim")
          .agg(min(col("v")).as("mn"), max(col("v")).as("mx")),
        Dim, "similarity.int8.range")
      .sortBy(_.getInt(0))
    // Spark's floor() yields LONG (DuckDB's yields integer-valued DOUBLE);
    // the values are identical small integers, so mixed long/double IEEE
    // arithmetic below is exact on both sides.
    val minLit = array(stats.map(r => lit(r.getLong(1))).toIndexedSeq: _*)
    val rngLit = array(stats.map(r => lit(math.max(r.getLong(2) - r.getLong(1), 1L))).toIndexedSeq: _*)
    val codes  = zip_with(zip_with(col("qv"), minLit, (x, m) => x - m), rngLit, (d, r) => floor(d * lit(255.0) / r))
    val deq    = zip_with(zip_with(col("codes"), rngLit, (c, r) => floor(c * r / lit(255.0))), minLit, (e, m) => e + m)
    val errs   = zip_with(col("qv"), col("deq"), (a, b) => abs(a - b))
    emb
      .withColumn("codes", codes)
      .withColumn("deq", deq)
      .withColumn("errs", errs)
      .select(
        col("label"),
        aggregate(col("codes"), lit(0.0), _ + _).cast(LongType).as("row_codes"),
        aggregate(col("errs"), lit(0.0), _ + _).cast(LongType).as("row_err"),
        array_max(col("errs")).cast(LongType).as("row_max_err")
      )
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("row_codes")).as("sum_codes"),
        sum(col("row_err")).as("total_abs_err"),
        max(col("row_max_err")).as("max_abs_err")
      )
  }

  /** Micro fixed-point scale for [[embeddingDrift]]. */
  val DriftScale = 1000000.0

  /** Per-class embedding drift table (q100) — the monitoring rollup an
    * embedding pipeline runs when a new model version or corpus snapshot
    * lands: per (class label, dimension), the exact count and
    * quantized-micro coordinate sum, plus the same for the global corpus
    * (`__all__`). A drift detector diffs two of these tables — mean shift
    * per dimension, per class — without ever touching the vectors again.
    *
    * The q70/q79 exactness discipline: each float coordinate is floored
    * to integer micros (one IEEE cast-multiply-floor chain, identical in
    * DuckDB), so every aggregate is an exact LONG sum — order-independent
    * across partitions and engines; the reported `mean_micro` derives
    * from the exact integers via one IEEE division + floor. Shape: one narrow
    * posexplode pass, a partial agg on (label, dim) longs, and the global
    * rows fold the |labels|×|dims| table (checkpointed — never the
    * corpus). */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val perDim = Tables
      .embeddingsDistributed(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim0", "x")))
      .select(
        col("label"),
        (col("dim0") + 1).cast(LongType).as("dim"),
        floor(col("x").cast(DoubleType) * lit(DriftScale)).cast(LongType).as("qm")
      )
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum(col("qm")).as("sum_micro"))
      .transform(Eager.materialize(_, "similarity.drift"))
    val labelRows =
      perDim.select(col("label").cast(StringType).as("scope"), col("dim"), col("n"), col("sum_micro"))
    val globalRows = perDim
      .groupBy("dim")
      .agg(sum(col("n")).as("n"), sum(col("sum_micro")).as("sum_micro"))
      .select(lit("__all__").as("scope"), col("dim"), col("n"), col("sum_micro"))
    // mean in MICRO units via floor(exact-long-sum / n): one correctly-
    // rounded IEEE division + floor — bit-identical in both engines. A
    // round(…, 6) here hash-diverged at an exact half (…20.5 micros):
    // Spark decimalizes the double's shortest string (HALF_UP sees the 5),
    // DuckDB rounds the binary value (slightly below the half).
    labelRows
      .unionByName(globalRows)
      .withColumn("mean_micro", floor(col("sum_micro").cast(DoubleType) / col("n")).cast(LongType))
  }

  /** q123: exact quantized covariance / Gram moments for PCA (the
    * distributed half of big-data PCA): per dimension pair (i ≤ j), the
    * exact second-moment sum Σ qᵢqⱼ over micro-quantized coordinates,
    * the per-dim linear sums, and the derived centered covariance. The
    * eigensolve then runs DRIVER-SIDE on this d(d+1)/2-row model — the
    * standard decomposition (compute moments distributed, eigensolve the
    * tiny matrix locally; the power-iteration spec recovers a planted
    * dominant direction from exactly this output). Whitening, PCA
    * dim-reduction, and OOD detection all start from this table.
    *
    * Exactness (q70/q100 discipline): coordinates are floored to integer
    * micros, so Σ qᵢqⱼ is an exact LONG sum — order/partitioning cannot
    * drift it, and the covariance derives via one identical IEEE chain.
    * Overflow headroom: |qᵢqⱼ| ≈ 10¹²·|x|², so the LONG sum is exact to
    * ~9·10⁶ unit-scale vectors per pair; a 100 TB corpus drops to
    * milli-quantization (10⁶× headroom) or per-shard moment tables
    * (moments ADD — shard tables fold exactly).
    *
    * Scale shape: vectors never shuffle — the d²/2 products per row are
    * a map-side explode in codegen, partial-aggregated to ≤ 2080 rows
    * per partition before the ONLY corpus-driven exchange; the per-dim
    * linear moments are a 64-row side table that broadcasts back. */
  def pcaCovariance(s: SparkSession, dir: String): DataFrame = {
    val q = transform(
      col("embedding"),
      x => floor(x.cast(DoubleType) * lit(DriftScale)).cast(LongType)
    )
    val pairStructs = flatten(
      transform(
        sequence(lit(1), lit(64)),
        i =>
          transform(
            sequence(i, lit(64)),
            j =>
              struct(
                i.cast(LongType).as("dim_i"),
                j.cast(LongType).as("dim_j"),
                (element_at(col("q"), i) * element_at(col("q"), j)).as("xy")
              )
          )
      )
    )
    val pairs = Tables
      .embeddingsDistributed(s, dir)
      .select(q.as("q"))
      .select(explode(pairStructs).as("p"))
      .select(col("p.dim_i"), col("p.dim_j"), col("p.xy"))
      .groupBy("dim_i", "dim_j")
      .agg(count(lit(1)).as("n"), sum(col("xy")).as("sxy"))
    val mom = Tables
      .embeddingsDistributed(s, dir)
      .select(posexplode(q).as(Seq("dim0", "qm")))
      .select((col("dim0") + 1).cast(LongType).as("dim"), col("qm"))
      .groupBy("dim")
      .agg(sum(col("qm")).as("sm"))
    pairs
      .join(broadcast(mom.select(col("dim").as("dim_i"), col("sm").as("sx"))), Seq("dim_i"))
      .join(broadcast(mom.select(col("dim").as("dim_j"), col("sm").as("sy"))), Seq("dim_j"))
      .select(
        col("dim_i"),
        col("dim_j"),
        col("n"),
        col("sxy"),
        col("sx"),
        col("sy"),
        floor(
          (col("sxy").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sy").cast(DoubleType) / col("n").cast(DoubleType)) /
            col("n").cast(DoubleType)
        ).cast(LongType).as("cov_p12")
      )
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q123_pca_covariance" -> (pcaCovariance _),
    "q60_knn_brute" -> (knnBrute _),
    "q61_lsh_pairs" -> ((s, d) => lshPairs(s, d)),
    "q62_ivf_knn"   -> (ivfKnn _),
    "q79_int8_quant" -> (int8Quantize _),
    "q100_embedding_drift" -> (embeddingDrift _),
    "q111_ann_recall" -> (annRecall _)
  )

  private val dotSql =
    "list_sum(list_transform(generate_series(1, 64), i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))"

  /** DuckDB rendering of one band's signature: each plane's projection +
    * sign bit. */
  private def bucketSql(vExpr: String, planes: Seq[Array[Double]]): String = {
    val bitTerms = planes.zipWithIndex.map { case (plane, b) =>
      val planeList = plane.map(p => if (p > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> CAST($vExpr[i] AS DOUBLE) * ($planeList)[i])) >= 0 THEN ${1L << b} ELSE 0 END)"
    }
    bitTerms.mkString("(", " + ", ")")
  }

  /** The q61 oracle at an explicit hyperplane count — the SQL mirror of
    * [[lshPairsAt]]: per-band bucketing with the occupancy QUALIFY, a
    * UNION (set-distinct) of the band candidate pairs (the pair set of the
    * Spark side's one self-join on "band:signature" keys), then the cosine
    * verify once per distinct pair. The registered static oracle renders
    * the 8-bit floor; [[oraclesDynamic]] re-renders it with
    * [[autoLshBits]] of the TARGET dir's corpus at verify time, so oracle
    * parity survives corpora past the floor threshold (2^8·128 = 32,768
    * rows) instead of silently breaking when the Spark plan's corpus-sized
    * bits diverge from a fixed-bits oracle. */
  private def q61OracleAt(bits: Int): String = {
    // the QUALIFY mirrors boundedBands' occupancy cap (parity even on a
    // corpus with a >= cap degenerate bucket)
    // band t's planes are rows t·bits until (t+1)·bits of the one family
    // HyperplaneBandKeys reads, so both engines bucket with the same planes
    val planes = graft.plans.VectorHash.planes(Dim, bits, LshBandFamilies).toSeq
    val bandBuckets = (0 until LshBandFamilies)
      .map(t => s"${bucketSql("embedding", planes.slice(t * bits, (t + 1) * bits))} AS bucket$t")
      .mkString(",\n       ")
    val bandCtes = (0 until LshBandFamilies)
      .map(t =>
        s"""n$t AS (SELECT vec_id, bucket$t AS bucket FROM n_all
           |  QUALIFY count(*) OVER (PARTITION BY bucket$t) <= ${graft.operators.FuzzyDedup.MaxBandOccupancy})""".stripMargin)
      .mkString(",\n")
    val bandCands = (0 until LshBandFamilies)
      .map(t =>
        s"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM n$t a JOIN n$t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id")
      .mkString("\n  UNION\n  ") // UNION is set-distinct: the cross-band pair dedup
    s"""WITH e AS (SELECT vec_id, embedding AS v,
       |       $bandBuckets
       |     FROM embeddings),
       |n_all AS (SELECT vec_id, v, ${(0 until LshBandFamilies).map(t => s"bucket$t").mkString(", ")},
       |        sqrt(list_sum(list_transform(generate_series(1, 64),
       |                                     i -> CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)))) AS nrm
       |      FROM e),
       |$bandCtes,
       |cand AS (
       |  $bandCands
       |)
       |SELECT c.id_a, c.id_b, round($dotSql / nullif(a.nrm * b.nrm, 0), 6) AS cos
       |FROM cand c
       |JOIN n_all a ON a.vec_id = c.id_a
       |JOIN n_all b ON b.vec_id = c.id_b
       |WHERE round($dotSql / nullif(a.nrm * b.nrm, 0), 6) >= 0.95""".stripMargin
  }

  /** Dir-aware oracle renderings (consulted by Verify at dump time, keyed
    * like [[oracles]]): q61's bucket bits must track the target corpus the
    * same way the Spark plan's do. */
  override val oraclesDynamic: Map[String, (SparkSession, String) => String] = Map(
    "q61_lsh_pairs" -> ((s, d) =>
      q61OracleAt(autoLshBits(Tables.embeddingsCountCached(s, d))))
  )

  val oracles: Map[String, String] = Map(
    "q123_pca_covariance" ->
      s"""WITH q AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * $DriftScale) AS BIGINT)) AS q
         |  FROM embeddings
         |),
         |p AS (
         |  SELECT i AS dim_i, j AS dim_j, q[i] * q[j] AS xy
         |  FROM q, unnest(generate_series(1, 64)) AS gi(i), unnest(generate_series(1, 64)) AS gj(j)
         |  WHERE j >= i
         |),
         |pa AS (SELECT dim_i, dim_j, count(*) AS n, sum(xy) AS sxy FROM p GROUP BY 1, 2),
         |m AS (
         |  SELECT i AS dim, sum(q[i]) AS sm
         |  FROM q, unnest(generate_series(1, 64)) AS gi(i) GROUP BY 1
         |)
         |SELECT CAST(pa.dim_i AS BIGINT) AS dim_i, CAST(pa.dim_j AS BIGINT) AS dim_j,
         |  CAST(pa.n AS BIGINT) AS n, CAST(pa.sxy AS BIGINT) AS sxy,
         |  CAST(mi.sm AS BIGINT) AS sx, CAST(mj.sm AS BIGINT) AS sy,
         |  CAST(floor((CAST(pa.sxy AS DOUBLE)
         |    - CAST(mi.sm AS DOUBLE) * CAST(mj.sm AS DOUBLE) / CAST(pa.n AS DOUBLE))
         |    / CAST(pa.n AS DOUBLE)) AS BIGINT) AS cov_p12
         |FROM pa JOIN m mi ON pa.dim_i = mi.dim JOIN m mj ON pa.dim_j = mj.dim""".stripMargin,
    "q100_embedding_drift" ->
      """WITH e AS (
        |  SELECT label, i AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS qm
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |),
        |p AS (SELECT label, dim, count(*) AS n, CAST(sum(qm) AS BIGINT) AS s FROM e GROUP BY 1, 2)
        |SELECT CAST(label AS VARCHAR) AS scope, CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
        |  s AS sum_micro, CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS mean_micro
        |FROM p
        |UNION ALL
        |SELECT '__all__' AS scope, CAST(dim AS BIGINT) AS dim, CAST(sum(n) AS BIGINT) AS n,
        |  CAST(sum(s) AS BIGINT) AS sum_micro,
        |  CAST(floor(CAST(sum(s) AS DOUBLE) / sum(n)) AS BIGINT) AS mean_micro
        |FROM p GROUP BY dim""".stripMargin,
    "q60_knn_brute" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |n AS (SELECT vec_id, v,
         |        sqrt(list_sum(list_transform(generate_series(1, 64),
         |                                     i -> CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)))) AS nrm
         |      FROM e),
         |sim AS (
         |  SELECT b.vec_id AS q_id, a.vec_id AS vec_id,
         |    round($dotSql / nullif(a.nrm * b.nrm, 0), 6) AS cos
         |  FROM n a JOIN n b ON b.vec_id < 5 AND a.vec_id <> b.vec_id
         |),
         |rk AS (SELECT q_id, vec_id, cos,
         |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
         |       FROM sim)
         |SELECT q_id, vec_id, cos, rnk FROM rk WHERE rnk <= 10""".stripMargin,
    "q62_ivf_knn" -> {
      def d(x: String, y: String) =
        s"list_sum(list_transform(generate_series(1, 64), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
      s"""WITH n AS (SELECT vec_id, embedding AS v,
         |        sqrt(${d("embedding", "embedding")}) AS nrm FROM embeddings),
         |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
         |ac AS (SELECT n.vec_id, n.v, n.nrm, c.c_id,
         |         round(${d("n.v", "c.cv")} / nullif(n.nrm * c.cnrm, 0), 6) AS c_cos
         |       FROM n CROSS JOIN c),
         |asg AS (SELECT vec_id, v, nrm, c_id AS list_id FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS a_rnk
         |          FROM ac) WHERE a_rnk = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
         |pc AS (SELECT q.q_id, q.qv, q.qnrm, c.c_id,
         |         round(${d("q.qv", "c.cv")} / nullif(q.qnrm * c.cnrm, 0), 6) AS p_cos
         |       FROM q CROSS JOIN c),
         |probes AS (SELECT q_id, qv, qnrm, c_id AS list_id FROM (
         |             SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY p_cos DESC, c_id) AS p_rnk
         |             FROM pc) WHERE p_rnk <= 2),
         |cand AS (SELECT p.q_id, a.vec_id, a.list_id,
         |           round(${d("a.v", "p.qv")} / nullif(a.nrm * p.qnrm, 0), 6) AS cos
         |         FROM asg a JOIN probes p ON a.list_id = p.list_id AND a.vec_id <> p.q_id)
         |SELECT q_id, vec_id, list_id, cos, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM cand
         |) WHERE rnk <= 10""".stripMargin
    },
    "q111_ann_recall" -> {
      def d(x: String, y: String) =
        s"list_sum(list_transform(generate_series(1, 64), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
      s"""WITH n AS (SELECT vec_id, embedding AS v,
         |        sqrt(${d("embedding", "embedding")}) AS nrm FROM embeddings),
         |bsim AS (
         |  SELECT b.vec_id AS q_id, a.vec_id AS vec_id,
         |    round(${d("a.v", "b.v")} / nullif(a.nrm * b.nrm, 0), 6) AS cos
         |  FROM n a JOIN n b ON b.vec_id < 5 AND a.vec_id <> b.vec_id
         |),
         |bk AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM bsim) WHERE rnk <= 10),
         |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
         |ac AS (SELECT n.vec_id, n.v, n.nrm, c.c_id,
         |         round(${d("n.v", "c.cv")} / nullif(n.nrm * c.cnrm, 0), 6) AS c_cos
         |       FROM n CROSS JOIN c),
         |asg AS (SELECT vec_id, v, nrm, c_id AS list_id FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS a_rnk
         |          FROM ac) WHERE a_rnk = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
         |pc AS (SELECT q.q_id, q.qv, q.qnrm, c.c_id,
         |         round(${d("q.qv", "c.cv")} / nullif(q.qnrm * c.cnrm, 0), 6) AS p_cos
         |       FROM q CROSS JOIN c),
         |probes AS (SELECT q_id, qv, qnrm, c_id AS list_id FROM (
         |             SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY p_cos DESC, c_id) AS p_rnk
         |             FROM pc) WHERE p_rnk <= 2),
         |cand AS (SELECT p.q_id, a.vec_id,
         |           round(${d("a.v", "p.qv")} / nullif(a.nrm * p.qnrm, 0), 6) AS cos
         |         FROM asg a JOIN probes p ON a.list_id = p.list_id AND a.vec_id <> p.q_id),
         |ik AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM cand) WHERE rnk <= 10)
         |SELECT bk.q_id,
         |  CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(sum(CASE WHEN ik.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
         |  CAST(floor(CAST(sum(CASE WHEN ik.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT) AS recall_ppm
         |FROM bk LEFT JOIN ik ON bk.q_id = ik.q_id AND bk.vec_id = ik.vec_id
         |GROUP BY bk.q_id""".stripMargin
    },
    "q79_int8_quant" ->
      // mirrors int8Quantize's op order exactly: quantize → per-dim
      // min/max+range-guard → code/dequant/error, every step a single
      // IEEE op + floor on integer-valued doubles
      """WITH q AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000.0)) AS qv
        |  FROM embeddings
        |),
        |m AS (
        |  SELECT i, min(qv[i]) AS mn, greatest(max(qv[i]) - min(qv[i]), 1.0) AS rng
        |  FROM q, unnest(generate_series(1, 64)) AS g(i)
        |  GROUP BY i
        |),
        |ml AS (SELECT list(mn ORDER BY i) AS mns, list(rng ORDER BY i) AS rngs FROM m),
        |coded AS (
        |  SELECT label, qv,
        |    list_transform(generate_series(1, 64),
        |                   i -> floor((qv[i] - ml.mns[i]) * 255.0 / ml.rngs[i])) AS codes,
        |    ml.mns AS mns, ml.rngs AS rngs
        |  FROM q CROSS JOIN ml
        |),
        |rowstats AS (
        |  SELECT label,
        |    CAST(list_sum(codes) AS BIGINT) AS row_codes,
        |    list_transform(generate_series(1, 64),
        |                   i -> abs(qv[i] - (mns[i] + floor(codes[i] * rngs[i] / 255.0)))) AS errs
        |  FROM coded
        |)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(row_codes) AS BIGINT) AS sum_codes,
        |  CAST(sum(CAST(list_sum(errs) AS BIGINT)) AS BIGINT) AS total_abs_err,
        |  CAST(max(CAST(list_max(errs) AS BIGINT)) AS BIGINT) AS max_abs_err
        |FROM rowstats GROUP BY label""".stripMargin,
    "q61_lsh_pairs" -> q61OracleAt(LshBucketBits)
  )
}
