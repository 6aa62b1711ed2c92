package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Eager, QueryModule, Tables}

/** Distributed k-means over the embedding corpus (q70) — the clustering
  * stage a training pipeline runs for corpus curation (topic balancing,
  * coverage analysis, IVF index training for q62, cluster-based dedup).
  *
  * CROSS-ENGINE DETERMINISM (the hard part of oracling an iterative float
  * algorithm): every number in the loop is an exact integer.
  *  - Vectors are quantized once: qx = floor(x·10⁶) — one IEEE multiply +
  *    floor, bit-identical in Spark and DuckDB. Components stay < ~10⁷.
  *  - Distances are integer squared-L2: Σ(qx−qc)² ≤ 64·(2·10⁷)² ≈ 2.6·10¹⁶
  *    — every intermediate is an integer < 2⁵³, so Spark's double-space
  *    expansion (Σqx² − 2·qx·qc + Σqc²) and DuckDB's direct bigint
  *    Σ(diff²) produce the SAME integer. Argmin tie-breaks on cluster id.
  *  - Centroid update: per-dimension LONG sums (exact at any cluster size),
  *    then floor(sum/n) in double — identical one-op division both sides.
  *  - Init: the K lowest-vec_id vectors (no RNG). Empty clusters drop.
  *
  * SCALE SHAPE: centroids are always driver-resident (K×dim longs — that's
  * what k-means IS: a bounded model extracted from unbounded data), so
  *  - assignment is a pure map-side argmin over K literal centroid arrays,
  *    inside whole-stage codegen via the [[graft.plans.DotProduct]] native
  *    expression — ZERO exchange, no K× row blow-up, no crossJoin;
  *  - the update shuffles only (cid, dim, partial-sum) rows — map-side
  *    partial aggregation reduces each partition to ≤ K·dim rows, so the
  *    exchange is O(partitions · K · dim), independent of corpus size;
  *  - per-iteration driver traffic is K·dim longs (the new centroids).
  * The SSE output column is exact at test scale; at 100 TB its long sum
  * could overflow — a production caller reads it as a convergence signal
  * and would switch that one column to double.
  */
object Clustering extends QueryModule {

  val K     = 10
  val Iters = 2
  val Scale = 1e6

  /** floor(x·10⁶) per component, kept as DOUBLE (integer-valued) so the
    * codegen dot product applies; exact for |x| < 2⁴⁶. */
  def quantize(c: Column): Column =
    transform(c, x => floor(x.cast(DoubleType) * lit(Scale)).cast(DoubleType))

  private def dot(a: Column, b: Column): Column = graft.plans.VectorExpressions.dotProduct(a, b)

  /** Integer squared-L2 distance to the nearest centroid; argmin with
    * smallest distance, then smallest cluster id. Returns struct(d, c).
    * One native expression carrying the whole model
    * ([[graft.plans.NearestCentroid]]) rather than array_min over K
    * struct literals: identical exact-integer arithmetic (the gate
    * oracles cannot move), but the plan stays O(1) in K — which is what
    * lets [[semDedup]] raise K with the corpus instead of melting on a
    * K×dim literal tree. */
  private def nearest(qv: Column, centroids: Seq[(Long, Array[Double])]): Column =
    graft.plans.VectorExpressions.nearestCentroid(qv, centroids)

  /** One centroid update: per-dimension exact LONG sums per cluster
    * (map-side partial agg; K·dim rows reach the driver), floor-mean.
    * `dim` is passed in (known from the current model) — reading it off
    * the frame cost a `head()` job per iteration (r18: two driver-side
    * round-trips per fit for a constant the centroids already carry). */
  private def update(assigned: DataFrame, k: Int, dim: Int): Seq[(Long, Array[Double])] = {
    val rows = Eager.collect(
      assigned
        .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "v")))
        .groupBy("cid", "dim")
        .agg(sum(col("v").cast(LongType)).as("s"), count(lit(1)).as("n")),
      k * dim, "clustering.update")
    rows
      .groupBy(_.getLong(0))
      .map { case (cid, rs) =>
        val qc = new Array[Double](dim)
        rs.foreach(r => qc(r.getInt(1)) = math.floor(r.getLong(2).toDouble / r.getLong(3)))
        cid -> qc
      }
      .toSeq
      .sortBy(_._1)
  }

  /** The deterministic fit loop shared by q70 and q114: `iters` rounds of
    * (assign, update). Returns the quantized corpus and the final
    * driver-resident centroid model. */
  def fit(
      s: SparkSession,
      dir: String,
      k: Int = K,
      iters: Int = Iters
  ): (DataFrame, Seq[(Long, Array[Double])]) = {
    // Materialize the quantized projection ONCE (MLlib's pattern: persist
    // the prepared input before an iterative fit). Without it every
    // iteration's update — plus the caller's final pass — re-reads parquet
    // and re-quantizes; the checkpoint stores the skinny (vec_id, label,
    // qv) blocks and truncates lineage, and the ContextCleaner frees the
    // blocks when the query releases the frame. At corpus scale this is
    // 8·dim bytes/vector — the thing you CAN afford to keep per fit.
    val emb = Tables
      .embeddingsDistributed(s, dir)
      .select(col("vec_id"), col("label").cast(LongType).as("label"), quantize(col("embedding")).as("qv"))
      .transform(Eager.materialize(_, "clustering.quantized"))
    // deterministic init: the k lowest vec_ids, cid = rank in that order
    var centroids: Seq[(Long, Array[Double])] = Eager
      .collect(emb.orderBy("vec_id").limit(k).select(col("qv")), k, "clustering.init")
      .zipWithIndex
      .map { case (r, i) => i.toLong -> r.getSeq[Double](0).toArray }
      .toSeq
    if (centroids.isEmpty) {
      // Empty corpus: there is nothing to fit and nothing to assign. Keep a
      // single dummy centroid so downstream plans (NearestCentroid, struct
      // projections) still TYPE-CHECK — with zero rows the expression never
      // evaluates, so its values are irrelevant — and skip the fit loop,
      // whose update pass reads the vector dim off a first row that does
      // not exist. Empty-in → empty-out is the production contract: a
      // filtered-to-nothing shard must not kill the job (EmptyCorpusSpec).
      centroids = Seq(0L -> Array(0.0))
    } else {
      // dim is a model constant: every centroid (and every vector the init
      // collected) already carries it — no data job needed
      val dim = centroids.head._2.length
      for (_ <- 1 to iters) {
        val assigned = emb
          .withColumn("best", nearest(col("qv"), centroids))
          .select(col("vec_id"), col("label"), col("qv"), col("best.c").as("cid"), col("best.d").as("d"))
        centroids = update(assigned, centroids.size, dim)
      }
    }
    (emb, centroids)
  }

  /** q70: `iters` rounds of (assign, update), then final stats of the last
    * assignment: size, modal ground-truth label (tie-break smallest label),
    * modal-label mass, and exact integer SSE per cluster. */
  def kmeans(s: SparkSession, dir: String, k: Int = K, iters: Int = Iters): DataFrame = {
    val (emb, centroids) = fit(s, dir, k, iters)
    // consumed by byLabel AND the size/SSE aggregate — one argmin pass
    val assigned = emb
      .withColumn("best", nearest(col("qv"), centroids))
      .select(col("vec_id"), col("label"), col("best.c").as("cid"), col("best.d").as("d"))
      .transform(Eager.materialize(_, "clustering.assigned"))
    val byLabel = assigned
      .groupBy("cid", "label")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("cid")
      .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))
      .select(col("cid"), (-col("m.neg")).as("majority_label"), col("m.cnt").as("n_majority"))
    assigned
      .groupBy("cid")
      .agg(count(lit(1)).as("n_points"), sum(col("d").cast(LongType)).as("sse"))
      .join(byLabel, Seq("cid"))
      .select("cid", "n_points", "majority_label", "n_majority", "sse")
  }

  /** Cluster assignment quality (q114) — the evaluation loop for q70's
    * model, q111's "measure, don't guess" applied to clustering: the
    * simplified (centroid-based) silhouette. Per point, a = distance to
    * its own centroid, b = distance to the nearest OTHER centroid;
    * s = (b−a)/max(a,b) ∈ [0,1] here (a is the minimum by construction).
    * Near-0 mean silhouette for a cluster says its points sit on a
    * boundary — merge candidates; near-1 says tight and isolated. The
    * full-pairwise silhouette is O(n²) and never run at corpus scale;
    * the centroid form is the production proxy (same shape BigQuery ML /
    * scikit's davies-bouldin-style screens use).
    *
    * Determinism: a and b are exact integer squared-L2 (q70's quantized
    * space); the score is ONE identical IEEE chain — (b−a)/max(a,b,1)
    * divide, ×10⁶ multiply, floor — so both engines emit the same micros.
    * Scale shape: distances to the K literal centroids are map-side
    * codegen (zero exchange, like q70's assignment); the only exchange is
    * the K-row final aggregate. */
  def clusterQuality(s: SparkSession, dir: String): DataFrame = {
    val (emb, centroids) = fit(s, dir)
    val sqx = dot(col("qv"), col("qv"))
    val darr = array_sort(array(centroids.map { case (cid, qc) =>
      val qcLit = array(qc.toIndexedSeq.map(lit): _*)
      val qcSq  = qc.map(v => v * v).sum
      struct((sqx - lit(2.0) * dot(col("qv"), qcLit) + lit(qcSq)).as("d"), lit(cid).as("c"))
    }: _*))
    emb
      .withColumn("ds", darr)
      .select(
        col("ds").getItem(0).getField("c").as("cid"),
        col("ds").getItem(0).getField("d").as("da"),
        col("ds").getItem(1).getField("d").as("db")
      )
      .withColumn(
        "sm",
        floor((col("db") - col("da")) / greatest(col("da"), col("db"), lit(1.0)) * lit(1e6))
          .cast(LongType)
      )
      .groupBy("cid")
      .agg(count(lit(1)).as("n_points"), sum(col("sm")).as("sil_sum_micro"))
      .withColumn(
        "sil_mean_micro",
        floor(col("sil_sum_micro").cast(DoubleType) / col("n_points")).cast(LongType)
      )
  }

  /** Cosine threshold for [[semDedup]] — same bar as q37/q39's near-dup
    * semantics, here over the quantized vectors (quantization shifts a
    * cosine by ~10⁻⁶, irrelevant at a 0.9 threshold and what makes the
    * integer dot products exact cross-engine). */
  val SemDupCos = 0.9

  /** Fail-fast ceiling on the largest cluster for [[semDedup]]. */
  val SemDedupDefaultMaxCluster = 100000L

  /** [[semDedup]]'s K sizing — the q39 `autoEmbBits` / index `autoNumBuckets`
    * discipline applied to the LAST fixed knob with a quadratic term behind
    * it: at fixed K the intra-cluster pair scan is Σ|c|² ≈ n²/K (measured:
    * the 30× replica corpus at K = 10 cost 51.9 s / 258 cpu-s — 17× the 10×
    * wall for 3× the rows). Sizing K to n/[[SemDedupTargetCluster]] makes
    * the scan ≈ n·target — linear — which is exactly the paper's remedy
    * (SemDeDup runs 50k clusters on LAION). Floored at [[K]] so every gate
    * corpus (≤ ~6k vectors) fits the same 10-centroid model the oracles
    * replay; the assignment stays map-side at any K via the native
    * [[graft.plans.NearestCentroid]] argmin (a K×dim literal tree would
    * melt codegen at exactly the K values the sizing exists to reach). */
  val SemDedupTargetCluster = 1024L
  def autoSemK(n: Long): Int =
    math.max(K.toLong, (n + SemDedupTargetCluster - 1) / SemDedupTargetCluster).toInt

  /** q119: SemDeDup (Abbas et al. 2023) — semantic dedup with k-means
    * cluster scoping: near-duplicate pairs are only searched WITHIN each
    * cluster of q70's fitted model, turning the global O(n²) pair scan
    * (q37) into Σ|cluster|² — the published answer to embedding dedup at
    * extreme scale, complementary to q39's LSH (data-dependent candidate
    * structure vs data-oblivious random planes). Keep rule is the paper's:
    * within a duplicate relation prefer the point FARTHEST from its
    * centroid (it preserves cluster diversity); we rank (distance DESC,
    * vec_id ASC) and apply q116's keep-first policy — a point is removed
    * iff it is ≥[[SemDupCos]]-similar to a higher-priority clustermate.
    * Both the ranking distance and the cosine run in q70's quantized
    * integer space, so every comparison is bit-identical cross-engine.
    *
    * Scale shape: assignment is q70's map-side codegen argmin (zero
    * exchange); the corpus then shuffles ONCE by cid for the intra-cluster
    * self-join, whose cost is bounded by the largest cluster — the knob is
    * K (SemDeDup runs K ~ √n or larger; the paper uses 50k clusters for
    * LAION). A skewed fit fails fast at [[SemDedupDefaultMaxCluster]]
    * rather than melting on a quadratic cluster. Accounting output is
    * K-row. */
  /** Per-vector final assignment of q70's fitted model: (vec_id, qv, cid,
    * d) with d the exact integer squared-L2 to the owning centroid.
    * Shared by [[semDedup]] and its spec (which re-applies the keep rule
    * independently over these d's). */
  def assignments(s: SparkSession, dir: String, k: Int = K): DataFrame = {
    val (emb, centroids) = fit(s, dir, k)
    emb
      .withColumn("best", nearest(col("qv"), centroids))
      .select(col("vec_id"), col("qv"), col("best.c").as("cid"), col("best.d").as("d"))
  }

  def semDedup(s: SparkSession, dir: String): DataFrame = {
    // K tracks the corpus ([[autoSemK]]): the FILTERED vector count
    // (cached) — the rows the fit actually sees; gate corpora stay at the
    // oracle-replayed K = 10 floor
    val k = autoSemK(Tables.embeddingsCountCached(s, dir))
    // the assignment is consumed four times (sizes, the fail-fast probe,
    // both self-join sides) — materialize the skinny clustered corpus once
    // instead of re-running the per-row argmin per consumer
    val assigned = Eager.materialize(assignments(s, dir, k), "clustering.assigned")
    val sizes    = assigned.groupBy("cid").agg(count(lit(1)).as("n_points"))
    // coalesce(0): max() over zero clusters is NULL (empty corpus) and the
    // getLong would throw — an empty corpus trivially satisfies the guard
    val biggest = Eager
      .collect(sizes.agg(coalesce(max(col("n_points")), lit(0L))), 1, "clustering.semDedup.guard")
      .head
      .getLong(0)
    require(
      biggest <= SemDedupDefaultMaxCluster,
      s"semDedup's intra-cluster pair scan is O(cluster²): largest cluster has $biggest vectors " +
        s"> limit $SemDedupDefaultMaxCluster. Raise K (the SemDeDup remedy)."
    )
    val withNorm = assigned.withColumn("nrm", sqrt(dot(col("qv"), col("qv"))))
    val a = withNorm.select(
      col("cid"), col("vec_id").as("id_a"), col("qv").as("va"), col("nrm").as("na"), col("d").as("da"))
    val b = withNorm.select(
      col("cid"), col("vec_id").as("id_b"), col("qv").as("vb"), col("nrm").as("nb"), col("d").as("db"))
    val pairs = a
      .join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos") >= SemDupCos)
      .select(col("cid"), col("id_a"), col("id_b"), col("da"), col("db"))
    // loser = lower priority under (d DESC, vec_id ASC); id_a < id_b, so an
    // equal-distance pair removes id_b. removed_d_sum (Σ losers' d, exact
    // longs) makes the keep-FARTHEST rule observable in the accounting: a
    // keep-closest bug would flip it to the larger branch of each pair.
    val removed = pairs
      .select(
        col("cid"),
        when(col("da") >= col("db"), col("id_b")).otherwise(col("id_a")).as("removed_id"),
        when(col("da") >= col("db"), col("db")).otherwise(col("da")).as("rd")
      )
      .distinct()
      .groupBy("cid")
      .agg(count(lit(1)).as("n_removed"), sum(col("rd").cast(LongType)).as("removed_d_sum"))
    val pairCounts = pairs.groupBy("cid").agg(count(lit(1)).as("n_pairs"))
    sizes
      .join(pairCounts, Seq("cid"), "left")
      .join(removed, Seq("cid"), "left")
      .na
      .fill(0L, Seq("n_pairs", "n_removed", "removed_d_sum"))
      .withColumn("n_kept", col("n_points") - col("n_removed"))
      .select("cid", "n_points", "n_pairs", "n_removed", "n_kept", "removed_d_sum")
  }

  /** Clustering external-validity eval (q141) — q114 measures geometric
    * cohesion (silhouette); this measures AGREEMENT WITH GROUND TRUTH:
    * purity and normalized mutual information between q70's final
    * assignment and the embeddings' label column — the eval that says
    * whether the clusters mean anything, run before anyone uses them for
    * SemDeDup-style pruning (q119) or curriculum grouping.
    *
    * Determinism: purity is exact integer division (Σ per-cluster modal
    * mass ·10⁶ div N); MI and the two entropies follow q135's per-term
    * floor-micros ln discipline (exact long sums); NMI = MI·10⁶ div
    * ⌊√(H(C)·H(L))⌋ — the sqrt argument is an exact integer < 2⁵³ and
    * IEEE sqrt is correctly rounded, so both engines agree bit-for-bit.
    * Scale shape: one k-means fit (q70's loop) plus aggregates that never
    * exceed k·|labels| rows; the output is a single row. */
  def clusterPurity(s: SparkSession, dir: String): DataFrame = {
    val (emb, centroids) = fit(s, dir)
    val assigned = emb
      .withColumn("best", nearest(col("qv"), centroids))
      .select(col("label"), col("best.c").as("cid"))
    // ncl is k·|labels| rows but feeds five consumers (nc, nl, pur, mi,
    // counts) — materialize it once so the assignment argmin runs a single
    // time; every downstream aggregate is then model-sized. tot derives
    // from ncl rather than re-scanning the assignment.
    val ncl = Eager.materialize(assigned.groupBy("cid", "label").agg(count(lit(1)).as("n_cl")), "clustering.purity")
    val nc  = ncl.groupBy("cid").agg(sum(col("n_cl")).as("n_c"))
    val nl  = ncl.groupBy("label").agg(sum(col("n_cl")).as("n_l"))
    val tot = ncl.agg(sum(col("n_cl")).as("n"))
    val pur = ncl
      .groupBy("cid")
      .agg(max(col("n_cl")).as("mx"))
      .agg(sum(col("mx")).as("sum_mx"))
    val iTerm = (col("n_cl").cast(DoubleType) / col("n")) *
      log(col("n").cast(DoubleType) * col("n_cl") / (col("n_c") * col("n_l")))
    val mi = ncl
      .join(nc, Seq("cid"))
      .join(nl, Seq("label"))
      .crossJoin(broadcast(tot))
      .select(floor(iTerm * lit(1000000.0)).cast(LongType).as("tm"))
      .agg(sum(col("tm")).as("mi_micros"))
    def entropy(df: DataFrame, cnt: String, out: String): DataFrame =
      df.crossJoin(broadcast(tot))
        .select(
          floor(
            (col(cnt).cast(DoubleType) / col("n")) *
              log(col("n").cast(DoubleType) / col(cnt)) * lit(1000000.0)
          ).cast(LongType).as("t")
        )
        .agg(sum(col("t")).as(out))
    val counts = ncl.agg(
      countDistinct(col("cid")).as("n_clusters"),
      countDistinct(col("label")).as("n_labels")
    )
    tot
      .crossJoin(counts)
      .crossJoin(pur)
      .crossJoin(mi)
      .crossJoin(entropy(nc, "n_c", "hc_micros"))
      .crossJoin(entropy(nl, "n_l", "hl_micros"))
      .select(
        col("n").as("n_points"),
        col("n_clusters"),
        col("n_labels"),
        call_function("div", col("sum_mx") * lit(1000000L), col("n")).as("purity_micros"),
        col("mi_micros"),
        col("hc_micros"),
        col("hl_micros"),
        when(
          col("hc_micros") > 0 && col("hl_micros") > 0,
          call_function(
            "div",
            col("mi_micros") * lit(1000000L),
            floor(sqrt((col("hc_micros") * col("hl_micros")).cast(DoubleType))).cast(LongType)
          )
        ).otherwise(lit(0L)).as("nmi_micros")
      )
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q141_cluster_purity" -> ((s, d) => clusterPurity(s, d)),
    "q70_kmeans" -> ((s, d) => kmeans(s, d)),
    "q114_cluster_quality" -> ((s, d) => clusterQuality(s, d)),
    "q119_semdedup" -> ((s, d) => semDedup(s, d))
  )

  /** The oracle replays the same quantized-integer iterations in pure SQL:
    * c0 = init, then [[Iters]] (assign, update) rounds (a1/c1, a2/c2), then
    * the final assignment a3 = assign(c2) whose stats are the result — the
    * same op sequence as [[kmeans]]'s loop. Distances in BIGINT, centroid
    * means as floor(double-div), so hashes match exactly. */
  private val dims = 64

  private def assignSql(src: String, cents: String): String =
    s"""SELECT vec_id, label, qv, cid, dist FROM (
       |  SELECT q.vec_id, q.label, q.qv, c.cid,
       |    list_sum(list_transform(generate_series(1, $dims),
       |      i -> CAST((q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]) AS BIGINT))) AS dist,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_sum(list_transform(generate_series(1, $dims),
       |        i -> CAST((q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]) AS BIGINT))), c.cid) AS rk
       |  FROM $src q CROSS JOIN $cents c
       |) WHERE rk = 1""".stripMargin

  private def updateSql(assign: String): String =
    s"""SELECT cid, list(qc ORDER BY dim) AS cv FROM (
       |  SELECT cid, dim, floor(CAST(sum(qvd) AS DOUBLE) / count(*)) AS qc FROM (
       |    SELECT cid, i AS dim, CAST(qv[i] AS BIGINT) AS qvd
       |    FROM $assign, unnest(generate_series(1, $dims)) AS g(i)
       |  ) GROUP BY cid, dim
       |) GROUP BY cid""".stripMargin

  val oracles: Map[String, String] = Map(
    "q141_cluster_purity" ->
      s"""WITH q AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000.0)) AS qv
         |  FROM embeddings
         |),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
         |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $K)
         |),
         |a1 AS (${assignSql("q", "c0")}),
         |c1 AS (${updateSql("a1")}),
         |a2 AS (${assignSql("q", "c1")}),
         |c2 AS (${updateSql("a2")}),
         |a3 AS (${assignSql("q", "c2")}),
         |ncl AS (SELECT cid, label, CAST(count(*) AS BIGINT) AS n_cl FROM a3 GROUP BY 1, 2),
         |nc  AS (SELECT cid, CAST(sum(n_cl) AS BIGINT) AS n_c FROM ncl GROUP BY 1),
         |nl  AS (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l FROM ncl GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM a3),
         |pur AS (SELECT CAST(sum(mx) AS BIGINT) AS sum_mx
         |        FROM (SELECT cid, max(n_cl) AS mx FROM ncl GROUP BY 1)),
         |mi AS (
         |  SELECT CAST(sum(CAST(floor((CAST(ncl.n_cl AS DOUBLE) / t.n) *
         |    ln(CAST(t.n AS DOUBLE) * ncl.n_cl / (nc.n_c * nl.n_l)) *
         |    1000000.0) AS BIGINT)) AS BIGINT) AS mi_micros
         |  FROM ncl JOIN nc USING (cid) JOIN nl USING (label) CROSS JOIN tot t
         |),
         |hc AS (
         |  SELECT CAST(sum(CAST(floor((CAST(n_c AS DOUBLE) / t.n) *
         |    ln(CAST(t.n AS DOUBLE) / n_c) * 1000000.0) AS BIGINT)) AS BIGINT) AS hc_micros
         |  FROM nc CROSS JOIN tot t
         |),
         |hl AS (
         |  SELECT CAST(sum(CAST(floor((CAST(n_l AS DOUBLE) / t.n) *
         |    ln(CAST(t.n AS DOUBLE) / n_l) * 1000000.0) AS BIGINT)) AS BIGINT) AS hl_micros
         |  FROM nl CROSS JOIN tot t
         |)
         |SELECT t.n AS n_points,
         |  (SELECT CAST(count(*) AS BIGINT) FROM nc) AS n_clusters,
         |  (SELECT CAST(count(*) AS BIGINT) FROM nl) AS n_labels,
         |  (pur.sum_mx * 1000000) // t.n AS purity_micros,
         |  mi.mi_micros, hc.hc_micros, hl.hl_micros,
         |  CASE WHEN hc.hc_micros > 0 AND hl.hl_micros > 0
         |       THEN (mi.mi_micros * 1000000)
         |            // CAST(floor(sqrt(CAST(hc.hc_micros * hl.hl_micros AS DOUBLE))) AS BIGINT)
         |       ELSE 0 END AS nmi_micros
         |FROM tot t, pur, mi, hc, hl""".stripMargin,
    "q114_cluster_quality" ->
      s"""WITH q AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000.0)) AS qv
         |  FROM embeddings
         |),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
         |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $K)
         |),
         |a1 AS (${assignSql("q", "c0")}),
         |c1 AS (${updateSql("a1")}),
         |a2 AS (${assignSql("q", "c1")}),
         |c2 AS (${updateSql("a2")}),
         |ad AS (
         |  SELECT q.vec_id, c.cid,
         |    list_sum(list_transform(generate_series(1, $dims),
         |      i -> CAST((q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]) AS BIGINT))) AS d
         |  FROM q CROSS JOIN c2 c
         |),
         |r AS (SELECT vec_id, cid, d,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM ad),
         |ab AS (
         |  SELECT a.vec_id, a.cid, CAST(a.d AS DOUBLE) AS da, CAST(b.d AS DOUBLE) AS db
         |  FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rk = 1 AND b.rk = 2
         |),
         |sil AS (SELECT cid,
         |          CAST(floor((db - da) / greatest(da, db, 1.0) * 1e6) AS BIGINT) AS sm
         |        FROM ab)
         |SELECT cid, count(*) AS n_points,
         |  CAST(sum(sm) AS BIGINT) AS sil_sum_micro,
         |  CAST(floor(CAST(sum(sm) AS DOUBLE) / count(*)) AS BIGINT) AS sil_mean_micro
         |FROM sil GROUP BY 1""".stripMargin,
    "q119_semdedup" ->
      s"""WITH q AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000.0)) AS qv
         |  FROM embeddings
         |),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
         |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $K)
         |),
         |a1 AS (${assignSql("q", "c0")}),
         |c1 AS (${updateSql("a1")}),
         |a2 AS (${assignSql("q", "c1")}),
         |c2 AS (${updateSql("a2")}),
         |a3 AS (${assignSql("q", "c2")}),
         |n AS (
         |  SELECT vec_id, cid, dist, qv,
         |    sqrt(CAST(list_sum(list_transform(generate_series(1, $dims),
         |           i -> CAST(qv[i] * qv[i] AS BIGINT))) AS DOUBLE)) AS nrm
         |  FROM a3
         |),
         |p AS (
         |  SELECT a.cid AS cid, a.vec_id AS id_a, b.vec_id AS id_b, a.dist AS da, b.dist AS db
         |  FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE round(CAST(list_sum(list_transform(generate_series(1, $dims),
         |          i -> CAST(a.qv[i] * b.qv[i] AS BIGINT))) AS DOUBLE) / nullif(a.nrm * b.nrm, 0), 6)
         |        >= $SemDupCos
         |),
         |r AS (
         |  SELECT DISTINCT cid, CASE WHEN da >= db THEN id_b ELSE id_a END AS removed_id,
         |    CASE WHEN da >= db THEN db ELSE da END AS rd
         |  FROM p
         |),
         |g  AS (SELECT cid, count(*) AS n_points FROM a3 GROUP BY 1),
         |pc AS (SELECT cid, count(*) AS n_pairs FROM p GROUP BY 1),
         |rc AS (SELECT cid, count(*) AS n_removed, CAST(sum(rd) AS BIGINT) AS removed_d_sum
         |       FROM r GROUP BY 1)
         |SELECT g.cid AS cid, g.n_points AS n_points,
         |  COALESCE(pc.n_pairs, 0) AS n_pairs,
         |  COALESCE(rc.n_removed, 0) AS n_removed,
         |  g.n_points - COALESCE(rc.n_removed, 0) AS n_kept,
         |  COALESCE(rc.removed_d_sum, 0) AS removed_d_sum
         |FROM g LEFT JOIN pc ON g.cid = pc.cid LEFT JOIN rc ON g.cid = rc.cid""".stripMargin,
    "q70_kmeans" ->
      s"""WITH q AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000.0)) AS qv
         |  FROM embeddings
         |),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
         |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $K)
         |),
         |a1 AS (${assignSql("q", "c0")}),
         |c1 AS (${updateSql("a1")}),
         |a2 AS (${assignSql("q", "c1")}),
         |c2 AS (${updateSql("a2")}),
         |a3 AS (${assignSql("q", "c2")}),
         |lbl AS (
         |  SELECT cid, label AS majority_label, cnt AS n_majority FROM (
         |    SELECT cid, label, count(*) AS cnt,
         |      row_number() OVER (PARTITION BY cid ORDER BY count(*) DESC, label) AS rk
         |    FROM a3 GROUP BY cid, label
         |  ) WHERE rk = 1
         |)
         |SELECT a3.cid AS cid, count(*) AS n_points,
         |  min(lbl.majority_label) AS majority_label,
         |  CAST(min(lbl.n_majority) AS BIGINT) AS n_majority,
         |  CAST(sum(a3.dist) AS BIGINT) AS sse
         |FROM a3 JOIN lbl ON a3.cid = lbl.cid
         |GROUP BY 1""".stripMargin
  )
}
