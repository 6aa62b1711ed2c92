package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Eager, QueryModule, Tables}

/** Scale-path fuzzy deduplication: MinHash + banded LSH, SimHash, rolling
  * hash, and embedding-cosine near-dup.
  *
  * Design for 100 TB:
  *  - Signatures (MinHash / SimHash / rolling hash) are computed in ONE
  *    narrow pass per document with higher-order array functions — no
  *    shuffle, no UDF, stays in codegen.
  *  - Candidate generation shuffles only (band-key, doc_id) pairs — a few
  *    dozen bytes per doc per band — never the text.
  *  - Verification (exact Jaccard) runs only on LSH candidates:
  *    O(candidates), not O(n²).
  *
  * All hash constants are md5-derived at build time and embedded as literals
  * in both the Spark plan and the DuckDB oracle, so results are reproducible
  * everywhere. Base shingle hash H(s) = first 8 md5 hex chars as uint32 —
  * identical in Spark (`conv`) and DuckDB (`CAST('0x…')`).
  */
object FuzzyDedup extends QueryModule {

  /** Mersenne-prime-free modulus just above 2^32 (a prime). With a < 2^31
    * and H < 2^32, a*H + b < 2^63 — no signed-64 overflow. */
  val P: Long = 4294967311L
  val NumHashes  = 32
  val BandSize   = 4
  val NumBands: Int = NumHashes / BandSize

  private def md5Long(seed: String): Long =
    BigInt(1, MessageDigest.getInstance("MD5").digest(seed.getBytes("UTF-8")).take(4)).toLong

  /** (a_j, b_j) for the K universal-hash permutations. */
  val Coeffs: Seq[(Long, Long)] = (0 until NumHashes).map { j =>
    (md5Long(s"minhash:a:$j") % ((1L << 31) - 1) + 1, md5Long(s"minhash:b:$j") % (1L << 31))
  }

  val SimhashBits  = 60
  val SimhashBands = 4 // 15 bits each; hamming ≤ 3 ⇒ ≥1 band identical

  /** Default band-bucket occupancy cap for [[boundedBands]]: far above any
    * honest near-dup cluster at test scale (so oracle results are
    * unaffected), low enough that the worst bucket contributes ≤ ~5·10⁷
    * candidate pairs instead of taking the job down. */
  val MaxBandOccupancy = 10000

  /** Skew guard for LSH self-joins: drop band buckets whose occupancy
    * exceeds `cap` from candidate generation. A degenerate bucket — one
    * band key shared by m documents — contributes C(m,2) candidate pairs;
    * a boilerplate-heavy corpus (or an adversarial one) can put millions of
    * near-identical documents in one bucket and turn the "pruned" join
    * quadratic. Members of such mega-buckets are near-identical by
    * construction, which is exact/canonical dedup's territory (q30/q31
    * catch them at O(n)); dropping them from the NEAR-dup candidate join
    * loses only cross-mega-bucket fringe pairs. Costs one extra aggregate +
    * join on the already-skinny (band, id) table, co-partitioned with the
    * self-join that follows. */
  def boundedBands(bands: DataFrame, key: String, cap: Int): DataFrame = {
    // Occupancy via a count window over ONE key partitioning rather than a
    // groupBy + rejoin (r18): the join form evaluated the `bands` subtree
    // twice (sizes pass + probe side) — and the LSH self-joins downstream
    // then duplicated THAT whole subtree per side, so the minhash band-key
    // expression ran 4x per corpus pass. The window form computes bands
    // once behind a single exchange that the self-join's two sides share
    // (ReusedExchange), and leaves the output hash-partitioned on the key
    // — exactly the distribution the candidate join and the bucketed index
    // writes need next. Filter semantics identical (every row of a bucket
    // with occupancy <= cap survives, others drop).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
    bands
      .withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n") <= cap)
      .drop("bucket_n")
  }

  // ---- Banded candidate pairs: the one home of the 100 TB pair rule ----
  //
  // Every banded near-dup site (q33/q105/q107/q109 MinHash, q39/q61
  // hyperplane LSH via [[hyperplanePairs]], the q58/q113 probes and
  // DedupIndex's probe) runs the same three steps:
  //  1. [[selfPairs]] / [[probePairs]] turn (id, key) rows into DISTINCT
  //     (id_a, id_b) candidate pairs. Only the skinny (key, id) rows ride
  //     the band join's exchange, and only (id_a, id_b) rides the pair
  //     dedup — a pair can collide in several bands, and a payload riding
  //     along would be re-shuffled once per collision. At 100 TB that is
  //     the difference between shuffling a few GB of ids and re-shuffling
  //     the corpus.
  //  2. [[verify]] re-joins each pair's payload (shingles, vectors) BY ID on
  //     both sides, once per distinct pair.
  //  3. A scorer reads the re-joined payloads: [[jaccard]] for shingles, a
  //     cosine for vectors.
  // The one site that does not go through them is q35, whose reason sits
  // on [[simhashPairs]].

  /** Capped (id, key) rows → distinct `id_a < id_b` pairs sharing a key.
    * `rows` has exactly two columns, the id first; buckets holding more than
    * `cap` rows drop out ([[boundedBands]]). */
  def selfPairs(rows: DataFrame, cap: Int): DataFrame = {
    val Array(id, key) = rows.columns
    val capped         = boundedBands(rows, key, cap)
    capped
      .select(col(key), col(id).as("id_a"))
      .join(capped.select(col(key), col(id).as("id_b")), Seq(key))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Probe (id, key) rows joined against index (id, key) rows → distinct
    * (id_a = probe, id_b = index) pairs. Both frames have exactly two
    * columns, the id first and the same key name. Only selects, renames and
    * joins, so a `broadcast(...)` on the index and a bucketed index scan's
    * partitioning survive; any cap on the index is the caller's. */
  def probePairs(probe: DataFrame, index: DataFrame): DataFrame = {
    val Array(id, key) = probe.columns
    probe
      .select(col(key), col(id).as("id_a"))
      .join(index.select(col(key), col(index.columns.head).as("id_b")), Seq(key))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Re-join each (id_a, id_b) pair's payload by id: `a` and `b` are
    * (id, payload…) frames, id first, and every payload column `c` comes
    * back as `c_a` from `a` and `c_b` from `b`. */
  def verify(pairs: DataFrame, a: DataFrame, b: DataFrame): DataFrame = {
    def side(payload: DataFrame, s: String): DataFrame = {
      val cols = payload.columns.toSeq
      payload.select(col(cols.head).as(s"id_$s") +: cols.tail.map(c => col(c).as(s"${c}_$s")): _*)
    }
    pairs.join(side(a, "a"), Seq("id_a")).join(side(b, "b"), Seq("id_b"))
  }

  /** Hyperplane-LSH candidate pairs of a (vec_id, v, …) frame: vectors
    * sharing any of `bands` sign signatures of `bits` planes each. The keys
    * "band:signature" come from the native
    * [[graft.plans.HyperplaneBandKeys]] in one fused pass per row, over the
    * one md5 plane family [[graft.plans.VectorHash.planes]]. */
  def hyperplaneCandidates(emb: DataFrame, bits: Int, bands: Int): DataFrame = {
    val keys = graft.plans.VectorExpressions.hyperplaneBandKeys(col("v"), bits, bands)
    selfPairs(emb.select(col("vec_id"), explode(keys).as("band")), MaxBandOccupancy)
  }

  /** The one banded hyperplane-LSH pair miner: [[hyperplaneCandidates]] →
    * [[verify]] against the (vec_id, v, nrm) frame on both sides → 6-dp
    * cosine ≥ `min`, as (id_a, id_b, cos). q39/q76 and q61 are two calls
    * with their own bits, bands and threshold. */
  def hyperplanePairs(emb: DataFrame, bits: Int, bands: Int, min: Double): DataFrame =
    Similarity.cosinePairs(verify(hyperplaneCandidates(emb, bits, bands), emb, emb), min)

  /** The one power-of-two sizing rule (q39/q61 plane bits, the dedup
    * index's bucket count): the smallest b in [lo, hi] with
    * n ≤ 2^b · perBucket, or hi when none is. 2^b buckets then hold at most
    * `perBucket` rows each on average, so per-bucket pair work stays linear
    * in n. Compares ceil(n / perBucket) with 2^b, so no n overflows. */
  def pow2Bits(n: Long, perBucket: Long, lo: Int, hi: Int): Int = {
    val buckets = if (n <= 0) 1L else (n - 1) / perBucket + 1
    math.min(hi, math.max(lo, 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)))
  }

  /** Verified-pair Jaccard threshold of every MinHash near-dup query. */
  val JaccardThreshold = 0.3

  /** Exact Jaccard of [[verify]]d shingle pairs: adds `inter`, `union_n` and
    * the 6-dp `jaccard` the oracles round the same way. */
  def jaccard(verified: DataFrame): DataFrame =
    verified
      .withColumn("inter", size(array_intersect(col("shingles_a"), col("shingles_b"))).cast(LongType))
      .transform(jaccard(size(col("shingles_a")).cast(LongType), size(col("shingles_b")).cast(LongType)))

  /** The one Spark Jaccard formula, at count level: adds
    * `union_n` = n_a + n_b − `inter` and the 6-dp `jaccard` to a frame
    * carrying the intersection size `inter`, given both set sizes. */
  def jaccard(nA: Column, nB: Column)(withInter: DataFrame): DataFrame =
    withInter
      .withColumn("union_n", nA + nB - col("inter"))
      .withColumn("jaccard", round(col("inter") / col("union_n"), 6))

  /** (doc_id, band) rows of a (doc_id, shingles…) frame, via the native
    * single-pass MinHash band keys (md5 once per shingle). Docs without
    * shingles have no bands. */
  def minhashBands(docs: DataFrame): DataFrame =
    docs
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), explode(graft.plans.TextHashExpressions.minhashBandKeys(col("shingles"))).as("band"))

  /** `docs` as a materialized (doc_id, extra…, shingles) frame without
    * shingle-less docs: the bands and both verify sides read this one text
    * pass, and the checkpointed hashed-longs layout is about an order of
    * magnitude smaller than the text. */
  private def shingled(docs: DataFrame, extra: String*): DataFrame =
    docs
      .select(col("doc_id") +: extra.map(col) :+ Dedup.shingles(col("text")).as("shingles"): _*)
      .filter(size(col("shingles")) > 0)
      .transform(Eager.materialize(_, "fuzzyDedup.shingles"))

  /** MinHash-LSH near-dup pairs, verified with exact Jaccard ≥ 0.3:
    * signatures → band buckets → same-bucket candidates → exact verify. */
  def minhashLsh(s: SparkSession, dir: String, maxOccupancy: Int = MaxBandOccupancy): DataFrame =
    minhashPairsVerified(shingled(Tables.documentsDistributed(s, dir)), maxOccupancy)

  /** The mining half of [[minhashLsh]] over an already-materialized
    * (doc_id, shingles) frame — shared with the survivor queries
    * (q107/q109), whose fused corpus checkpoint carries extra per-doc
    * columns and passes the shingle projection in here (r18: ONE corpus
    * text pass instead of two; at 100 TB the second text scan is the
    * single biggest removable cost of those rows). */
  private[graft] def minhashPairsVerified(docs: DataFrame, maxOccupancy: Int): DataFrame =
    verify(selfPairs(minhashBands(docs), maxOccupancy), docs, docs)
      .transform(jaccard)
      .filter(col("jaccard") >= JaccardThreshold)
      .select("id_a", "id_b", "inter", "union_n", "jaccard")

  /** Containment at corpus scale (q105) — the registered scale-path twin of
    * q101's Σdf² inverted-index baseline (the q37→q39 pattern): candidates
    * from the SAME occupancy-capped banded-MinHash probe as q33/q58, then
    * the exact asymmetric containment |A∩B| / min(|A|,|B|) ≥ 0.8 verified on
    * candidates only. The text never shuffles: the band join exchanges only
    * (band, doc_id); shingle arrays rejoin BY ID for the verify.
    *
    * Scale shape vs q101: candidate volume is Σ occupancy² per band bucket,
    * capped at [[MaxBandOccupancy]]² per bucket — near-linear in corpus size
    * on dup-dense data where the inverted index went superlinear (SCALING.md
    * measured q101 4.3 s → 59.2 s at 10×; this path stays ~linear).
    *
    * HONEST RECALL BOUND: banded MinHash collides by JACCARD, so a
    * containment-1.0 pair whose sizes differ k× has Jaccard ≈ 1/k and
    * per-band collision ≈ (1/k)^[[BandSize]] — high-skew embeddings (a
    * tweet inside a book) fall below the probe's reach. That is the
    * documented trade of this scale path: it finds same-order-of-magnitude
    * containment (quotes, boilerplate wraps, syndication), while q101
    * remains the exact test-scale oracle for arbitrary skew. The oracle
    * replays the identical candidate set in DuckDB, so the gate checks
    * PARITY of the declared semantics, not recall against q101. */
  def containmentLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = shingled(Tables.documentsDistributed(s, dir))
    verify(selfPairs(minhashBands(docs), MaxBandOccupancy), docs, docs)
      .transform(jaccard)
      .withColumn("n_a", size(col("shingles_a")).cast(LongType))
      .withColumn("n_b", size(col("shingles_b")).cast(LongType))
      .withColumn("containment", round(col("inter") / least(col("n_a"), col("n_b")), 6))
      .filter(col("containment") >= Dedup.ContainmentThreshold)
      .select("id_a", "id_b", "inter", "n_a", "n_b", "containment", "jaccard")
  }

  /** documents → (doc_id, lang, fp) via the native single-pass SimHash. */
  def simhashed(s: SparkSession, dir: String): DataFrame =
    Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), col("lang"), graft.plans.TextHashExpressions.simhash60(col("text")).as("fp"))

  /** Per-document SimHash fingerprints (grouped counts keep output compact
    * and oracle-stable). */
  def simhashFingerprints(s: SparkSession, dir: String): DataFrame =
    simhashed(s, dir).withColumnRenamed("fp", "simhash60")

  /** SimHash near-dup pairs: byte-banding (hamming ≤ 3 over 32 bits ⇒ at
    * least one of 4 bytes identical), then exact hamming verify. Band
    * buckets above [[MaxBandOccupancy]] are dropped ([[boundedBands]]) —
    * identical texts share ALL bands, so a boilerplate mega-cluster would
    * otherwise go quadratic here exactly as in q33. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val fp = simhashed(s, dir).select("doc_id", "fp")
    val banded = boundedBands(
      fp.select(
        col("doc_id"),
        col("fp"),
        explode(
          array(
            (0 until SimhashBands).map(i => concat_ws(":", lit(i), shiftright(col("fp"), i * 15) % 32768)): _*
          )
        ).as("band")
      ),
      "band",
      MaxBandOccupancy
    )
    val a = banded.select(col("band"), col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val b = banded.select(col("band"), col("doc_id").as("id_b"), col("fp").as("fp_b"))
    // The one banded site outside [[selfPairs]] + [[verify]]: it must
    // VERIFY BEFORE DEDUP, and a shared verb that branched for one caller
    // would not be simpler. The fingerprints already ride the 8-byte banded
    // rows, so the hamming check is a map-side filter on the join output —
    // candidates die in the codegen stage that produced them. Deduping
    // first would shuffle the FULL candidate volume (Σ occupancy² — on a
    // correlated corpus SimHash bands skew badly, because band values
    // follow global token-frequency majorities; measured 165× wall at 10×
    // docs with dedup-first, ~linear with verify-first). Dedup then runs
    // on the tiny hamming-≤3 survivor set. Same result set either way:
    // hamming is a pure function of the pair.
    a.join(b, Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast(LongType))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
  }

  /** Polynomial rolling-hash fingerprint over the canonical text. */
  def rollingHash(c: Column): Column =
    aggregate(
      split(c, ""),
      lit(0L),
      (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L
    )

  def rollingFingerprints(s: SparkSession, dir: String): DataFrame =
    Tables
      .documentsDistributed(s, dir)
      .select(
        col("doc_id"),
        rollingHash(Dedup.canonicalText(col("text"))).as("roll_hash")
      )

  /** Hard ceiling for [[embeddingPairs]]' all-pairs join (override with the
    * `graft.exactPairs.maxRows` session conf). 100k vectors ≈ 5e9 pairs is
    * already hours of CPU; anything bigger is a mistake, not a query. */
  val ExactPairsDefaultMaxRows = 100000L

  /** Embedding-cosine near-dup: exact all-pairs ≥ 0.9.
    *
    * TEST-SCALE ORACLE BASELINE ONLY — the quadratic theta-join is the
    * ground truth that pins [[embeddingPairsLsh]]'s (q39) oracle; q39 is the
    * production path at corpus scale. Enforced: fails fast when the corpus
    * exceeds `graft.exactPairs.maxRows` (default 100k vectors) instead of
    * silently running an O(n²) join — the count is one footer-statistics
    * read, not a scan. */
  def embeddingPairs(s: SparkSession, dir: String): DataFrame = {
    // fail-fast BEFORE the eager checkpoint below: it materializes the
    // full scan + norm pass, which is exactly the work the guard exists to
    // refuse on an oversized corpus
    val maxRows = s.conf.getOption("graft.exactPairs.maxRows").map(_.toLong).getOrElse(ExactPairsDefaultMaxRows)
    // guard scalar from the cached filtered-view count (the same number
    // every sizing knob reads) — not a fresh scan+filter pass per action (r17)
    val n = Tables.embeddingsCountCached(s, dir)
    require(
      n <= maxRows,
      s"embeddingPairs is the O(n²) test-scale baseline: corpus has $n vectors > limit $maxRows. " +
        "Use embeddingPairsLsh (q39) at corpus scale, or raise graft.exactPairs.maxRows explicitly."
    )
    // both O(n²) join sides — one embedding scan + norm pass
    val emb = Eager.materialize(Similarity.embWithNorm(s, dir), "fuzzyDedup.embeddings")
    val a = emb.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(Similarity.dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos") >= 0.9)
      .select("id_a", "id_b", "cos")
  }

  /** Banded hyperplane-LSH shape for the 0.9-cosine threshold.
    *
    * CANDIDATE VOLUME is what the parameters buy (recall alone is cheap —
    * all-pairs has recall 1.0): for a NON-duplicate pair, per-plane sign
    * agreement is ~0.5, so per-band collision is 0.5^bits and the expected
    * candidate rate is ≤ bands·0.5^bits of all C(n,2) pairs. At 12 bits ×
    * 64 bands that is 64/4096 ≈ 1.6% — a ~64× prune — where the original
    * 4 bits × 16 bands admitted 1−(15/16)^16 ≈ 64% of ALL pairs (all-pairs
    * with extra steps). That 0.5-agreement floor assumes uncorrelated
    * vectors; a CLUSTERED corpus (same-topic vectors agree on plane signs
    * more than half the time) admits somewhat more — ~2.2% ⇒ ~45× measured
    * on the clustered gate corpus (FuzzyDedupSpec pins ≥ 40×) — and the
    * cosine verify step filters those. RECALL at cosine c: per-plane agreement is
    * 1−acos(c)/π (0.856 at c = 0.9), per-band 0.856^12 ≈ 0.156, overall
    * 1−(1−0.156)^64 ≈ 0.99998 AT the 0.9 boundary itself — bands are sized
    * so that even a pair sitting exactly on the threshold is all but
    * guaranteed a candidate slot (a boundary pair is pinned by
    * FuzzyDedupSpec), and recall only climbs from there (≥ 1−10⁻⁷ at
    * c ≥ 0.93). To keep candidates near-linear as the corpus grows, `bits`
    * must track log₂(n): expected per-band bucket occupancy is n/2^bits, so
    * per-band candidate volume n²/2^bits stays O(n·bands) when 2^bits ≈ n
    * (and recall at fixed c rises with more bands, so re-sizing bits up
    * pairs with more bands, never fewer). */
  val EmbBits  = 12
  val EmbBands = 64

  /** [[EmbBits]]'s own sizing rule made executable: per-band candidate
    * volume is n²/2^bits, so `bits` must track log₂(n) for candidates to
    * stay O(n·bands). ceil(log₂ n) in [[EmbBits]]..30 — a no-op at
    * gate scale (2^12 = 4096 ≥ both gate corpora, so the oracles see the
    * identical plan), engaged on scale corpora (20k vectors → 15 bits,
    * 60k → 16). The 30× spot-run measured the fixed-bits cost: 919 cpu-s
    * with 12 bits (the n²/2^bits term at 15× occupancy), 126 with
    * auto-bits (6.8 s wall vs 35.2). The recall trade is the documented one: more bits lowers
    * per-band collision odds at fixed band count (0.99998 → ~0.996 AT the
    * 0.9 boundary for 16 bits); production re-sizing pairs bits growth
    * with more bands to buy it back. The ceiling is the widest signature
    * [[graft.plans.HyperplaneBandKeys]] takes. */
  def autoEmbBits(n: Long): Int = pow2Bits(n, 1L, EmbBits, graft.plans.VectorHash.MaxBits)

  /** Scale-safe embedding near-dup at 0.9: banded hyperplane LSH candidates
    * + exact cosine verify ([[hyperplanePairs]]) — [[embeddingPairs]]'
    * semantics without the all-pairs join. The banding prunes candidates
    * to ~bands·0.5^bits of all pairs (see [[EmbBits]] for the volume/recall
    * trade and the bits ~ log₂(n) sizing rule). Oracle = the exact
    * all-pairs SQL; recall on planted near-dups is additionally pinned by
    * FuzzyDedupSpec. */
  def embeddingPairsLsh(s: SparkSession, dir: String): DataFrame = {
    // banding and both verify sides — one embedding scan + norm pass; bits
    // from the cached filtered-view count every sizing knob reads
    val emb = Eager.materialize(Similarity.embWithNorm(s, dir), "fuzzyDedup.embeddings")
    hyperplanePairs(emb, autoEmbBits(Tables.embeddingsCountCached(s, dir)), EmbBands, 0.9)
  }

  /** Base/delta split for the incremental scenario: docs with
    * doc_id % 10 ∈ {8, 9} play the newly arrived batch; the rest are the
    * existing corpus. Scale-invariant (any corpus size exercises both
    * sides). */
  val DeltaMod = 10
  private def isDelta(c: Column): Column = c % DeltaMod >= 8

  /** Incremental dedup (q58) — the production shape for CONTINUOUS corpus
    * building: screen a newly arrived batch against the existing corpus
    * without ever re-deduping the corpus against itself.
    *
    *  - Exact: delta fingerprints probe the base fingerprint set — a skinny
    *    join on the 32-char md5 (at scale, the base side is a bloom/bucketed
    *    index; the join key never carries text).
    *  - Near: delta band keys probe base band keys (asymmetric — candidate
    *    volume is |delta|·occupancy, NOT corpus²), occupancy-capped like
    *    q33, then exact-Jaccard verification on candidates only.
    *
    * Output: one row per delta doc with its exact/near verdicts and the
    * keep decision a pipeline would act on. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsDistributed(s, dir)
    // delta/base splits both read this — one md5 text pass
    val withFp =
      Eager.materialize(docs.select(col("doc_id"), md5(col("text")).as("fingerprint")), "fuzzyDedup.fingerprints")
    val sh    = shingled(docs)
    val bands = boundedBands(minhashBands(sh), "band", MaxBandOccupancy)
    val near = verify(probePairs(bands.filter(isDelta(col("doc_id"))), bands.filter(!isDelta(col("doc_id")))), sh, sh)
      .transform(jaccard)
      .filter(col("jaccard") >= JaccardThreshold)
    deltaVerdicts(
      withFp.filter(isDelta(col("doc_id"))),
      withFp.filter(!isDelta(col("doc_id"))).select("fingerprint").distinct(),
      near)
  }

  /** q58's per-delta-doc verdicts, shared with [[DedupIndex]]'s probe:
    * `exact_dup` when the delta's (doc_id, fingerprint) hits the base
    * `fingerprint` set, `n_near`/`near_match` from the verified
    * (id_a = delta, id_b = base) pairs, and `keep` when neither fires. */
  private[graft] def deltaVerdicts(delta: DataFrame, baseFp: DataFrame, near: DataFrame): DataFrame = {
    val exactDup = delta
      .join(baseFp.withColumn("e", lit(1L)), Seq("fingerprint"), "left")
      .select(col("doc_id"), coalesce(col("e"), lit(0L)).as("exact_dup"))
    val perDoc = near
      .groupBy(col("id_a").as("doc_id"))
      .agg(count(lit(1)).as("n_near"), min(col("id_b")).as("near_match"))
    exactDup
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
      .withColumn("near_match", coalesce(col("near_match"), lit(-1L)))
      .withColumn("keep", (col("exact_dup") === 0 && col("n_near") === 0).cast(LongType))
      .select("doc_id", "exact_dup", "n_near", "near_match", "keep")
  }

  /** Round ceiling for [[connectedComponents]]. With pointer jumping the
    * propagation distance at least doubles per round, so convergence needs
    * ≤ log₂(diameter) + 2 rounds; 64 covers any graph whose diameter fits
    * in a long. Hitting the cap therefore means a logic regression, not a
    * big graph — fail loudly rather than loop. */
  val MaxCcRounds = 64

  /** Storage level of [[connectedComponents]]' packed pair store. The
    * blocks hold length-prefixed UnsafeRow BYTES packed into ≤
    * [[CcPackChunkBytes]] chunks, so "deserialized" here means compact
    * binary buffers (~data-sized heap, a handful of objects per
    * partition), spillable to disk, with lineage kept. See the scaladoc
    * on [[connectedComponents]] for why this is the ONLY path. */
  val CcEdgeStorageLevel: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Chunk ceiling for the packed pair store: bounds transient packing
    * memory and keeps MemoryStore unroll granularity block-friendly. */
  val CcPackChunkBytes: Int = 4 << 20

  /** Pack UnsafeRows into length-prefixed byte chunks of ≤ `ceiling`
    * bytes (a chunk always holds ≥ 1 row, so a ceiling smaller than a
    * row degrades to row-per-chunk, never an infinite loop). Wire shape
    * per row: big-endian int32 length, then the row bytes — the
    * UnsafeRowSerializer pattern, minus streams. Pure iterator→iterator
    * (spec surface: chunk-boundary roundtrip at a tiny ceiling).
    *
    * `toRdd` rows are UnsafeRow whenever the root operator codegens (every
    * current call site), but that is a convention, not a contract — a root
    * that emits GenericInternalRow/JoinedRow would CCE here. `schema`
    * arms a lazy UnsafeProjection fallback for that case (projection
    * reuse is safe: `writeToStream` copies the bytes out immediately);
    * without a schema a non-Unsafe row still fails loudly. */
  def packUnsafeRows(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      ceiling: Int,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private val buf         = new java.io.ByteArrayOutputStream(64 << 10)
      private val dos         = new java.io.DataOutputStream(buf)
      private val writeBuffer = new Array[Byte](4 << 10) // off-heap-row staging
      private lazy val toUnsafe =
        org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          schema.getOrElse(throw new IllegalStateException(
            "packUnsafeRows: non-UnsafeRow input but no schema for the projection fallback")))
      def hasNext: Boolean = it.hasNext
      def next(): Array[Byte] = {
        buf.reset()
        while (it.hasNext && buf.size < ceiling) {
          val u = it.next() match {
            case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u
            case r                                                      => toUnsafe(r)
          }
          dos.writeInt(u.getSizeInBytes)
          u.writeToStream(buf, writeBuffer)
        }
        buf.toByteArray
      }
    }

  /** Inverse of [[packUnsafeRows]]: yields each chunk's rows through ONE
    * reused UnsafeRow wrapper per chunk (`pointTo` into the chunk bytes —
    * zero deserialization). Consumers must copy field values before the
    * next `next()`: the standard scan contract, same as every
    * columnar/shuffle reader. */
  def unpackUnsafeRows(
      chunks: Iterator[Array[Byte]],
      nFields: Int): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    chunks.flatMap { chunk =>
      new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
        private val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(nFields)
        private var off = 0
        def hasNext: Boolean = off < chunk.length
        def next(): org.apache.spark.sql.catalyst.InternalRow = {
          val len = ((chunk(off) & 0xff) << 24) | ((chunk(off + 1) & 0xff) << 16) |
            ((chunk(off + 2) & 0xff) << 8) | (chunk(off + 3) & 0xff)
          row.pointTo(
            chunk,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off + 4L,
            len)
          off += 4 + len
          row
        }
      }
    }

  /** The materialized packed pair store plus its lazy undirected edge
    * VIEW — the two halves [[connectedComponents]] composes. */
  private final case class PackedPairStore(
      packed: org.apache.spark.rdd.RDD[Array[Byte]],
      schema: org.apache.spark.sql.types.StructType,
      session: SparkSession) {
    /** Undirected doubling as a lazy union VIEW over the stored pairs —
      * the store holds each pair once. The field count is bound to a
      * local BEFORE the lambda: reading `schema.length` inside it would
      * capture `this` — and with it `session`, whose lazy
      * `observationManager` (initialized by any prior `observe()` query
      * on the session, e.g. the P3 invalid-ts counter) is not
      * serializable, failing every later CC round with
      * "Task not serializable" (order-dependent: a fresh session's
      * uninitialized lazy field serializes as null). */
    def edges: DataFrame = {
      val numFields = schema.length
      val rowsRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
        packed.mapPartitions(unpackUnsafeRows(_, numFields))
      val stored = org.apache.spark.sql.GraftBridge.internalCreateDataFrame(session, rowsRdd, schema)
      stored
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(stored.select(col("id_b").as("src"), col("id_a").as("dst")))
    }
    def unpersist(): Unit = { packed.unpersist(blocking = false); () }
  }

  /** Mine `pairs` ONCE into the packed byte-chunk store (see the
    * [[connectedComponents]] scaladoc for why this is the only path) and
    * materialize it. The phase also covers `toRdd`, where adaptive
    * execution runs the mining's shuffle stages. */
  private def packPairStore(pairs: DataFrame): PackedPairStore = Eager.phase("fuzzyDedup.cc.pack") {
    val schema = pairs.schema
    val packed = pairs.queryExecution.toRdd
      .mapPartitions(packUnsafeRows(_, CcPackChunkBytes, Some(schema)))
      .persist(CcEdgeStorageLevel)
    Eager.count(packed, "fuzzyDedup.cc.pack") // ONE mining pass, not one per union branch
    PackedPairStore(packed, schema, pairs.sparkSession)
  }

  /** Connected components over the near-dup pair graph: the step that
    * turns pairwise matches into actionable dedup groups (keep the min id
    * per cluster). Min-label propagation with pointer jumping over an
    * undirected pair list: each round (a) takes the min label over self +
    * neighbours, then (b) relabels to the label's own label (labels are
    * node ids, so one extra self-join doubles the propagation distance), so
    * rounds are O(log diameter), not O(diameter). Deterministic: labels
    * converge to the component-minimum id. Returns (node, label) plus the
    * round count (spec surface — a chain-shaped fixture pins the
    * O(log diameter) bound). Each round is ONE action (the label sum,
    * which also materializes the lazy localCheckpoint);
    * min-propagation is monotone decreasing, so an unchanged sum ⇔
    * fixpoint, and an INCREASED sum is asserted away as a broken
    * invariant. `pairs` must expose exactly (id_a, id_b) — every call
    * site selects them first.
    *
    * THE PAIR STORE IS OUTPUT-VOLUME-PROOF BY CONSTRUCTION — no routing
    * variable exists to misroute. History: the pair list is OUTPUT-sized,
    * not corpus-skinny (~Σ|group|² on a dup-dense corpus; 24.75M pairs /
    * 50M directed edges at the 100× replica), and an eager
    * `localCheckpoint` of the doubled union OOMed the r9 100× sweep
    * (per-row object blocks + cross-query block debt). Round 9 added a
    * serialized-persist branch gated on source-table ROW count — the
    * wrong variable: a dup-dense SMALL corpus (few docs, huge pair
    * output) routed onto the object-block path with an edge list as
    * large as the one that crashed, and no pre-materialization signal
    * for the right variable (pair volume) exists without paying an extra
    * mining pass (measured: a gating `count()` re-runs candidate
    * generation + verify, +28% wall at gate scale; a columnar
    * `persist(SER)`+count, +54%; CC rounds over a columnar SER cache,
    * +70% — InMemoryRelation decompresses per round scan; CC rounds over
    * `MEMORY_AND_DISK_SER` RDD rows, +38%/+48% wall/cpu on the 100×
    * embedding replica — JavaSerializer pays per-row framing on every
    * round). This store removes the choice AND the serde: each partition
    * packs its mined UnsafeRows ONCE into length-prefixed byte chunks
    * (the UnsafeRowSerializer wire pattern as a store), held at
    * `MEMORY_AND_DISK` — heap cost is the data bytes themselves at HALF
    * the r9 rows (the store holds pairs; the undirected doubling is a
    * lazy union VIEW over it), spills chunk-at-a-time under pressure,
    * keeps lineage, and every round's scan just WRAPS the buffers
    * (`pointTo`, zero deserialization). The store is unpersisted after
    * convergence (final labels are checkpoint-materialized by the last
    * label-sum action). */
  def connectedComponents(
      pairs: DataFrame,
      maxRounds: Int = MaxCcRounds): (DataFrame, Int) = {
    val store = packPairStore(pairs)
    // unpersist on EVERY exit: the loud-failure path (maxRounds assert)
    // must not strand the output-sized store in a long-lived session
    try ccLoop(store.edges, maxRounds)
    finally store.unpersist()
  }

  private def ccLoop(edges: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    val nodes  = edges.select(col("src").as("node")).distinct()
    var labels = Eager.materialize(nodes.withColumn("label", col("node")), "fuzzyDedup.cc.labels")

    def labelSum(df: DataFrame): Long =
      Eager.collect(df.agg(coalesce(sum(col("label")), lit(0L))), 1, "fuzzyDedup.cc.round").head.getLong(0)

    var prevSum = -1L
    var curSum  = labelSum(labels)
    var rounds  = 0
    while (curSum != prevSum) {
      // require, not assert: these are the only guards between a logic
      // regression and an infinite loop, so they must survive
      // -Xdisable-assertions builds
      require(
        rounds < maxRounds,
        s"connectedComponents did not converge in $maxRounds rounds — monotone propagation is broken"
      )
      val propagated = labels
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), col("label"))
        .union(labels)
        .groupBy("node")
        .agg(min(col("label")).as("label"))
      // pointer jump: node → label → that label's label (halves rounds on
      // chains; labels are node ids so the lookup is a self-join)
      val byNode = propagated.select(col("node").as("pnode"), col("label").as("plabel"))
      val jumped = propagated
        .join(byNode, col("label") === col("pnode"), "left")
        .select(col("node"), coalesce(col("plabel"), col("label")).as("label"))
        .transform(Eager.materialize(_, "fuzzyDedup.cc.round", eager = false)) // materialized by the sum action below
      prevSum = curSum
      curSum = labelSum(jumped)
      require(curSum <= prevSum, s"label sum increased ($prevSum -> $curSum): propagation not monotone")
      labels = jumped
      rounds += 1
    }
    (labels, rounds)
  }

  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val (labels, _) = connectedComponents(minhashLsh(s, dir).select("id_a", "id_b"))
    labels
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"), max(col("node")).as("max_doc_id"))
  }

  /** Dedup survivors (q107) — the step that turns dedup ANALYTICS into the
    * cleaned CORPUS: q33's verified near-dup pairs (identical texts collide
    * in every band, so exact dups are members too) → q38's pointer-jumped
    * clusters → keep the minimum doc_id per cluster as its representative →
    * per-source survivor accounting. Docs in no pair never enter the label
    * table and survive by construction, so the anti-set is only the
    * cluster-sized label table — the survivors join exchanges (doc_id)
    * longs against it, never text. Output is the per-source summary (the
    * driver-checkable shape); the survivor doc_id set itself is the
    * labels-filtered join this derives from, exposed for pipeline callers
    * via the same composition. */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus pass (r18): the mining shingle projection and the rollup's
    // (doc_id, source) scan fused into a single checkpointed frame — the
    // rollup must see ALL docs (empty-shingle rows survive by
    // construction), so the empty-shingle filter moves to the mining view,
    // where it was semantically a no-op anyway (shingle-less docs have no
    // bands, hence no candidates).
    val docs = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), col("source"), Dedup.shingles(col("text")).as("shingles"))
      .transform(Eager.materialize(_, "fuzzyDedup.corpus"))
    val mined = minhashPairsVerified(
      docs.filter(size(col("shingles")) > 0).select("doc_id", "shingles"),
      MaxBandOccupancy)
    val (labels, _) = connectedComponents(mined.select("id_a", "id_b"))
    // non-representative members: in some cluster, not its min
    val removed = labels
      .filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"), lit(1L).as("removed"))
    docs
      .select("doc_id", "source")
      .join(removed, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("removed"), lit(0L))).as("n_removed"),
        sum(when(col("removed").isNull, 1L).otherwise(0L)).as("n_survivors")
      )
  }

  /** Near-dup contamination screen (q113) — the leak q54 cannot see. q54
    * flags training docs sharing exact trigram shingles with the eval set;
    * a PARAPHRASED eval leak (reworded answers, light edits) shares few
    * exact shingles but still collides in MinHash bands. This runs q58's
    * asymmetric probe with the eval set as the index side: eval bands are
    * occupancy-capped and BROADCAST (benchmark suites are thousands of
    * docs — trivially broadcastable at any corpus scale), the training
    * corpus streams its (doc_id, band) pairs map-side against them, and
    * only the candidate pairs fetch shingle arrays for the exact-Jaccard
    * verify. The corpus never shuffles for candidate generation; verify
    * joins are candidate-sized. Per-source accounting is the actionable
    * report (which crawl source leaks the benchmark). */
  def nearContamination(s: SparkSession, dir: String): DataFrame = {
    // (doc_id, source, shingles) feeds FIVE consumers (eval bands, train
    // bands, both verify sides, final accounting)
    val docs   = shingled(Tables.documentsDistributed(s, dir), "source")
    val isEval = col("doc_id") % TrainingPrep.EvalMod === 0
    val eval   = docs.filter(isEval).select("doc_id", "shingles")
    val train  = docs.filter(!isEval)
    val cand   = probePairs(minhashBands(train), broadcast(boundedBands(minhashBands(eval), "band", MaxBandOccupancy)))
    val leaks = verify(cand, train.select("doc_id", "shingles"), broadcast(eval))
      .transform(jaccard)
      .filter(col("jaccard") >= JaccardThreshold)
      .groupBy(col("id_a").as("doc_id"))
      .agg(count(lit(1)).as("n_eval_matches"))
    train
      .select(col("doc_id"), col("source"))
      .join(leaks, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_train"),
        sum(when(col("n_eval_matches").isNotNull, 1L).otherwise(0L)).as("n_leaked"),
        sum(coalesce(col("n_eval_matches"), lit(0L))).as("n_leak_pairs")
      )
  }

  /** Quality-weighted dedup survivors (q109) — q107 with the survivor rule
    * production pipelines actually use: per near-dup cluster keep the
    * HIGHEST-QUALITY member (q42's composite score; floor-micros LONG so
    * the argmax compares exact integers), min doc_id only as the
    * tie-break. Min-id keep (q107) is deterministic but quality-blind — a
    * crawl dup that was fetched first wins over its cleaner copy; this
    * variant reclaims that quality mass, and `q_removed_sum` quantifies
    * the score mass removed per source.
    *
    * Scale shape: the cluster machinery (pairs → pointer-jumped labels) is
    * candidate-sized as in q107; quality is ONE narrow corpus pass emitting
    * (doc_id, source, qm) — text never shuffles. Member/best/rep tables are
    * all cluster-sized, so the corpus-side left join exchanges (doc_id)
    * longs only (AQE broadcasts the label table at real scale). The
    * two-step argmax (max qm per label, then min id among ties) avoids
    * struct-ordering subtleties and keeps both engines trivially aligned. */
  def dedupSurvivorsByQuality(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus text pass (r18): the mining shingle projection and the
    // quality-score pass were two independent full text scans; both signals
    // now come off a single checkpointed projection. The rollup must see
    // ALL docs, so the empty-shingle filter moves to the mining view (a
    // semantic no-op — shingle-less docs produce no bands/candidates).
    val docs = Tables
      .documentsDistributed(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        floor(TextAnalysis.qualityScore(col("text"), col("n_chars")) * lit(1e6))
          .cast(LongType)
          .as("qm"),
        Dedup.shingles(col("text")).as("shingles")
      )
      .transform(Eager.materialize(_, "fuzzyDedup.corpus"))
    val mined = minhashPairsVerified(
      docs.filter(size(col("shingles")) > 0).select("doc_id", "shingles"),
      MaxBandOccupancy)
    val (labels, _) = connectedComponents(mined.select("id_a", "id_b"))
    val qdocs = docs.select("doc_id", "source", "qm")
    // cluster-sized; feeds the argmax windows AND the removed filter
    val members =
      Eager.materialize(labels.join(qdocs.select(col("doc_id").as("node"), col("qm")), Seq("node")), "fuzzyDedup.members")
    // Argmax via two stacked windows over ONE label partitioning (r18 — the
    // previous best-join/reps-join chain cost three exchanges and two
    // joins for the same answer): maxq = max qm per cluster (ignores NULL
    // qm, so an all-NULL cluster gets NULL maxq → NULL rep → nothing
    // removed, bit-identical to the old join-filter chain), rep = min node
    // among the maxq ties.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("label")
    val removed = members
      .withColumn("maxq", max(col("qm")).over(w))
      .withColumn("rep", min(when(col("qm") === col("maxq"), col("node"))).over(w))
      .filter(col("node") =!= col("rep"))
      .select(col("node").as("doc_id"), lit(1L).as("removed"))
    qdocs
      .join(removed, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("removed"), lit(0L))).as("n_removed"),
        sum(when(col("removed").isNull, 1L).otherwise(0L)).as("n_survivors"),
        sum(when(col("removed").isNotNull, col("qm")).otherwise(0L)).as("q_removed_sum")
      )
  }

  /** Embedding near-dup clusters (q76) — q38's composition over the vector
    * side: q39's banded-LSH pairs fed through the pointer-jumped connected
    * components, so semantic-duplicate GROUPS (not just pairs) come out —
    * the unit a curation pipeline actually deletes from. The gate corpora
    * plant no cosine-0.9 pairs, so the oracle run is vacuous there (empty =
    * empty); the semantics are pinned by FuzzyDedupSpec's planted corpus. */
  def embeddingClusters(s: SparkSession, dir: String): DataFrame = {
    val (labels, _) = connectedComponents(embeddingPairsLsh(s, dir).select("id_a", "id_b"))
    labels
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"), max(col("node")).as("max_vec_id"))
  }

  /** Token k-gram size for [[winnowing]] (3-token grams, the corpus-wide
    * shingle width used everywhere else). */
  val WinK = 3

  /** Winnowing window, in consecutive k-gram hashes. Detection guarantee:
    * any shared token run of ≥ [[WinW]] + [[WinK]] − 1 tokens is caught. */
  val WinW = 8

  /** Per-doc winnowing sketch (q122's first pass, public for the guarantee
    * spec): k-gram hashes → min of each [[WinW]]-hash window → distinct
    * selected hashes. Docs shorter than [[WinK]] tokens sketch empty; docs
    * with fewer than [[WinW]] k-grams select the single global min (the
    * j = 1 window clips to the available hashes).
    *
    * Runs on the native [[graft.plans.WinnowMinimizers]] expression — one
    * monotonic-deque pass per row, O(m) total, inside whole-stage codegen.
    * The HOF reference formulation (O(m·w) interpreted lambda
    * evaluations, `HofReference` in the tests) is parity-pinned in
    * ExpressionParitySpec and value-identical to the DuckDB oracle. */
  def winnowSketchTable(s: SparkSession, dir: String): DataFrame =
    Tables
      .documentsDistributed(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        (greatest(size(split(col("text"), " +")) - (WinK - 1), lit(0))).as("m"),
        graft.plans.TextHashExpressions.winnowMinimizers(col("text"), WinK, WinW).as("mins")
      )

  /** q122: winnowing fingerprint sketch (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003 — the MOSS algorithm): hash every [[WinK]]-token gram, slide a
    * [[WinW]]-hash window, keep each window's MIN hash. The selected
    * "minimizers" are a content-defined sketch with expected density
    * 2/(w+1) and a hard guarantee: two documents sharing any run of
    * ≥ w+k−1 tokens MUST share a minimizer — the property plain sampled
    * shingles (q33 MinHash) can't give, and the reason winnowing is the
    * plagiarism-detection standard. q36 hashes the whole doc (exact-dup
    * only); q120's CDC cuts chunks for storage dedup; this selects
    * overlap-guaranteeing fingerprints for match DETECTION.
    *
    * The query reports, per source: docs, k-gram positions, selected
    * minimizers, corpus-wide duplicated minimizers (df ≥ 2), and the
    * floor-micros density/duplication rates — density_ppm ≈ 222 222
    * (2/(w+1) for w = 8) is the theory check, dup_ppm the cross-doc
    * overlap signal.
    *
    * Scale shape: selection is ENTIRELY map-side — the native
    * [[graft.plans.WinnowMinimizers]] expression does tokenize + k-gram
    * hash + monotonic-deque window-min in ONE O(m) pass per row, inside
    * whole-stage codegen (not a mapPartitions, which would break the
    * codegen span; not the HOF formulation, whose interpreted lambdas
    * cost O(m·w) — parity-pinned in ExpressionParitySpec). Tokens and
    * hashes never leave their scan task; the exchanges carry skinny
    * (source, hash, count) rows — vocabulary-sized after the map-side
    * partial aggregate — plus one |sources|-row report aggregate. Corpus
    * df comes from a window sum over those collapsed counts, so no
    * occurrence-level self-join and no checkpoint materialization. Text
    * never shuffles. */
  def winnowing(s: SparkSession, dir: String): DataFrame = {
    val perDoc = winnowSketchTable(s, dir)
    // ONE text scan, ONE evaluation of the native sketch expression:
    // posexplode_outer emits every (source, h) minimizer occurrence AND
    // exactly one stat-carrying row per doc (pos 0 for sketched docs,
    // null for too-short docs), so the occurrence counts and the per-doc
    // docs/positions stats come out of the SAME pass — the r7 shape paid
    // an occ⋈dfreq occurrence-level self-join off an eager corpus-sized
    // checkpoint (47.7 cpu-s at sf0.1, blocks accumulating across bench
    // reps); the first r8 rewrite fixed that but read the corpus text
    // twice (once per aggregate branch). The collapsed per-(source, h)
    // frame is vocabulary-sized, so ITS checkpoint is skinny, and corpus
    // df is a window sum over it — no occurrence join, no second scan.
    val sh = perDoc
      .select(col("source"), col("m"), posexplode_outer(col("mins")).as(Seq("pos", "h")))
      .groupBy("source", "h")
      .agg(
        sum(when(col("h").isNotNull, 1L).otherwise(0L)).as("c"),
        sum(when(col("pos") === 0 || col("pos").isNull, 1L).otherwise(0L)).as("d"),
        sum(when(col("pos") === 0 || col("pos").isNull, col("m").cast(LongType)).otherwise(0L)).as("p")
      )
      .transform(Eager.materialize(_, "fuzzyDedup.winnow"))
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val agg = sh
      .filter(col("h").isNotNull)
      .withColumn("df", sum(col("c")).over(wDf))
      .groupBy("source")
      .agg(
        sum(col("c")).as("n_minimizers"),
        sum(when(col("df") >= 2, col("c")).otherwise(0L)).as("n_dup_minimizers")
      )
    sh.groupBy("source")
      .agg(sum(col("d")).as("n_docs"), sum(col("p")).as("n_positions"))
      .join(agg, Seq("source"), "left")
      .select(
        col("source"),
        col("n_docs"),
        col("n_positions"),
        coalesce(col("n_minimizers"), lit(0L)).as("n_minimizers"),
        coalesce(col("n_dup_minimizers"), lit(0L)).as("n_dup_minimizers"),
        when(col("n_positions") === 0, 0L)
          .otherwise(
            floor(col("n_minimizers").cast(DoubleType) / col("n_positions").cast(DoubleType) * lit(1e6))
          )
          .cast(LongType)
          .as("density_ppm"),
        when(coalesce(col("n_minimizers"), lit(0L)) === 0, 0L)
          .otherwise(
            floor(
              col("n_dup_minimizers").cast(DoubleType) / col("n_minimizers").cast(DoubleType) * lit(1e6)
            )
          )
          .cast(LongType)
          .as("dup_ppm")
      )
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q122_winnowing"          -> (winnowing _),
    "q38_dedup_clusters"      -> (dedupClusters _),
    "q76_embedding_clusters"  -> (embeddingClusters _),
    "q33_dedup_minhash_lsh"   -> ((s, d) => minhashLsh(s, d)),
    "q34_simhash_fingerprint" -> (simhashFingerprints _),
    "q35_simhash_pairs"       -> (simhashPairs _),
    "q36_rolling_fingerprint" -> (rollingFingerprints _),
    "q37_dedup_embedding"     -> (embeddingPairs _),
    "q39_dedup_embedding_lsh" -> ((s, d) => embeddingPairsLsh(s, d)),
    "q58_incremental_dedup"   -> (incrementalDedup _),
    "q105_containment_lsh"    -> ((s, d) => containmentLsh(s, d)),
    "q106_dedup_index"        -> (DedupIndex.q106 _),
    "q107_dedup_survivors"    -> (dedupSurvivors _),
    "q109_survivors_quality"  -> (dedupSurvivorsByQuality _),
    "q112_index_absorb"       -> (DedupIndex.q112 _),
    "q113_near_contamination" -> (nearContamination _)
  )

  // ---- oracle SQL ----

  private val baseHashSql: String = graft.functions.Fingerprints.fp8Sql("%s")

  private val shinglesSqlCte: String = Dedup.shinglesSql

  private def minhashSigSql: String = {
    val hs = s"list_transform(shingles, s -> ${baseHashSql.format("s")})"
    val sigs = Coeffs.zipWithIndex
      .map { case ((a, b), j) => s"list_min(list_transform(hs, h -> (${a} * h + ${b}) % ${P})) AS sig$j" }
      .mkString(",\n    ")
    s"""hsig AS (SELECT doc_id, shingles, $hs AS hs FROM sh WHERE len(shingles) > 0),
       |sig AS (SELECT doc_id, shingles,
       |    $sigs
       |  FROM hsig)""".stripMargin
  }

  private def bandsAllSql: String = {
    val bandExprs = (0 until NumBands).map { b =>
      val cols = (b * BandSize until (b + 1) * BandSize).map(j => s"sig$j").mkString(", ")
      s"concat_ws(':', $b, $cols)"
    }
    s"bands_all AS (SELECT doc_id, shingles, unnest([${bandExprs.mkString(", ")}]) AS band FROM sig)"
  }

  private def bandsSql: String =
    // the QUALIFY mirrors boundedBands' occupancy cap, so Spark/oracle
    // parity holds even on a corpus with a >= cap boilerplate cluster
    s"""$bandsAllSql,
       |bands AS (SELECT doc_id, shingles, band FROM bands_all
       |  QUALIFY count(*) OVER (PARTITION BY band) <= $MaxBandOccupancy)""".stripMargin

  private val baseHash60Sql: String = graft.functions.Fingerprints.fp15Sql("%s")

  private val simhashSql: String = {
    val hs = s"list_transform(regexp_split_to_array(text, ' +'), t -> ${baseHash60Sql.format("t")})"
    val bits = (0 until SimhashBits)
      .map { b =>
        s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END)) >= 0 THEN ${1L << b} ELSE 0 END)"
      }
      .mkString(" + ")
    s"""fp AS (SELECT doc_id, lang, CAST($bits AS BIGINT) AS simhash60
       |  FROM (SELECT doc_id, lang, $hs AS hs FROM documents))""".stripMargin
  }

  /** Shared oracle CTE chain: shingles → signatures → bands → verified
    * near-dup pairs (the q33 result). */
  private def pairsCtes: String =
    s"""$shinglesSqlCte,
       |$minhashSigSql,
       |$bandsSql,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
       |),
       |verified AS (
       |  SELECT id_a, id_b,
       |    len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS inter,
       |    len(sa.shingles) + len(sb.shingles)
       |      - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS union_n
       |  FROM cand JOIN sh sa ON cand.id_a = sa.doc_id JOIN sh sb ON cand.id_b = sb.doc_id
       |),
       |pairs AS (SELECT id_a, id_b FROM verified WHERE round(inter / union_n, 6) >= 0.3)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q122_winnowing" ->
      s"""WITH t AS (SELECT doc_id, source, regexp_split_to_array(text, ' +') AS toks FROM documents),
         |h AS (
         |  SELECT doc_id, source, i AS pos,
         |    ${graft.functions.Fingerprints.fp15Sql(
          "'win:' || toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]"
        )} AS h
         |  FROM t, unnest(generate_series(1, len(toks) - ${WinK - 1})) AS g(i)
         |),
         |w AS (
         |  SELECT doc_id, source, pos,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS wmin,
         |    count(*) OVER (PARTITION BY doc_id) AS m
         |  FROM h
         |),
         |sel AS (
         |  SELECT DISTINCT doc_id, source, wmin AS h
         |  FROM w WHERE pos <= greatest(m - ${WinW - 1}, 1)
         |),
         |dfq AS (SELECT h, count(*) AS df FROM sel GROUP BY 1),
         |agg AS (
         |  SELECT source, count(*) AS n_min,
         |    sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
         |  FROM sel JOIN dfq USING (h) GROUP BY 1
         |),
         |base AS (SELECT source, count(*) AS n_docs FROM t GROUP BY 1),
         |p AS (SELECT source, count(*) AS n_positions FROM h GROUP BY 1)
         |SELECT b.source AS source, CAST(b.n_docs AS BIGINT) AS n_docs,
         |  CAST(COALESCE(p.n_positions, 0) AS BIGINT) AS n_positions,
         |  CAST(COALESCE(a.n_min, 0) AS BIGINT) AS n_minimizers,
         |  CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup_minimizers,
         |  CAST(CASE WHEN COALESCE(p.n_positions, 0) = 0 THEN 0
         |    ELSE floor(CAST(a.n_min AS DOUBLE) / CAST(p.n_positions AS DOUBLE) * 1e6)
         |  END AS BIGINT) AS density_ppm,
         |  CAST(CASE WHEN COALESCE(a.n_min, 0) = 0 THEN 0
         |    ELSE floor(CAST(a.n_dup AS DOUBLE) / CAST(a.n_min AS DOUBLE) * 1e6)
         |  END AS BIGINT) AS dup_ppm
         |FROM base b LEFT JOIN p USING (source) LEFT JOIN agg a ON b.source = a.source""".stripMargin,
    "q113_near_contamination" ->
      s"""WITH $shinglesSqlCte,
         |$minhashSigSql,
         |$bandsAllSql,
         |e_bands AS (
         |  SELECT doc_id, band FROM bands_all WHERE doc_id % ${TrainingPrep.EvalMod} = 0
         |  QUALIFY count(*) OVER (PARTITION BY band) <= $MaxBandOccupancy
         |),
         |t_bands AS (SELECT doc_id, band FROM bands_all WHERE doc_id % ${TrainingPrep.EvalMod} <> 0),
         |cand AS (
         |  SELECT DISTINCT t.doc_id AS t_id, e.doc_id AS e_id
         |  FROM t_bands t JOIN e_bands e ON t.band = e.band
         |),
         |ver AS (
         |  SELECT t_id, e_id,
         |    len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS inter,
         |    len(sa.shingles) + len(sb.shingles)
         |      - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS union_n
         |  FROM cand JOIN sh sa ON cand.t_id = sa.doc_id JOIN sh sb ON cand.e_id = sb.doc_id
         |),
         |nr AS (
         |  SELECT t_id AS doc_id, count(*) AS n_eval_matches
         |  FROM ver WHERE round(CAST(inter AS DOUBLE) / union_n, 6) >= 0.3 GROUP BY 1
         |),
         |tr AS (
         |  SELECT d.doc_id, d.source FROM documents d JOIN sh ON d.doc_id = sh.doc_id
         |  WHERE d.doc_id % ${TrainingPrep.EvalMod} <> 0 AND len(sh.shingles) > 0
         |)
         |SELECT tr.source,
         |  CAST(count(*) AS BIGINT) AS n_train,
         |  CAST(sum(CASE WHEN nr.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_leaked,
         |  CAST(sum(COALESCE(nr.n_eval_matches, 0)) AS BIGINT) AS n_leak_pairs
         |FROM tr LEFT JOIN nr ON tr.doc_id = nr.doc_id
         |GROUP BY tr.source""".stripMargin,
    "q109_survivors_quality" ->
      s"""WITH RECURSIVE $pairsCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(a, b) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
         |),
         |lab AS (SELECT a AS node, min(b) AS label FROM reach GROUP BY a),
         |qd AS (
         |  SELECT doc_id, source,
         |    CAST(floor((${TextAnalysis.qualityScoreSql}) * 1e6) AS BIGINT) AS qm
         |  FROM documents
         |),
         |mem AS (SELECT l.node, l.label, q.qm FROM lab l JOIN qd q ON l.node = q.doc_id),
         |best AS (SELECT label, max(qm) AS maxq FROM mem GROUP BY 1),
         |rep AS (
         |  SELECT m.label, min(m.node) AS rep
         |  FROM mem m JOIN best b ON m.label = b.label AND m.qm = b.maxq
         |  GROUP BY 1
         |),
         |removed AS (
         |  SELECT m.node AS doc_id, m.qm FROM mem m
         |  JOIN rep r ON m.label = r.label WHERE m.node <> r.rep
         |)
         |SELECT d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
         |  CAST(sum(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
         |  CAST(sum(CASE WHEN r.doc_id IS NULL THEN 0 ELSE r.qm END) AS BIGINT) AS q_removed_sum
         |FROM qd d LEFT JOIN removed r ON d.doc_id = r.doc_id
         |GROUP BY d.source""".stripMargin,
    "q107_dedup_survivors" ->
      s"""WITH RECURSIVE $pairsCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(a, b) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
         |),
         |lab AS (SELECT a AS node, min(b) AS label FROM reach GROUP BY a),
         |removed AS (SELECT node AS doc_id FROM lab WHERE node <> label)
         |SELECT d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
         |  CAST(sum(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
         |FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id
         |GROUP BY d.source""".stripMargin,
    "q112_index_absorb" ->
      s"""WITH $shinglesSqlCte,
         |$minhashSigSql,
         |$bandsAllSql,
         |base_bands AS (
         |  SELECT doc_id, band FROM bands_all WHERE doc_id % $DeltaMod < 8
         |  QUALIFY count(*) OVER (PARTITION BY band) <= $MaxBandOccupancy
         |),
         |d1_bands AS (SELECT doc_id, band FROM bands_all WHERE doc_id % $DeltaMod = 8),
         |d2_bands AS (SELECT doc_id, band FROM bands_all WHERE doc_id % $DeltaMod = 9),
         |bse AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % $DeltaMod < 8),
         |d1 AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % $DeltaMod = 8),
         |ex1 AS (
         |  SELECT d1.doc_id, CASE WHEN bse.fp IS NULL THEN 0 ELSE 1 END AS exact_dup
         |  FROM d1 LEFT JOIN bse ON d1.fp = bse.fp
         |),
         |cand1 AS (
         |  SELECT DISTINCT a.doc_id AS d_id, b.doc_id AS b_id
         |  FROM d1_bands a JOIN base_bands b ON a.band = b.band
         |),
         |ver1 AS (
         |  SELECT d_id, b_id,
         |    len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS inter,
         |    len(sa.shingles) + len(sb.shingles)
         |      - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS union_n
         |  FROM cand1 JOIN sh sa ON cand1.d_id = sa.doc_id JOIN sh sb ON cand1.b_id = sb.doc_id
         |),
         |nr1 AS (
         |  SELECT d_id AS doc_id, count(*) AS n_near, min(b_id) AS near_match
         |  FROM ver1 WHERE round(CAST(inter AS DOUBLE) / union_n, 6) >= 0.3 GROUP BY 1
         |),
         |v1 AS (
         |  SELECT ex1.doc_id, ex1.exact_dup, COALESCE(nr1.n_near, 0) AS n_near,
         |    COALESCE(nr1.near_match, -1) AS near_match,
         |    CASE WHEN ex1.exact_dup = 0 AND COALESCE(nr1.n_near, 0) = 0 THEN 1 ELSE 0 END AS keep
         |  FROM ex1 LEFT JOIN nr1 ON ex1.doc_id = nr1.doc_id
         |),
         |surv1 AS (SELECT doc_id FROM v1 WHERE keep = 1),
         |bse2 AS (
         |  SELECT fp FROM bse
         |  UNION
         |  SELECT DISTINCT md5(d.text) AS fp FROM documents d JOIN surv1 s ON d.doc_id = s.doc_id
         |),
         |absorb_bands AS (
         |  SELECT b.doc_id, b.band FROM d1_bands b JOIN surv1 s ON b.doc_id = s.doc_id
         |  QUALIFY count(*) OVER (PARTITION BY b.band) <= $MaxBandOccupancy
         |),
         |idx2_bands AS (
         |  SELECT doc_id, band FROM base_bands
         |  UNION ALL
         |  SELECT doc_id, band FROM absorb_bands
         |),
         |d2 AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % $DeltaMod = 9),
         |ex2 AS (
         |  SELECT d2.doc_id, CASE WHEN bse2.fp IS NULL THEN 0 ELSE 1 END AS exact_dup
         |  FROM d2 LEFT JOIN bse2 ON d2.fp = bse2.fp
         |),
         |cand2 AS (
         |  SELECT DISTINCT a.doc_id AS d_id, b.doc_id AS b_id
         |  FROM d2_bands a JOIN idx2_bands b ON a.band = b.band
         |),
         |ver2 AS (
         |  SELECT d_id, b_id,
         |    len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS inter,
         |    len(sa.shingles) + len(sb.shingles)
         |      - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS union_n
         |  FROM cand2 JOIN sh sa ON cand2.d_id = sa.doc_id JOIN sh sb ON cand2.b_id = sb.doc_id
         |),
         |nr2 AS (
         |  SELECT d_id AS doc_id, count(*) AS n_near, min(b_id) AS near_match
         |  FROM ver2 WHERE round(CAST(inter AS DOUBLE) / union_n, 6) >= 0.3 GROUP BY 1
         |),
         |v2 AS (
         |  SELECT ex2.doc_id, ex2.exact_dup, COALESCE(nr2.n_near, 0) AS n_near,
         |    COALESCE(nr2.near_match, -1) AS near_match,
         |    CASE WHEN ex2.exact_dup = 0 AND COALESCE(nr2.n_near, 0) = 0 THEN 1 ELSE 0 END AS keep
         |  FROM ex2 LEFT JOIN nr2 ON ex2.doc_id = nr2.doc_id
         |)
         |SELECT CAST(1 AS BIGINT) AS batch, doc_id, CAST(exact_dup AS BIGINT) AS exact_dup,
         |  CAST(n_near AS BIGINT) AS n_near, CAST(near_match AS BIGINT) AS near_match,
         |  CAST(keep AS BIGINT) AS keep
         |FROM v1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS batch, doc_id, CAST(exact_dup AS BIGINT) AS exact_dup,
         |  CAST(n_near AS BIGINT) AS n_near, CAST(near_match AS BIGINT) AS near_match,
         |  CAST(keep AS BIGINT) AS keep
         |FROM v2""".stripMargin,
    "q106_dedup_index" ->
      s"""WITH $shinglesSqlCte,
         |$minhashSigSql,
         |$bandsAllSql,
         |base_bands AS (
         |  SELECT doc_id, band FROM bands_all WHERE doc_id % $DeltaMod < 8
         |  QUALIFY count(*) OVER (PARTITION BY band) <= $MaxBandOccupancy
         |),
         |delta_bands AS (SELECT doc_id, band FROM bands_all WHERE doc_id % $DeltaMod >= 8),
         |d AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % $DeltaMod >= 8),
         |bse AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % $DeltaMod < 8),
         |ex AS (
         |  SELECT d.doc_id, CASE WHEN bse.fp IS NULL THEN 0 ELSE 1 END AS exact_dup
         |  FROM d LEFT JOIN bse ON d.fp = bse.fp
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d_id, b.doc_id AS b_id
         |  FROM delta_bands a JOIN base_bands b ON a.band = b.band
         |),
         |ver AS (
         |  SELECT d_id, b_id,
         |    len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS inter,
         |    len(sa.shingles) + len(sb.shingles)
         |      - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS union_n
         |  FROM cand JOIN sh sa ON cand.d_id = sa.doc_id JOIN sh sb ON cand.b_id = sb.doc_id
         |),
         |nr AS (
         |  SELECT d_id AS doc_id, count(*) AS n_near, min(b_id) AS near_match
         |  FROM ver WHERE round(CAST(inter AS DOUBLE) / union_n, 6) >= 0.3 GROUP BY 1
         |)
         |SELECT ex.doc_id AS doc_id,
         |  CAST(ex.exact_dup AS BIGINT) AS exact_dup,
         |  CAST(COALESCE(nr.n_near, 0) AS BIGINT) AS n_near,
         |  CAST(COALESCE(nr.near_match, -1) AS BIGINT) AS near_match,
         |  CAST(CASE WHEN ex.exact_dup = 0 AND COALESCE(nr.n_near, 0) = 0
         |       THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM ex LEFT JOIN nr ON ex.doc_id = nr.doc_id""".stripMargin,
    "q58_incremental_dedup" ->
      s"""WITH $shinglesSqlCte,
         |$minhashSigSql,
         |$bandsSql,
         |d AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % $DeltaMod >= 8),
         |bse AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % $DeltaMod < 8),
         |ex AS (
         |  SELECT d.doc_id, CASE WHEN bse.fp IS NULL THEN 0 ELSE 1 END AS exact_dup
         |  FROM d LEFT JOIN bse ON d.fp = bse.fp
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b ON a.band = b.band
         |  WHERE a.doc_id % $DeltaMod >= 8 AND b.doc_id % $DeltaMod < 8
         |),
         |ver AS (
         |  SELECT d_id, b_id,
         |    len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS inter,
         |    len(sa.shingles) + len(sb.shingles)
         |      - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS union_n
         |  FROM cand JOIN sh sa ON cand.d_id = sa.doc_id JOIN sh sb ON cand.b_id = sb.doc_id
         |),
         |nr AS (
         |  SELECT d_id AS doc_id, count(*) AS n_near, min(b_id) AS near_match
         |  FROM ver WHERE round(CAST(inter AS DOUBLE) / union_n, 6) >= 0.3 GROUP BY 1
         |)
         |SELECT ex.doc_id AS doc_id,
         |  CAST(ex.exact_dup AS BIGINT) AS exact_dup,
         |  CAST(COALESCE(nr.n_near, 0) AS BIGINT) AS n_near,
         |  CAST(COALESCE(nr.near_match, -1) AS BIGINT) AS near_match,
         |  CAST(CASE WHEN ex.exact_dup = 0 AND COALESCE(nr.n_near, 0) = 0
         |       THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM ex LEFT JOIN nr ON ex.doc_id = nr.doc_id""".stripMargin,
    "q38_dedup_clusters" ->
      s"""WITH RECURSIVE $pairsCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(a, b) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
         |),
         |lab AS (SELECT a AS node, min(b) AS label FROM reach GROUP BY a)
         |SELECT label AS cluster_id, count(*) AS cluster_size, max(node) AS max_doc_id
         |FROM lab GROUP BY label""".stripMargin,
    "q105_containment_lsh" ->
      s"""WITH $shinglesSqlCte,
         |$minhashSigSql,
         |$bandsSql,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
         |),
         |verified AS (
         |  SELECT id_a, id_b,
         |    len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS inter,
         |    len(sa.shingles) AS n_a, len(sb.shingles) AS n_b
         |  FROM cand JOIN sh sa ON cand.id_a = sa.doc_id JOIN sh sb ON cand.id_b = sb.doc_id
         |)
         |SELECT id_a, id_b, inter, n_a, n_b,
         |  round(inter / least(n_a, n_b), 6) AS containment,
         |  round(inter / (n_a + n_b - inter), 6) AS jaccard
         |FROM verified WHERE round(inter / least(n_a, n_b), 6) >= ${Dedup.ContainmentThreshold}""".stripMargin,
    "q33_dedup_minhash_lsh" ->
      s"""WITH $shinglesSqlCte,
         |$minhashSigSql,
         |$bandsSql,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
         |),
         |verified AS (
         |  SELECT id_a, id_b,
         |    len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS inter,
         |    len(sa.shingles) + len(sb.shingles)
         |      - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS union_n
         |  FROM cand JOIN sh sa ON cand.id_a = sa.doc_id JOIN sh sb ON cand.id_b = sb.doc_id
         |)
         |SELECT id_a, id_b, inter, union_n, round(inter / union_n, 6) AS jaccard
         |FROM verified WHERE round(inter / union_n, 6) >= 0.3""".stripMargin,
    "q34_simhash_fingerprint" ->
      s"""WITH $simhashSql
         |SELECT doc_id, lang, simhash60 FROM fp""".stripMargin,
    "q35_simhash_pairs" ->
      s"""WITH $simhashSql,
         |banded_all AS (
         |  SELECT doc_id, simhash60 AS fp,
         |    unnest([concat_ws(':', 0, (simhash60 >> 0) % 32768),
         |            concat_ws(':', 1, (simhash60 >> 15) % 32768),
         |            concat_ws(':', 2, (simhash60 >> 30) % 32768),
         |            concat_ws(':', 3, (simhash60 >> 45) % 32768)]) AS band
         |  FROM fp
         |),
         |banded AS (SELECT doc_id, fp, band FROM banded_all
         |  QUALIFY count(*) OVER (PARTITION BY band) <= $MaxBandOccupancy),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fp_a, b.fp AS fp_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3""".stripMargin,
    "q36_rolling_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS roll_hash
        |FROM documents""".stripMargin,
    // q39's oracle is the EXACT all-pairs result (q37): the LSH candidate
    // set must recover every qualifying pair on the test corpus — the gate
    // verifies recall = 1.0 there, and the banding analysis bounds it at
    // ~0.99996 per pair in general.
    "q76_embedding_clusters" ->
      """WITH RECURSIVE n AS (
        |  SELECT vec_id, embedding AS v,
        |    sqrt(list_sum(list_transform(generate_series(1, 64),
        |                                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE round(list_sum(list_transform(generate_series(1, 64),
        |          i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))) / nullif(a.nrm * b.nrm, 0), 6) >= 0.9
        |),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pairs
        |),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |reach(a, b) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        |),
        |lab AS (SELECT a AS node, min(b) AS label FROM reach GROUP BY a)
        |SELECT label AS cluster_id, count(*) AS cluster_size, max(node) AS max_vec_id
        |FROM lab GROUP BY label""".stripMargin,
    "q39_dedup_embedding_lsh" ->
      """WITH n AS (
        |  SELECT vec_id, embedding AS v,
        |    sqrt(list_sum(list_transform(generate_series(1, 64),
        |                                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |          i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))) / nullif(a.nrm * b.nrm, 0), 6) AS cos
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE round(list_sum(list_transform(generate_series(1, 64),
        |        i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))) / nullif(a.nrm * b.nrm, 0), 6) >= 0.9""".stripMargin,
    "q37_dedup_embedding" ->
      """WITH n AS (
        |  SELECT vec_id, embedding AS v,
        |    sqrt(list_sum(list_transform(generate_series(1, 64),
        |                                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |          i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))) / nullif(a.nrm * b.nrm, 0), 6) AS cos
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE round(list_sum(list_transform(generate_series(1, 64),
        |        i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))) / nullif(a.nrm * b.nrm, 0), 6) >= 0.9""".stripMargin
  )
}
