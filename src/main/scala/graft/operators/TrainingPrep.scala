package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Eager, Num, QueryModule, Tables}

/** Training-data preparation operators beyond dedup/quality: the sampling
  * and batching stages of a 100 TB corpus pipeline.
  *
  *  - Stratified sampling: deterministic "random" order via md5(doc_id), so
  *    every engine (and every rerun) draws the same sample — no RNG state.
  *  - Sequence packing: greedy token-budget binning per language via an
  *    exclusive running sum — the shuffle is one window per stratum.
  *  - Repetition scoring: distinct/total shingle ratio, a standard
  *    quality signal for generated/boilerplate text.
  */
object TrainingPrep extends QueryModule {
  import Num._

  val SamplePerLang = 20
  val TokenBudget   = 4096

  /** Deterministic stratified sample: first-N per language in
    * (md5(doc_id), doc_id) order, via the bounded-heap
    * [[graft.plans.TopKAggregate]] with both key fields reversed
    * (smallest-first) — each map partition contributes ≤ N rows per language
    * before the exchange, no per-partition sort, no window funnel. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        col("lang"),
        col("n_chars"),
        md5(col("doc_id").cast(StringType)).as("h")
      )
      .groupBy("lang")
      .agg(
        graft.plans.TopKAggregate
          .topK(
            struct(col("h"), col("doc_id"), col("n_chars")),
            SamplePerLang,
            reversed = Seq(true, true) // md5 ASC, doc_id ASC
          )
          .as("top")
      )
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("t.doc_id").as("doc_id"),
        col("lang"),
        col("t.n_chars").as("n_chars"),
        (col("pos") + 1).cast(LongType).as("rk")
      )

  /** Sample size per source for [[weightedSample]]. */
  val WeightedSampleK = 20

  /** Weight cap for [[weightedSample]] — bounds any single giant document's
    * inclusion probability, so one 10M-token crawl artifact can't dominate
    * its source's sample. */
  val WeightCap = 512

  /** q117: deterministic WEIGHTED sample per source — sequential Poisson
    * (order) sampling: each doc draws a "uniform" u from a salted md5 of
    * its id and competes on priority w/u; the k highest priorities per
    * source win, giving inclusion probability ≈ proportional to weight
    * (Ohlsson 1998's πps order sampling, the method statistics agencies use
    * for PPS draws). Weight = token count capped at [[WeightCap]].
    *
    * Determinism across engines is the whole design:
    *  - u comes from [[graft.functions.Fingerprints.fp8]] (salted md5
    *    prefix), not an RNG — every rerun and every engine draws the same
    *    sample, and the driver's DuckDB oracle can reproduce it exactly.
    *  - the priority is ONE IEEE division of exact-in-double integers
    *    (w ≤ 512, h < 2³²) — correctly rounded, bit-identical in Spark and
    *    DuckDB. The textbook A-ES key u^(1/w) (or −ln(u)/w) needs pow/ln,
    *    which libm implementations round differently at the last ulp — a
    *    cross-engine ordering flip waiting to happen. Ties (possible only
    *    on fp8 collision + equal weight) break on doc_id, mirrored in the
    *    oracle's ORDER BY.
    *
    * Scale shape: one narrow projection pass over the corpus (text never
    * leaves the scan), then [[graft.plans.TopKAggregate]]'s bounded heap —
    * each map partition contributes ≤ k rows per source to the exchange,
    * so the shuffle is O(sources · k) regardless of corpus size. No global
    * sort, no window funnel; the same plan holds at 100 TB. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val w   = least(size(split(col("text"), " +")), lit(WeightCap)).cast(LongType)
    val h   = graft.functions.Fingerprints.fp8(concat(lit("wsamp:"), col("doc_id").cast(StringType)))
    val pri = w.cast(DoubleType) / (h + lit(1L)).cast(DoubleType)
    Tables
      .documentsDistributed(s, dir)
      .select(col("source"), col("doc_id"), w.as("w"), pri.as("pri"))
      .groupBy("source")
      .agg(
        graft.plans.TopKAggregate
          .topK(struct(col("pri"), col("doc_id"), col("w")), WeightedSampleK)
          .as("top")
      )
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("source"),
        (col("pos") + 1).cast(LongType).as("rk"),
        col("t.doc_id").as("doc_id"),
        col("t.w").as("w")
      )
  }

  /** Chunk width (in doc_id space) for [[sequencePacking]]'s two-phase
    * cumulative sum. Width-invariant result: bin ids depend only on the
    * total exclusive prefix sum, so the chunking is purely a parallelism
    * knob (specs run it at width 7 to exercise multi-chunk composition). */
  val PackChunk = 65536L

  /** Pack documents into fixed token-budget bins per language: bin id =
    * floor(exclusive-cumulative-tokens / budget), docs in doc_id order.
    *
    * A single running-sum window over `partitionBy(lang)` funnels the whole
    * corpus into |langs| sort tasks — a genuine 100×-scale killer (no
    * WindowGroupLimit applies to an unbounded running sum). Two-phase
    * instead: (1) the running sum within each (lang, doc_id-range chunk) —
    * thousands of parallel window partitions; (2) per-chunk token subtotals
    * (corpus/PackChunk rows — tiny) prefix-summed per language and joined
    * back by broadcast, so the only |langs|-wide window runs on chunk
    * COUNTS, not the corpus. Bin arithmetic is integer division on longs —
    * exact by construction, no double-precision dependency. */
  def sequencePacking(s: SparkSession, dir: String, chunk: Long = PackChunk): DataFrame = {
    val nTokens = size(split(col("text"), " +")).cast(LongType)
    val docs = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("lang"), nTokens.as("n_tokens"))
      .withColumn("g", call_function("div", col("doc_id"), lit(chunk)))
    val wIn = Window.partitionBy("lang", "g").orderBy("doc_id")
    val within = coalesce(
      sum(col("n_tokens")).over(wIn.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L)
    )
    val wChunks = Window.partitionBy("lang").orderBy("g")
    val offsets = docs
      .groupBy("lang", "g")
      .agg(sum(col("n_tokens")).as("chunk_tokens"))
      .withColumn(
        "offset",
        coalesce(sum(col("chunk_tokens")).over(wChunks.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      )
      .select("lang", "g", "offset")
    docs
      .withColumn("within", within)
      .join(broadcast(offsets), Seq("lang", "g"))
      .withColumn("bin_id", call_function("div", col("offset") + col("within"), lit(TokenBudget.toLong)))
      .select("doc_id", "lang", "n_tokens", "bin_id")
  }

  /** Intra-document repetition: 1 - distinct/total trigram-shingle ratio,
    * aggregated per language. */
  def repetitionScore(s: SparkSession, dir: String): DataFrame = {
    val n        = size(split(col("text"), " +"))
    val total    = greatest(n - 2, lit(0))
    val distinctN = size(Dedup.shingles(col("text")))
    val ratio = when(total > 0, round(lit(1.0) - distinctN.cast(DoubleType) / total.cast(DoubleType), 6))
      .otherwise(lit(0.0))
    Tables
      .documents(s, dir)
      .withColumn("rep_ratio", ratio)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        dsum(col("rep_ratio"), dec6).as("sum_rep"),
        max(col("rep_ratio")).as("max_rep")
      )
  }

  /** Eval-set selector for the contamination screen: every 97th doc plays
    * the held-out benchmark. */
  val EvalMod                = 97
  val ContaminationThreshold = 0.5

  /** Benchmark-contamination screen (q54): the fraction of each training
    * document's distinct trigram shingles that appear in the held-out eval
    * set's shingle vocabulary — the decontamination step every training
    * corpus needs before evaluation means anything.
    *
    * Scale shape: the eval side is tiny (benchmarks are), so its distinct
    * grams BROADCAST; the training side is a narrow shingle pass + explode
    * + broadcast hash join, and the only exchanges carry skinny
    * (doc_id, count) rows — the corpus text never shuffles. */
  def contaminationScreen(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val evalGrams = docs
      .filter(col("doc_id") % EvalMod === 0)
      .select(explode(col("sh")).as("gram"))
      .distinct()
    val train = docs.filter(col("doc_id") % EvalMod =!= 0 && size(col("sh")) > 0)
    val matched = train
      .select(col("doc_id"), explode(col("sh")).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"))
    train
      .select(col("doc_id"), size(col("sh")).cast(LongType).as("n_grams"))
      .join(matched, Seq("doc_id"), "left")
      .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      .withColumn("contamination", round(col("n_matched").cast(DoubleType) / col("n_grams"), 6))
      .withColumn("flagged", (col("contamination") >= ContaminationThreshold).cast(LongType))
  }

  /** Shard-prefix width (hex chars) for [[trainingOrder]]: 2 ⇒ 256 shards.
    * Like the pack chunking, purely a parallelism knob — the result is
    * prefix-width invariant (pinned by spec) because md5-prefix shard order
    * IS the prefix of the full md5 order. Width must track log₁₆(corpus/
    * per-task budget): each shard is one sort task, so 100 TB wants 4–5. */
  val OrderPrefixLen = 2

  /** Deterministic global training order (q55): the "global shuffle" every
    * epoch pipeline needs, as rank in (md5(doc_id), doc_id) order — same
    * RNG-free determinism as q45/q56.
    *
    * A naive global `row_number()` is a single-task sort of the corpus.
    * Two-phase instead: rank WITHIN each md5-prefix shard (16^prefixLen
    * parallel sort tasks), then compose with exclusive per-shard count
    * offsets (a tiny broadcast — the only global window runs on 16^prefixLen
    * count rows). Because shards are md5 PREFIXES, shard order concatenated
    * with within-shard order equals the global md5 order exactly. */
  def trainingOrder(s: SparkSession, dir: String, prefixLen: Int = OrderPrefixLen): DataFrame = {
    val h = md5(col("doc_id").cast(StringType))
    val docs = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), h.as("h"), substring(h, 1, prefixLen).as("shard"))
    val wIn    = Window.partitionBy("shard").orderBy("h", "doc_id")
    val within = row_number().over(wIn).cast(LongType) - lit(1L)
    val wSh    = Window.orderBy("shard")
    val offsets = docs
      .groupBy("shard")
      .agg(count(lit(1)).as("n"))
      .withColumn(
        "offset",
        coalesce(sum(col("n")).over(wSh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      )
      .select("shard", "offset")
    docs
      .withColumn("within", within)
      .join(broadcast(offsets), Seq("shard"))
      .select(col("doc_id"), col("h"), (col("offset") + col("within")).as("global_idx"))
  }

  /** Chunk width (tokens) for [[docChunking]] — small enough that the test
    * corpus (docs up to ~100 tokens) actually splits multi-way. */
  val ChunkTokens = 32L

  /** Long-document chunking (q57) — the complement of q46's packing: split
    * each document into ceil(n_tokens / chunk) fixed-width training
    * sequences, last chunk ragged. Pure narrow explode (one row in,
    * n_chunks out, no shuffle at all) — the shape that streams through
    * codegen at any corpus size. */
  def docChunking(s: SparkSession, dir: String): DataFrame = {
    val nTokens = size(split(col("text"), " +")).cast(LongType)
    Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), col("lang"), nTokens.as("n_tokens"))
      .withColumn(
        "n_chunks",
        call_function("div", col("n_tokens") + lit(ChunkTokens - 1), lit(ChunkTokens))
      )
      .filter(col("n_chunks") > 0)
      .select(
        col("doc_id"),
        col("lang"),
        col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx")
      )
      .withColumn(
        "chunk_tokens",
        least(lit(ChunkTokens), col("n_tokens") - col("chunk_idx") * lit(ChunkTokens))
      )
  }

  val NumShards = 16

  /** C4-style length filtering: keep documents whose n_chars lies within the
    * per-language [p5, p95] band. The bounds OUTPUT is tiny (|langs| rows)
    * and broadcasts back onto the corpus — no window, no corpus sort, the
    * big side stays a narrow scan+filter. Caveat: exact `percentile` buffers
    * a counts map of every distinct n_chars per language on one reducer —
    * fine for bounded-range lengths, but a very long-tailed distribution
    * pressures that task; at scale swap `percentile` for
    * `approx_percentile(n_chars, [0.05, 0.95], accuracy)` (constant-memory
    * sketch, mergeable map-side) and keep exact percentile where oracle
    * parity matters. Bounds are rounded to 6 decimals
    * on BOTH sides: the true interpolated values here have ≤ 2 decimals
    * (integer inputs, centile fractions), so rounding erases any final-ulp
    * difference between Spark's `percentile` and DuckDB's `quantile_cont`
    * interpolation arithmetic. */
  def lengthQuantileFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bounds = docs
      .groupBy("lang")
      .agg(
        round(expr("percentile(n_chars, 0.05)"), 6).as("lo"),
        round(expr("percentile(n_chars, 0.95)"), 6).as("hi")
      )
    docs
      .join(broadcast(bounds), Seq("lang"))
      .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .groupBy("lang", "lo", "hi")
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("kept_chars")
      )
  }

  /** Sketch accuracy for [[lengthDigest]]: rank error ≤ n/accuracy, memory
    * O(accuracy·log n) per group, MERGEABLE map-side — the constant-memory
    * scale path q49's scaladoc points at. At gate scale accuracy ≫ n so the
    * sketch is exact and the oracle hash-matches DuckDB's quantile_disc
    * (both implement percentile_disc semantics: smallest value whose
    * cumulative count ≥ q·n); at 100 TB the same query runs with bounded
    * error instead of a per-group counts-map blow-up. */
  val DigestAccuracy = 100000

  /** Distribution digest (q75): per-language length quantiles via the
    * mergeable GK sketch (`percentile_approx`) — the sketch-family
    * complement of q14's HLL: partial aggregates are bounded sketches, so
    * the exchange carries O(accuracy) per group however big the corpus. */
  def lengthDigest(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        percentile_approx(col("n_chars"), lit(0.05), lit(DigestAccuracy)).as("p05"),
        percentile_approx(col("n_chars"), lit(0.5), lit(DigestAccuracy)).as("p50"),
        percentile_approx(col("n_chars"), lit(0.95), lit(DigestAccuracy)).as("p95")
      )

  /** Deterministic seeded shard assignment: shard = md5-derived uint32 of
    * (seed, doc_id) mod NumShards. Pure per-row narrow transform — the
    * writer path at scale is `repartition(shard).sortWithinPartitions(h)`,
    * which reproduces the same deterministic order with no single-task
    * window. Reruns and other engines agree exactly (no RNG state). */
  def shardAssign(s: SparkSession, dir: String): DataFrame = {
    val h = graft.functions.Fingerprints.fp8(concat(lit("shard:42:"), col("doc_id").cast(StringType)))
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        h.as("h"),
        (h % NumShards).cast(LongType).as("shard")
      )
  }

  /** Weighted source mixing (q69): every corpus blend ("2 parts web, 1 part
    * code, 0.5 parts forums…") is a per-source Bernoulli keep with
    * deterministic probability. Weight here derives from the source id
    * (quarters 0.25–1.0) so the gate corpus exercises four distinct rates;
    * production callers pass their own source→weight map.
    *
    * Determinism at scale: keep ⟺ md5-derived 32-bit uint < weight·2³² — a
    * pure INTEGER threshold compare (weights are quarters, so the threshold
    * w4·2³⁰ is exact), no RNG state, no float boundary. Reruns, retries and
    * other engines all draw the same subset. Pure narrow per-row transform;
    * the only exchange is the tiny per-source count aggregate. */
  def sourceMixing(s: SparkSession, dir: String): DataFrame = {
    val w4 = regexp_extract(col("source"), "(\\d+)$", 1).cast(LongType) % 4 + 1
    val h = graft.functions.Fingerprints.fp8(concat(lit("mix:42:"), col("doc_id").cast(StringType)))
    Tables
      .documents(s, dir)
      .select(col("source"), h.as("h"), w4.as("w4"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("h") < col("w4") * (1L << 30), 1L).otherwise(0L)).as("n_kept"),
        (min(col("w4")).cast(DoubleType) / 4).as("weight")
      )
  }

  /** Corpus snapshot diff (q80): reconcile two corpus versions — the
    * bookkeeping step between crawl refreshes (what entered, what left,
    * what changed in place) that decides how much downstream work
    * (re-dedup, re-scoring, re-tokenization) the new snapshot actually
    * requires. The two versions are derived deterministically from the one
    * gate table (v1 lacks the docs "added later", a slice of v2's docs was
    * "edited", v2 dropped a slice of v1's): production callers pass two
    * real snapshot paths — everything from the projections down is the
    * operator.
    *
    * Scale shape: each side is ONE narrow pass computing (doc_id, source,
    * md5(text)) — the text never shuffles; the full-outer join and the
    * per-source status rollup run on skinny 3-column rows. This is the
    * same fingerprint discipline as q30/q58, applied to version
    * reconciliation. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsDistributed(s, dir)
    val v1 = docs
      .filter(col("doc_id") % 13 =!= 0)
      .select(
        col("doc_id"),
        col("source").as("source1"),
        md5(when(col("doc_id") % 7 === 0, concat(lit("draft "), col("text"))).otherwise(col("text")))
          .as("fp1")
      )
    val v2 = docs
      .filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"), col("source").as("source2"), md5(col("text")).as("fp2"))
    v1
      .join(v2, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("source1"), col("source2")).as("source"),
        when(col("fp1").isNull, "added")
          .when(col("fp2").isNull, "removed")
          .when(col("fp1") =!= col("fp2"), "changed")
          .otherwise("unchanged")
          .as("status")
      )
      .groupBy("source")
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
        count(lit(1)).as("n_total")
      )
  }

  /** Tile count for [[globalNtile]]. */
  val NtileK = 10

  /** Scale-safe global NTILE (q88): equal-count decile assignment over the
    * whole corpus in deterministic (md5(doc_id), doc_id) order. A naive
    * `ntile(10) OVER (ORDER BY …)` is a single-task global sort — the same
    * funnel q55 eliminates — so this reuses q55's two-phase global rank
    * (md5-prefix shards ranked in parallel + broadcast per-shard offsets)
    * and derives the tile arithmetically: with n rows and k tiles, SQL
    * NTILE is exactly `floor(rank₀ · k / n) + 1` on the 0-based rank —
    * remainder rows land in the leading tiles, matching the window
    * function's definition, with zero additional shuffle (n is one scalar
    * broadcast). */
  def globalNtile(s: SparkSession, dir: String): DataFrame = {
    val ranked = trainingOrder(s, dir)
    // n = corpus row count: trainingOrder emits exactly one row per
    // document (projection + rank + inner join against the complete
    // per-shard offset table), so the count comes from the cheap cached
    // corpus-cardinality read instead of `ranked.count()` — which
    // executed the whole two-phase rank pipeline a SECOND time per
    // action (r17: q88 cpu 14.4 s → ~half; same n, identical tiles).
    // PRECONDITION (pinned by TrainingPrepSpec's cardinality test): every
    // document has a non-null doc_id. A NULL doc_id hashes to a NULL
    // shard, which the offset equi-join drops — trainingOrder would then
    // emit FEWER rows than this n and every tile boundary would silently
    // shift. The documents contract has no null ids (generator and
    // streaming ingest both key on doc_id), so asserting here would buy a
    // per-action count job for an invariant the spec already pins.
    val n = Tables.rowCountCached(s, dir, "documents")
    ranked.select(
      col("doc_id"),
      col("global_idx"),
      (call_function("div", col("global_idx") * lit(NtileK.toLong), lit(n)) + 1L).as("tile")
    )
  }

  /** Per-domain cap for [[domainCap]]: max docs kept per source. */
  val DomainCapK = 20

  /** Per-domain quality cap (q86) — the anti-dominance curation rule: no
    * source may contribute more than K documents, and the K kept are the
    * BEST by quality score (contrast q45, which samples uniformly by
    * hash). Crawl corpora are Zipfian in domain size; without a cap the
    * top domains drown the mix regardless of downstream weighting.
    *
    * Scale shape: quality scores are computed in one narrow pass, then the
    * bounded-heap top-k aggregate keeps ≤ K rows per source per map
    * partition — the exchange carries K·|sources| skinny rows, no
    * per-source sort, no window funnel. Scores are emitted as
    * floor(score·10⁶) LONGs (the raw composite double must not go through
    * a decimal cast — engines disagree at the final ulp; IEEE multiply +
    * floor are bit-identical). */
  def domainCap(s: SparkSession, dir: String): DataFrame =
    Tables
      .documentsDistributed(s, dir)
      .select(
        col("source"),
        col("doc_id"),
        TextAnalysis.qualityScore(col("text"), col("n_chars")).as("score")
      )
      .groupBy("source")
      .agg(
        graft.plans.TopKAggregate
          .topK(
            struct(col("score"), col("doc_id")),
            DomainCapK,
            reversed = Seq(false, true) // score DESC, doc_id ASC
          )
          .as("top")
      )
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("source"),
        col("t.doc_id").as("doc_id"),
        floor(col("t.score") * lit(1e6)).cast(LongType).as("score_micros"),
        (col("pos") + 1).cast(LongType).as("rk")
      )

  /** Upsert/tombstone merge (q83) — MERGE INTO for a corpus snapshot: apply
    * a delta batch (U = content rewrite, D = tombstone, I = new doc) to the
    * base corpus and report, per source, how the merge resolved plus an
    * order-independent content checksum of the merged corpus (sum of
    * 32-bit md5 prefixes — exact in LONG, so the oracle hash-checks that
    * the merged CONTENT is right, not just the row counts). The delta here
    * derives deterministically from the base (mod-9 rewrites, mod-23
    * tombstones, mod-9≡4 inserts in the negated-id space — disjoint from any
    * non-negative base id at ANY corpus size); production callers
    * pass a real delta table.
    *
    * Scale shape: both sides reduce to (doc_id, source, fp8) in one narrow
    * pass — the text never shuffles — and the merge is ONE full-outer join
    * on doc_id followed by a per-source rollup of skinny rows. Tombstones
    * drop inside the join projection (no second pass), and the checksum
    * rides the same rollup. This is q80's reconciliation discipline turned
    * into the write-side operator. */
  def upsertMerge(s: SparkSession, dir: String): DataFrame = {
    def fp8(text: Column): Column = graft.functions.Fingerprints.fp8(text)
    val docs = Tables.documentsDistributed(s, dir)
    val base = docs.select(col("doc_id"), col("source").as("src_b"), fp8(col("text")).as("fp_b"))
    val delta = docs
      .filter(col("doc_id") % 9 === 0 && col("doc_id") % 23 =!= 0)
      .select(
        col("doc_id"),
        col("source").as("src_d"),
        lit("U").as("op"),
        fp8(concat(lit("rev2 "), col("text"))).as("fp_d")
      )
      .unionByName(
        docs
          .filter(col("doc_id") % 23 === 0)
          .select(col("doc_id"), col("source").as("src_d"), lit("D").as("op"), lit(null).cast(LongType).as("fp_d"))
      )
      .unionByName(
        docs
          .filter(col("doc_id") % 9 === 4)
          .select(
            (-(col("doc_id") + 1L)).as("doc_id"),
            col("source").as("src_d"),
            lit("I").as("op"),
            fp8(concat(lit("new "), col("text"))).as("fp_d")
          )
      )
    base
      .join(delta, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("src_b"), col("src_d")).as("source"),
        when(col("op").isNull, "kept")
          .when(col("op") === "U", "updated")
          .when(col("op") === "D", "deleted")
          .otherwise("inserted")
          .as("status"),
        // merged content fingerprint: delta wins on U/I, base on kept, none on D
        when(col("op").isNull, col("fp_b")).otherwise(col("fp_d")).as("fp")
      )
      .groupBy("source")
      .agg(
        sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("status") === "updated", 1L).otherwise(0L)).as("n_updated"),
        sum(when(col("status") === "inserted", 1L).otherwise(0L)).as("n_inserted"),
        sum(when(col("status") === "deleted", 1L).otherwise(0L)).as("n_deleted"),
        sum(when(col("status") =!= "deleted", 1L).otherwise(0L)).as("n_final"),
        sum(when(col("status") =!= "deleted", col("fp")).otherwise(lit(0L))).as("content_checksum")
      )
  }

  /** End-to-end clean-corpus funnel (q68): the composition a production
    * pipeline actually runs — canonical dedup → quality filter → per-lang
    * length band — reported as per-language survivor counts at each stage.
    *
    * Scale shape: every per-doc signal (canonical fingerprint, quality
    * score, token count) is computed in ONE narrow pass and the text is
    * dropped before anything shuffles — the dedup group/join run on the
    * skinny (fp, doc_id, …) projection, and the length bounds broadcast.
    * The corpus text never rides an exchange (pinned by PlanQualitySpec). */
  def cleanFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsDistributed(s, dir)
    val skinny = docs.select(
      col("doc_id"),
      col("lang"),
      col("n_chars"),
      md5(Dedup.canonicalText(col("text"))).as("fp"),
      TextAnalysis.qualityScore(col("text"), col("n_chars")).as("score"),
      size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_toks")
    )
    val minFp = skinny.groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
    val bounds = docs
      .groupBy("lang")
      .agg(
        round(expr("percentile(n_chars, 0.05)"), 6).as("lo"),
        round(expr("percentile(n_chars, 0.95)"), 6).as("hi")
      )
    skinny
      .join(minFp, Seq("fp"))
      .join(broadcast(bounds), Seq("lang"))
      .withColumn("is_uniq", col("doc_id") === col("keep_id"))
      .withColumn("q_keep", col("score") >= lit(0.5) && col("n_toks") >= 20)
      .withColumn("in_band", col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("is_uniq"), 1L).otherwise(0L)).as("n_uniq"),
        sum(when(col("is_uniq") && col("q_keep"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("is_uniq") && col("q_keep") && col("in_band"), 1L).otherwise(0L)).as("n_final")
      )
  }

  /** Fraction of the total corpus tokens the training run will consume —
    * the mixture budget [[mixAllocation]] allocates across sources. */
  val MixBudgetFrac = 0.5

  /** Temperature-resampled mixture allocation (q94) — the data-mixing math
    * that decides HOW MUCH of each source a training run reads. Sampling
    * proportional to size lets one crawl domain dominate; uniform sampling
    * starves the big sources; the standard compromise (multilingual LM
    * training's τ-temperature trick) samples ∝ tokens^(1/τ) — here τ = 2,
    * i.e. √tokens. The output per source is its weight, mixture share,
    * token target out of the [[MixBudgetFrac]] budget, and `epochs` =
    * target/tokens — the repeat factor a loader applies (> 1 means the
    * small source is up-sampled / re-read).
    *
    * Determinism discipline: √T is ONE correctly-rounded IEEE op in both
    * engines, but SUMS of doubles are order-dependent — so weights are
    * floored to micro fixed-point LONGs (floor(√T·10⁶)) and every total is
    * an exact integer sum; the shares/targets divide those exact longs
    * with one double division each. Scale shape: one narrow token-count
    * pass + a per-source partial agg; the allocation arithmetic runs on
    * the |sources|-row table against a broadcast 1-row total. */
  def mixAllocation(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables
      .documentsDistributed(s, dir)
      .select(col("source"), size(split(col("text"), " +")).cast(LongType).as("n_tok"))
      .groupBy("source")
      .agg(sum(col("n_tok")).as("tokens"))
      .withColumn("w_micro", floor(sqrt(col("tokens").cast(DoubleType)) * lit(1000000.0)).cast(LongType))
    val totals = perSource.agg(sum(col("tokens")).as("tot_tokens"), sum(col("w_micro")).as("tot_w"))
    perSource
      .crossJoin(totals)
      .withColumn(
        "target_tokens",
        floor(col("tot_tokens").cast(DoubleType) * lit(MixBudgetFrac) * col("w_micro") / col("tot_w"))
          .cast(LongType)
      )
      .select(
        col("source"),
        col("tokens"),
        col("w_micro"),
        round(col("w_micro").cast(DoubleType) / col("tot_w"), 6).as("share"),
        col("target_tokens"),
        round(col("target_tokens").cast(DoubleType) / col("tokens"), 6).as("epochs")
      )
  }

  /** Packed-shard content export (q102) — the step AFTER q46's bin
    * assignment: materialize each (lang, bin) as its concatenated
    * document content, in packing order, and prove the CONTENT is
    * byte-identical across engines via an md5 per shard (q46's oracle
    * checks which bin each doc lands in; this one checks what a trainer
    * would actually read). The emitted row is the shard manifest — doc
    * count, token count, content hash — not the text itself.
    *
    * This is the one operator family where text SHUFFLING is the point:
    * an export moves the corpus once, to its shard, by definition. Each
    * bin holds ≈ [[TokenBudget]] tokens, so the per-group collect_list
    * is bounded by construction (a few docs), and the in-group packing
    * order (doc_id) is restored by an array_sort on the collected
    * (doc_id, text) structs — no pre-shuffle sort of the corpus. */
  def packedShardExport(s: SparkSession, dir: String): DataFrame = {
    val bins = sequencePacking(s, dir)
    val txt  = Tables.documentsDistributed(s, dir).select(col("doc_id"), col("text"))
    bins
      .join(txt, Seq("doc_id"))
      .groupBy("lang", "bin_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        md5(
          concat_ws(
            " ",
            transform(array_sort(collect_list(struct(col("doc_id"), col("text")))), x => x.getField("text"))
          )
        ).as("content_md5")
      )
  }

  /** Snapshot shard-drift audit (q115) — q80's reconciliation lifted to the
    * SHARD level: between two corpus snapshots, which training shards
    * changed at all, and how much re-tokenization the refresh actually
    * costs. q80 answers "which docs changed"; an ops dashboard needs
    * "which of my 10k shards must re-export" — unchanged shards are
    * skipped wholesale (their cached tokenized form is still valid), which
    * is the entire point of sharded exports.
    *
    * The shard fingerprint is a commutative SUM of per-doc fp8 hashes
    * (hash binds doc_id AND text, so an in-place edit moves the sum and a
    * doc can never silently swap shards — shard is a function of doc_id).
    * Order-insensitivity makes the fingerprint a one-pass partial
    * aggregate — no collect_list of shard content (q102's concat-md5 works
    * because its bins are token-budget-bounded; a corpus/NumShards shard
    * is NOT collectable at 100 TB). Overflow headroom: fp8 < 2³², so the
    * LONG sum is exact below ~2³¹ docs per shard.
    *
    * ONE corpus pass computes both versions' membership and fingerprints
    * per doc (the versions are q80's derived v1/v2 — production passes two
    * snapshot paths); the only exchange is the |shards|-row aggregate. */
  def shardDrift(s: SparkSession, dir: String): DataFrame = {
    val text1 = when(col("doc_id") % 7 === 0, concat(lit("draft "), col("text"))).otherwise(col("text"))
    val fpOf = (t: Column) =>
      graft.functions.Fingerprints.fp8(concat(col("doc_id").cast(StringType), lit(":"), t))
    val perDoc = Tables
      .documentsDistributed(s, dir)
      .select(
        (graft.functions.Fingerprints.fp8(concat(lit("shard:42:"), col("doc_id").cast(StringType))) % NumShards)
          .cast(LongType).as("shard"),
        (col("doc_id") % 13 =!= 0).as("in1"),
        (col("doc_id") % 17 =!= 0).as("in2"),
        fpOf(text1).as("fp1"),
        fpOf(col("text")).as("fp2"),
        size(split(col("text"), " +")).cast(LongType).as("n_tok")
      )
    perDoc
      .groupBy("shard")
      .agg(
        sum(when(col("in1"), 1L).otherwise(0L)).as("n_docs_v1"),
        sum(when(col("in2"), 1L).otherwise(0L)).as("n_docs_v2"),
        sum(when(col("in2"), col("n_tok")).otherwise(0L)).as("tokens_v2"),
        sum(when(col("in1"), col("fp1")).otherwise(0L)).as("cfp1"),
        sum(when(col("in2"), col("fp2")).otherwise(0L)).as("cfp2")
      )
      .select(
        col("shard"),
        col("n_docs_v1"),
        col("n_docs_v2"),
        col("tokens_v2"),
        when(col("n_docs_v1") === 0 && col("n_docs_v2") === 0, "empty")
          .when(col("cfp1") === col("cfp2"), "same")
          .otherwise("changed")
          .as("status"),
        when(col("cfp1") =!= col("cfp2"), col("tokens_v2")).otherwise(0L).as("retokenize_tokens")
      )
  }

  /** Hashed-feature bucket count for [[dsirSelection]] — fixed, so the
    * model table is B rows regardless of corpus size. DSIR's paper setting
    * is 10⁴; 512 keeps the gate fixture's buckets multiply occupied. */
  val DsirBuckets = 512

  /** Target-set selector for [[dsirSelection]]: every 89th doc plays the
    * small target distribution (co-prime with q54's eval mod 97, so the
    * two screens' held-out sets don't alias). */
  val DsirTargetMod = 89

  /** Docs selected by [[dsirSelection]] (global top-k by importance). */
  val DsirTopK = 25

  /** DSIR importance resampling (q121) — Data Selection via Importance
    * Resampling (Xie et al., NeurIPS 2023): select raw-corpus documents
    * whose hashed-n-gram distribution looks like a small TARGET set. Two
    * bag-of-hashed-ngram unigram models (target vs raw) are fitted over
    * [[DsirBuckets]] buckets of md5-hashed unigrams+bigrams with add-½
    * smoothing; each raw doc's importance weight is
    * Σ_occurrences [log p̂_target(bucket) − log p̂_raw(bucket)], and the
    * top-[[DsirTopK]] weights win. This is the standing alternative to
    * q110's supervised classifier filter: no labels needed, just a target
    * sample — the method behind "select pretraining data that looks like
    * Wikipedia/books" at corpus scale.
    *
    * Determinism: both log-probs are floored to integer micros PER BUCKET
    * (one IEEE ln + multiply + floor each, identical in DuckDB), so the
    * per-doc score is an exact integer sum — partial-aggregation order
    * cannot drift it. Tie-break (score desc, doc_id asc) pinned in both
    * engines.
    *
    * Scale shape: the model is a [[DsirBuckets]]-row table — the feature
    * stream pre-reduces map-side into ≤ B rows per partition before its
    * exchange (partial count agg), and the log-ratio table BROADCASTS
    * back onto the stream; the only corpus-sized exchange carries skinny
    * (doc_id, source, long) partial score rows, and the global top-k is
    * the bounded heap (≤ k rows per partition). Text never shuffles. The
    * token stream is read twice (model fit + scoring) — two cheap narrow
    * scans rather than a corpus-sized materialization. */
  def dsirSelection(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documentsDistributed(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        (col("doc_id") % DsirTargetMod === 0).as("is_target"),
        split(col("text"), " +").as("toks")
      )
    val bigrams = zip_with(
      slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
      slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b)
    )
    val feats = docs
      .select(
        col("doc_id"),
        col("source"),
        col("is_target"),
        explode(concat(col("toks"), bigrams)).as("feat")
      )
      .select(
        col("doc_id"),
        col("source"),
        col("is_target"),
        (graft.functions.Fingerprints.fp8(concat(lit("dsir:"), col("feat"))) % DsirBuckets).as("b")
      )
    val model = feats
      .groupBy("b")
      .agg(
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("is_target"), 0L).otherwise(1L)).as("cr")
      )
    val tot = model.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    // add-1/2 smoothed log-prob in floored micros, target minus raw
    def lpm(c: Column, n: Column): Column =
      floor(log((c.cast(DoubleType) + lit(0.5)) / (n.cast(DoubleType) + lit(0.5 * DsirBuckets))) * lit(1e6))
    val lr = model
      .crossJoin(broadcast(tot))
      .select(col("b"), (lpm(col("ct"), col("nt")) - lpm(col("cr"), col("nr"))).cast(LongType).as("lr_micro"))
    val scored = feats
      .filter(!col("is_target"))
      .join(broadcast(lr), Seq("b"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_feats"), sum(col("lr_micro")).as("score_micro"))
    scored
      .agg(
        graft.plans.TopKAggregate
          .topK(
            struct(col("score_micro"), col("doc_id"), col("source"), col("n_feats")),
            DsirTopK,
            reversed = Seq(false, true)
          )
          .as("top")
      )
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("t.doc_id").as("doc_id"),
        col("t.source").as("source"),
        col("t.n_feats").as("n_feats"),
        col("t.score_micro").as("score_micro")
      )
  }

  /** Delta-batch selector for [[rollupMaintenance]]: every 11th doc is the
    * newly-arrived batch; the rest are the already-ingested base. */
  val RollupDeltaMod = 11

  /** q125: incremental rollup maintenance — the materialized-view fold
    * every ingest pipeline runs instead of recomputing its dashboards from
    * scratch: a per-source rollup (docs, tokens, content checksum) is
    * persisted as a bucketed state table; when a delta batch arrives, the
    * refresh aggregates ONLY the delta and folds it into the state with a
    * |sources|-row full-outer join. The corpus-sized base is never
    * rescanned — refresh cost is O(|delta|), not O(|corpus|), which at
    * 100 TB is the difference between a per-batch dashboard and a nightly
    * one. Every statistic is chosen to be COMMUTATIVE (counts, token sums,
    * and q115's additive fp8 content checksum), so fold order cannot
    * matter and the merged state is provably identical to a scratch
    * rebuild — the DuckDB oracle IS that scratch rebuild over the full
    * corpus, making the gate literally check incremental ≡ batch across
    * engines. Non-commutative stats (min/max survive; averages derive
    * from sums; quantiles need q75's mergeable digest) follow the same
    * pattern.
    *
    * Scale shape: the one-time state build scans the base once (amortized
    * across every later refresh; part of the query here so the gate
    * exercises it); the refresh path scans only the delta, partial-aggs
    * to |sources| rows map-side, and joins the |sources|-row state table
    * — the plan pin asserts the documents table feeds exactly two scans
    * (build + delta), never a third for the merge. */
  def rollupMaintenance(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Layout
    val docs = Tables
      .documentsDistributed(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        size(split(col("text"), " +")).cast(LongType).as("n_tok"),
        graft.functions.Fingerprints
          .fp8(concat(col("doc_id").cast(StringType), lit(":"), col("text")))
          .as("fp")
      )
    val isDelta = col("doc_id") % RollupDeltaMod === 0
    Eager.phase("trainingPrep.rollup.write") {
      Layout.resetTable(s, "g125_rollup")
      Layout.writeBucketed(
        docs
          .filter(!isDelta)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"), sum(col("fp")).as("cfp")),
        "g125_rollup",
        "source",
        4
      )
    }
    val deltaAgg = docs
      .filter(isDelta)
      .groupBy("source")
      .agg(count(lit(1)).as("d_docs"), sum(col("n_tok")).as("d_tokens"), sum(col("fp")).as("d_cfp"))
    s.table("g125_rollup")
      .join(deltaAgg, Seq("source"), "full_outer")
      .select(
        col("source"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L))).as("n_docs"),
        (coalesce(col("tokens"), lit(0L)) + coalesce(col("d_tokens"), lit(0L))).as("tokens"),
        (coalesce(col("cfp"), lit(0L)) + coalesce(col("d_cfp"), lit(0L))).as("cfp"),
        coalesce(col("d_docs"), lit(0L)).as("n_added")
      )
  }

  /** k-anonymity threshold for [[kAnonymityAudit]] — groups smaller than
    * this count as re-identification risk (the conventional k = 5). */
  val AnonK = 5

  /** Length-band width (chars) for the quasi-identifier tuple. */
  val AnonBand = 500L

  /** q127: k-anonymity release audit — before a corpus (or its metadata)
    * ships, check how identifying its quasi-identifier combinations are:
    * group by the quasi-id tuple (source, lang, length band) and report
    * the dataset's actual k (the smallest group), how many groups and
    * rows fall under [[AnonK]], and the at-risk ppm. A 1-row group means
    * a row an attacker can single out by joining on public attributes —
    * the Sweeney k-anonymity model, run as a distributed audit. q73
    * scrubs direct identifiers (emails/IPs); this measures the INDIRECT
    * identification surface that survives scrubbing.
    *
    * Scale shape: one partial aggregate on the skinny quasi-id tuple
    * (text never leaves the scan — the band is arithmetic on n_chars);
    * every release statistic then folds the |groups|-row table, and
    * |groups| is bounded by the quasi-id cross product, not the corpus.
    * Output is one row. */
  def kAnonymityAudit(s: SparkSession, dir: String): DataFrame = {
    val groups = Tables
      .documentsDistributed(s, dir)
      .select(
        col("source"),
        col("lang"),
        call_function("div", col("n_chars").cast(LongType), lit(AnonBand)).as("band")
      )
      .groupBy("source", "lang", "band")
      .agg(count(lit(1)).as("g"))
    groups.agg(
      sum(col("g")).as("n_rows"),
      count(lit(1)).as("n_groups"),
      min(col("g")).as("k_anonymity"),
      sum(when(col("g") < AnonK, 1L).otherwise(0L)).as("small_groups"),
      sum(when(col("g") < AnonK, col("g")).otherwise(0L)).as("rows_at_risk")
    ).select(
      col("n_rows"),
      col("n_groups"),
      col("k_anonymity"),
      col("small_groups"),
      col("rows_at_risk"),
      floor(col("rows_at_risk").cast(DoubleType) / col("n_rows").cast(DoubleType) * lit(1e6))
        .cast(LongType)
        .as("risk_ppm")
    )
  }

  /** Selection budget for [[tokenBudgetSelect]], as a percent of corpus
    * tokens. */
  val BudgetPct = 60L

  /** Density-ppm band width for [[tokenBudgetSelect]]'s two-phase global
    * running sum — density lives in [0, 1e6] ppm, so ≤ 21 bands. */
  val DensityBand = 50000L

  /** Rows of a per-band model: one per [[DensityBand]] band of [0, 1e6]. */
  private val DensityBands = (1000000L / DensityBand + 1).toInt

  /** Shared (doc_id, extra…, toks, dtoks, density, band) frame for the
    * density-banded two-phase ranks (q129/q132). Null-text contract
    * (reference P3 semantics — nullify and continue, never throw,
    * `/root/reference/src/animals_etl/pipeline.py:67-70`): a null `text` is
    * a ZERO-TOKEN document — toks/dtoks coalesce to 0 and density defines
    * 0/0 := 0 ppm — so `band` is never null and the bounded band-model
    * collects downstream never read a null row (`ROW_VALUE_IS_NULL` on a
    * failed-scrape batch was a driver-side job killer, r13 probe). On any
    * real row (`split` of non-null text is never empty) every expression is
    * bit-for-bit the unguarded original. */
  private def densityBanded(docs: DataFrame, extra: Column*): DataFrame = {
    val toksCol = TextAnalysis.tokens(col("text"))
    docs
      .select(
        (col("doc_id") +: extra) ++ Seq(
          coalesce(size(toksCol).cast(LongType), lit(0L)).as("toks"),
          coalesce(size(array_distinct(toksCol)).cast(LongType), lit(0L)).as("dtoks")): _*)
      .withColumn(
        "density",
        when(col("toks") === 0L, lit(0L))
          .otherwise(call_function("div", col("dtoks") * lit(1000000L), col("toks"))))
      .withColumn("band", call_function("div", col("density"), lit(DensityBand)))
  }

  /** q129: token-budget corpus selection — the curation step that turns
    * "we can afford B training tokens" into a concrete document set:
    * rank every doc by a quality-density score (here distinct-token ratio
    * in ppm — a repetition-penalizing proxy; any per-doc long score slots
    * in), then take docs in density order until the global running token
    * sum crosses the budget ([[BudgetPct]]% of corpus tokens). Greedy by
    * density is the exact knapsack relaxation when docs are small against
    * the budget — the standard corpus-curation shape.
    *
    * The global running sum is the scale hazard: a naive
    * `Window.orderBy(density)` with no partition funnels the corpus
    * through ONE task. Two-phase instead (q88's pattern, keyed by value
    * band rather than hash prefix): density bands partition the ordered
    * domain (band = density // [[DensityBand]], so band order IS density
    * order), a per-band window computes within-band running sums in
    * parallel, and the ≤ 21 per-band token totals fold into band offsets
    * driver-side — a bounded model, like q70's centroids. Output is
    * per-source accounting (|sources| rows). */
  def tokenBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    // One text pass (r18): d is corpus-SKINNY (ids + longs — the
    // localCheckpoint discipline), and BOTH consumers below (the bounded
    // band-total collect and the final ranked pass) otherwise re-tokenize
    // the corpus; the collect forces an action anyway, so materializing
    // here adds no extra job.
    val d = Eager.materialize(densityBanded(Tables.documentsDistributed(s, dir), col("source")), "trainingPrep.density")
    // Bounded collect: ≤ 21 (band, token-total) rows — the "model" from
    // which the budget and the per-band offsets both derive.
    val bandTotals: Array[(Long, Long)] = Eager
      .collect(d.groupBy("band").agg(sum(col("toks")).as("btoks")), DensityBands, "trainingPrep.bandModel")
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1) // descending band = descending density
    val total  = bandTotals.map(_._2).sum
    val budget = total * BudgetPct / 100L
    val offsets = bandTotals
      .scanLeft((0L, 0L)) { case ((_, acc), (band, btoks)) => (band, acc + btoks) }
      .sliding(2)
      .collect { case Array((_, prev), (band, _)) => (band, prev) }
      .toSeq
    import s.implicits._
    val offsetDf = offsets.toDF("band", "offset")
    val wIn      = Window.partitionBy("band").orderBy(col("density").desc, col("doc_id"))
    val within   = sum(col("toks")).over(wIn.rowsBetween(Window.unboundedPreceding, 0))
    d.withColumn("wcum", within)
      .join(broadcast(offsetDf), Seq("band"))
      .withColumn("cum", col("offset") + col("wcum"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("tokens"),
        sum(when(col("cum") <= budget, 1L).otherwise(0L)).as("sel_docs"),
        sum(when(col("cum") <= budget, col("toks")).otherwise(0L)).as("sel_tokens")
      )
  }

  /** q130: group-aware train/val/test split with a leakage audit. Naive
    * per-doc hash splitting leaks: two exact duplicates of one document
    * land in train AND test, so held-out loss silently measures
    * memorization. The fix is splitting by GROUP — hash the dedup group's
    * representative (min doc_id per content fingerprint), so every member
    * of a duplicate group lands in the same split by construction. This
    * audit quantifies the difference on the same corpus: groups/docs that
    * naive splitting scatters across splits, and the (provably zero)
    * leakage of the group-aware scheme — computed, not asserted, so the
    * output proves the property. Split is 8/1/1 by fp8 mod 10, the
    * engine-wide deterministic sampling hash.
    *
    * Scale shape: text is touched once in the scan (md5 fingerprint);
    * every exchange after carries (fp, doc_id, small longs) only. The
    * group table is corpus-sized (one row per distinct fingerprint) so the
    * doc←group rejoin is a skinny shuffle join on fp, not a broadcast.
    * Output is one row. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Fingerprints
    val f = Tables
      .documentsDistributed(s, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("fp"),
        (Fingerprints.fp8(col("doc_id").cast(StringType)) % 10).as("nsplit")
      )
    val g = f
      .groupBy("fp")
      .agg(
        min(col("doc_id")).as("rep"),
        count(lit(1)).as("n"),
        countDistinct(col("nsplit")).as("nsplits")
      )
      .withColumn("gsplit", Fingerprints.fp8(col("rep").cast(StringType)) % 10)
    val docs = f.join(g.select(col("fp"), col("gsplit")), Seq("fp"))
    val groupAgg = g.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("n") > 1, 1L).otherwise(0L)).as("dup_groups"),
      sum(when(col("nsplits") > 1, 1L).otherwise(0L)).as("naive_leaked_groups"),
      sum(when(col("nsplits") > 1, col("n")).otherwise(0L)).as("naive_leaked_docs")
    )
    val grpLeak = docs
      .groupBy("fp")
      .agg(countDistinct(col("gsplit")).as("gs"))
      .agg(sum(when(col("gs") > 1, 1L).otherwise(0L)).as("group_leaked_groups"))
    val docAgg = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("gsplit") < 8, 1L).otherwise(0L)).as("train_docs"),
      sum(when(col("gsplit") === 8, 1L).otherwise(0L)).as("val_docs"),
      sum(when(col("gsplit") === 9, 1L).otherwise(0L)).as("test_docs")
    )
    docAgg.crossJoin(groupAgg).crossJoin(grpLeak)
  }

  /** Anneal-reserve size for [[curriculumOrder]], percent of corpus docs. */
  val AnnealPct = 25L

  /** q55's two-phase md5-prefix rank generalized to any skinny doc_id
    * table and an order-domain salt: rank in (md5(salt ∥ doc_id), doc_id)
    * order with 16^prefixLen parallel sort tasks + a broadcast of per-shard
    * count offsets — never a global single-task sort. Distinct salts give
    * statistically independent orders (the per-phase reshuffle below). */
  private def md5PrefixRank(docs: DataFrame, salt: String, prefixLen: Int = OrderPrefixLen): DataFrame = {
    val h = md5(concat(lit(salt), col("doc_id").cast(StringType)))
    val d = docs.select(col("doc_id"), h.as("h"), substring(h, 1, prefixLen).as("shard"))
    val wIn    = Window.partitionBy("shard").orderBy("h", "doc_id")
    val within = row_number().over(wIn).cast(LongType) - lit(1L)
    val wSh    = Window.orderBy("shard")
    val offsets = d
      .groupBy("shard")
      .agg(count(lit(1)).as("n"))
      .withColumn(
        "offset",
        coalesce(sum(col("n")).over(wSh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      )
      .select("shard", "offset")
    d.withColumn("within", within)
      .join(broadcast(offsets), Seq("shard"))
      .select(col("doc_id"), (col("offset") + col("within")).as("idx"))
  }

  /** q132: quality-annealed curriculum schedule — the two-phase training
    * order labs actually run: a main phase over the WHOLE corpus in
    * deterministic-shuffle order, then an anneal phase that replays only
    * the top-[[AnnealPct]]% of docs by quality density (distinct-token
    * ratio — any per-doc long score slots in), freshly reshuffled. Ending
    * training on the highest-quality slice is the standard anneal recipe;
    * this emits the exact (doc_id, phase, pos) schedule a data loader
    * consumes, so the order is reproducible and auditable.
    *
    * Both scale hazards of the naive formulation are removed: the anneal
    * CUT (a global quality rank) uses q129's density-band two-phase rank
    * (per-band row_numbers in parallel, ≤ 21 band-count offsets folded
    * driver-side), and each phase's ORDER uses q55's md5-prefix two-phase
    * rank — the anneal phase salted so its shuffle is independent of the
    * main phase's. No task ever sees a globally ordered corpus; every
    * exchange carries (doc_id, hash) pairs. */
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    // One text pass (r18): without the checkpoint the text-tokenizing
    // densityBanded subtree evaluated FIVE times — the band-count collect,
    // twice inside main's md5PrefixRank (rank side + offset side), and
    // twice more via reserve inside ann's. d is corpus-skinny (ids +
    // longs), and the collect right below forces the action regardless.
    val d = Eager.materialize(densityBanded(Tables.documentsDistributed(s, dir)), "trainingPrep.density")
    // bounded collect: ≤ 21 (band, count) rows — the anneal-cut model
    val bandCounts: Array[(Long, Long)] = Eager
      .collect(d.groupBy("band").agg(count(lit(1)).as("bn")), DensityBands, "trainingPrep.bandModel")
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    val n       = bandCounts.map(_._2).sum
    val annealN = n * AnnealPct / 100L
    val offsets = bandCounts
      .scanLeft((0L, 0L)) { case ((_, acc), (band, bn)) => (band, acc + bn) }
      .sliding(2)
      .collect { case Array((_, prev), (band, _)) => (band, prev) }
      .toSeq
    import s.implicits._
    val offsetDf = offsets.toDF("band", "boff")
    val wIn      = Window.partitionBy("band").orderBy(col("density").desc, col("doc_id"))
    val drank    = row_number().over(wIn).cast(LongType) - lit(1L)
    val reserve = d
      .withColumn("dwithin", drank)
      .join(broadcast(offsetDf), Seq("band"))
      .filter(col("boff") + col("dwithin") < annealN)
      .select("doc_id")
    val main = md5PrefixRank(d.select("doc_id"), "")
      .select(col("doc_id"), lit("main").as("phase"), col("idx").as("pos"))
    val ann = md5PrefixRank(reserve, "a:")
      .select(col("doc_id"), lit("anneal").as("phase"), (lit(n) + col("idx")).as("pos"))
    main.unionByName(ann)
  }

  /** Every doc_id ≡ 0 (mod this) is on [[deletionPropagation]]'s delete
    * list — the gate's deterministic stand-in for a real id list. */
  val DeleteMod = 13L

  /** q133: deletion propagation audit — the right-to-be-forgotten /
    * takedown costing pass: given a delete list, what does removal
    * actually touch across the DERIVED artifacts a pipeline has already
    * built from the corpus? Reports, in one row: raw docs and tokens
    * deleted; q57 chunk rows purged (arithmetic — ceil(toks/chunk) per
    * deleted doc, no explode); q46 packed bins TOUCHED plus the surviving
    * docs/tokens in them (the collateral re-export bill — a bin with one
    * deleted doc must be rewritten whole); and the exact-dup group impact
    * (groups fully orphaned vs groups whose min-doc_id representative —
    * the identity q107/q130 key on — was deleted while members survive,
    * forcing re-representation). Production callers join a real id list;
    * the gate derives it as doc_id % [[DeleteMod]].
    *
    * Scale shape: text is touched once (md5 + token count in the scan);
    * group accounting runs on skinny (fp, id, longs) rows; bin accounting
    * reuses q46's two-phase packing (no global window) and folds
    * |bins|-row tables. Output is one row. */
  def deletionPropagation(s: SparkSession, dir: String): DataFrame = {
    val deleted = (col("doc_id") % DeleteMod === 0).cast(LongType)
    val f = Tables
      .documentsDistributed(s, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("fp"),
        size(split(col("text"), " +")).cast(LongType).as("toks")
      )
      .withColumn("del", deleted)
    val docAgg = f.agg(
      count(lit(1)).as("n_docs"),
      sum(col("del")).as("n_deleted"),
      sum(when(col("del") === 1L, col("toks")).otherwise(0L)).as("deleted_tokens"),
      sum(
        when(
          col("del") === 1L,
          call_function("div", col("toks") + lit(ChunkTokens - 1), lit(ChunkTokens))
        ).otherwise(0L)
      ).as("chunk_rows_purged")
    )
    val groups = f
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), sum(col("del")).as("nd"), min(col("doc_id")).as("rep"))
    val grpAgg = groups.agg(
      sum(when(col("nd") === col("n"), 1L).otherwise(0L)).as("groups_orphaned"),
      sum(
        when(col("nd") > 0 && col("nd") < col("n") && col("rep") % DeleteMod === 0, 1L)
          .otherwise(0L)
      ).as("groups_losing_rep")
    )
    val bins = sequencePacking(s, dir)
      .withColumn("del", deleted)
      .groupBy("lang", "bin_id")
      .agg(
        count(lit(1)).as("bn"),
        sum(col("del")).as("bd"),
        sum(when(col("del") === 0L, col("n_tokens")).otherwise(0L)).as("surv_toks")
      )
    val binAgg = bins.agg(
      count(lit(1)).as("bins_total"),
      sum(when(col("bd") > 0, 1L).otherwise(0L)).as("bins_touched"),
      sum(when(col("bd") > 0, col("bn") - col("bd")).otherwise(0L)).as("collateral_docs"),
      sum(when(col("bd") > 0, col("surv_toks")).otherwise(0L)).as("collateral_tokens")
    )
    docAgg.crossJoin(grpAgg).crossJoin(binAgg)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q132_curriculum_order" -> (curriculumOrder _),
    "q133_deletion_audit"   -> (deletionPropagation _),
    "q129_token_budget"     -> (tokenBudgetSelect _),
    "q130_split_leakage"    -> (splitLeakage _),
    "q127_k_anonymity"      -> (kAnonymityAudit _),
    "q125_rollup_maintenance" -> (rollupMaintenance _),
    "q121_dsir_selection"   -> (dsirSelection _),
    "q115_shard_drift"      -> (shardDrift _),
    "q102_packed_export"    -> (packedShardExport _),
    "q94_mix_allocation"    -> (mixAllocation _),
    "q68_clean_funnel"      -> (cleanFunnel _),
    "q69_source_mixing"     -> (sourceMixing _),
    "q80_snapshot_diff"     -> (snapshotDiff _),
    "q83_upsert_merge"      -> (upsertMerge _),
    "q86_domain_cap"        -> (domainCap _),
    "q88_global_ntile"      -> ((s, d) => globalNtile(s, d)),
    "q75_length_digest"     -> (lengthDigest _),
    "q49_length_quantile"   -> (lengthQuantileFilter _),
    "q56_shard_assign"      -> (shardAssign _),
    "q45_stratified_sample" -> (stratifiedSample _),
    "q117_weighted_sample"  -> (weightedSample _),
    "q46_sequence_packing"  -> ((s, d) => sequencePacking(s, d)),
    "q47_repetition_score"  -> (repetitionScore _),
    "q54_contamination"     -> (contaminationScreen _),
    "q55_training_order"    -> ((s, d) => trainingOrder(s, d)),
    "q57_doc_chunking"      -> (docChunking _)
  )

  val oracles: Map[String, String] = Map(
    "q132_curriculum_order" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS toks,
         |    CAST(len(list_distinct(regexp_split_to_array(text, ' +'))) AS BIGINT) AS dtoks
         |  FROM documents
         |),
         |e AS (SELECT doc_id, (dtoks * 1000000) // toks AS density FROM d),
         |r AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY density DESC, doc_id) - 1 AS drank
         |  FROM e
         |),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM d),
         |res AS (SELECT doc_id FROM r, n WHERE drank < (c * $AnnealPct) // 100),
         |m AS (
         |  SELECT doc_id, 'main' AS phase,
         |    CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
         |  FROM d
         |),
         |a AS (
         |  SELECT doc_id, 'anneal' AS phase,
         |    CAST((SELECT c FROM n)
         |      + row_number() OVER (ORDER BY md5('a:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
         |  FROM res
         |)
         |SELECT * FROM m UNION ALL SELECT * FROM a""".stripMargin,
    "q133_deletion_audit" ->
      s"""WITH f AS (
         |  SELECT doc_id, md5(text) AS fp,
         |    CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS toks,
         |    CASE WHEN doc_id % $DeleteMod = 0 THEN 1 ELSE 0 END AS del
         |  FROM documents
         |),
         |da AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(del) AS BIGINT) AS n_deleted,
         |    CAST(sum(CASE WHEN del = 1 THEN toks ELSE 0 END) AS BIGINT) AS deleted_tokens,
         |    CAST(sum(CASE WHEN del = 1 THEN (toks + ${ChunkTokens - 1}) // $ChunkTokens ELSE 0 END) AS BIGINT) AS chunk_rows_purged
         |  FROM f
         |),
         |g AS (SELECT fp, count(*) AS n, sum(del) AS nd, min(doc_id) AS rep FROM f GROUP BY 1),
         |ga AS (
         |  SELECT CAST(sum(CASE WHEN nd = n THEN 1 ELSE 0 END) AS BIGINT) AS groups_orphaned,
         |    CAST(sum(CASE WHEN nd > 0 AND nd < n AND rep % $DeleteMod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS groups_losing_rep
         |  FROM g
         |),
         |p AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(floor(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / $TokenBudget) AS BIGINT) AS bin_id
         |  FROM (
         |    SELECT doc_id, lang, CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n_tokens
         |    FROM documents
         |  )
         |),
         |b AS (
         |  SELECT lang, bin_id, count(*) AS bn,
         |    sum(CASE WHEN doc_id % $DeleteMod = 0 THEN 1 ELSE 0 END) AS bd,
         |    sum(CASE WHEN doc_id % $DeleteMod <> 0 THEN n_tokens ELSE 0 END) AS surv
         |  FROM p GROUP BY 1, 2
         |),
         |ba AS (
         |  SELECT count(*) AS bins_total,
         |    CAST(sum(CASE WHEN bd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS bins_touched,
         |    CAST(sum(CASE WHEN bd > 0 THEN bn - bd ELSE 0 END) AS BIGINT) AS collateral_docs,
         |    CAST(sum(CASE WHEN bd > 0 THEN surv ELSE 0 END) AS BIGINT) AS collateral_tokens
         |  FROM b
         |)
         |SELECT da.*, ga.*, ba.* FROM da, ga, ba""".stripMargin,
    "q129_token_budget" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS toks,
         |    CAST(len(list_distinct(regexp_split_to_array(text, ' +'))) AS BIGINT) AS dtoks
         |  FROM documents
         |),
         |e AS (SELECT *, (dtoks * 1000000) // toks AS density FROM d),
         |r AS (
         |  SELECT *, sum(toks) OVER (
         |    ORDER BY density DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM e
         |),
         |b AS (SELECT (sum(toks) * $BudgetPct) // 100 AS budget FROM d)
         |SELECT source,
         |  count(*) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS tokens,
         |  CAST(sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT) AS sel_docs,
         |  CAST(sum(CASE WHEN cum <= budget THEN toks ELSE 0 END) AS BIGINT) AS sel_tokens
         |FROM r, b GROUP BY 1""".stripMargin,
    "q130_split_leakage" -> {
      import graft.functions.Fingerprints
      s"""WITH f AS (
         |  SELECT doc_id, md5(text) AS fp,
         |    ${Fingerprints.fp8Sql("CAST(doc_id AS VARCHAR)")} % 10 AS nsplit
         |  FROM documents
         |),
         |g AS (
         |  SELECT fp, min(doc_id) AS rep, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT nsplit) AS BIGINT) AS nsplits
         |  FROM f GROUP BY 1
         |),
         |g2 AS (SELECT *, ${Fingerprints.fp8Sql("CAST(rep AS VARCHAR)")} % 10 AS gsplit FROM g),
         |d AS (SELECT f.doc_id, g2.fp, g2.gsplit FROM f JOIN g2 USING (fp)),
         |ga AS (
         |  SELECT count(*) AS n_groups,
         |    CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
         |    CAST(sum(CASE WHEN nsplits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS naive_leaked_groups,
         |    CAST(sum(CASE WHEN nsplits > 1 THEN n ELSE 0 END) AS BIGINT) AS naive_leaked_docs
         |  FROM g2
         |),
         |gl AS (
         |  SELECT CAST(sum(CASE WHEN gs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS group_leaked_groups
         |  FROM (SELECT fp, count(DISTINCT gsplit) AS gs FROM d GROUP BY 1)
         |),
         |da AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(CASE WHEN gsplit < 8 THEN 1 ELSE 0 END) AS BIGINT) AS train_docs,
         |    CAST(sum(CASE WHEN gsplit = 8 THEN 1 ELSE 0 END) AS BIGINT) AS val_docs,
         |    CAST(sum(CASE WHEN gsplit = 9 THEN 1 ELSE 0 END) AS BIGINT) AS test_docs
         |  FROM d
         |)
         |SELECT da.*, ga.*, gl.* FROM da, ga, gl""".stripMargin
    },
    "q127_k_anonymity" ->
      s"""WITH g AS (
         |  SELECT source, lang, n_chars // $AnonBand AS band, count(*) AS g
         |  FROM documents GROUP BY 1, 2, 3
         |)
         |SELECT CAST(sum(g) AS BIGINT) AS n_rows, count(*) AS n_groups,
         |  min(g) AS k_anonymity,
         |  CAST(sum(CASE WHEN g < $AnonK THEN 1 ELSE 0 END) AS BIGINT) AS small_groups,
         |  CAST(sum(CASE WHEN g < $AnonK THEN g ELSE 0 END) AS BIGINT) AS rows_at_risk,
         |  CAST(floor(CAST(sum(CASE WHEN g < $AnonK THEN g ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(g) AS DOUBLE) * 1e6) AS BIGINT) AS risk_ppm
         |FROM g""".stripMargin,
    "q125_rollup_maintenance" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(regexp_split_to_array(text, ' +'))) AS BIGINT) AS tokens,
         |  CAST(sum(${graft.functions.Fingerprints.fp8Sql("CAST(doc_id AS VARCHAR) || ':' || text")}) AS BIGINT) AS cfp,
         |  CAST(sum(CASE WHEN doc_id % $RollupDeltaMod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_added
         |FROM documents GROUP BY 1""".stripMargin,
    "q121_dsir_selection" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, doc_id % $DsirTargetMod = 0 AS is_target,
         |    regexp_split_to_array(text, ' +') AS toks
         |  FROM documents
         |),
         |u AS (
         |  SELECT doc_id, source, is_target, toks[i] AS feat
         |  FROM t, unnest(generate_series(1, len(toks))) AS g(i)
         |  UNION ALL
         |  SELECT doc_id, source, is_target, toks[i] || ' ' || toks[i + 1] AS feat
         |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
         |),
         |f AS (
         |  SELECT doc_id, source, is_target,
         |    ${graft.functions.Fingerprints.fp8Sql("'dsir:' || feat")} % $DsirBuckets AS b
         |  FROM u
         |),
         |m AS (
         |  SELECT b,
         |    sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
         |    sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
         |  FROM f GROUP BY 1
         |),
         |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM m),
         |lr AS (
         |  SELECT b, CAST(
         |      floor(ln((CAST(ct AS DOUBLE) + 0.5) / (CAST(nt AS DOUBLE) + ${0.5 * DsirBuckets})) * 1e6)
         |    - floor(ln((CAST(cr AS DOUBLE) + 0.5) / (CAST(nr AS DOUBLE) + ${0.5 * DsirBuckets})) * 1e6)
         |    AS BIGINT) AS lr_micro
         |  FROM m, tot
         |),
         |sc AS (
         |  SELECT doc_id, source, count(*) AS n_feats, sum(lr_micro) AS score_micro
         |  FROM f JOIN lr USING (b) WHERE NOT is_target GROUP BY 1, 2
         |)
         |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rnk,
         |  doc_id, source, CAST(n_feats AS BIGINT) AS n_feats, CAST(score_micro AS BIGINT) AS score_micro
         |FROM sc ORDER BY score_micro DESC, doc_id ASC LIMIT $DsirTopK""".stripMargin,
    "q115_shard_drift" ->
      s"""WITH pd AS (
         |  SELECT
         |    CAST('0x' || substr(md5('shard:42:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |      % $NumShards AS shard,
         |    doc_id % 13 <> 0 AS in1,
         |    doc_id % 17 <> 0 AS in2,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
         |      CASE WHEN doc_id % 7 = 0 THEN 'draft ' || text ELSE text END), 1, 8) AS BIGINT) AS fp1,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8) AS BIGINT) AS fp2,
         |    len(regexp_split_to_array(text, ' +')) AS n_tok
         |  FROM documents
         |),
         |a AS (
         |  SELECT shard,
         |    CAST(sum(CASE WHEN in1 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_v1,
         |    CAST(sum(CASE WHEN in2 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_v2,
         |    CAST(sum(CASE WHEN in2 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_v2,
         |    CAST(sum(CASE WHEN in1 THEN fp1 ELSE 0 END) AS BIGINT) AS cfp1,
         |    CAST(sum(CASE WHEN in2 THEN fp2 ELSE 0 END) AS BIGINT) AS cfp2
         |  FROM pd GROUP BY 1
         |)
         |SELECT shard, n_docs_v1, n_docs_v2, tokens_v2,
         |  CASE WHEN n_docs_v1 = 0 AND n_docs_v2 = 0 THEN 'empty'
         |       WHEN cfp1 = cfp2 THEN 'same' ELSE 'changed' END AS status,
         |  CAST(CASE WHEN cfp1 <> cfp2 THEN tokens_v2 ELSE 0 END AS BIGINT) AS retokenize_tokens
         |FROM a""".stripMargin,
    "q94_mix_allocation" ->
      s"""WITH t AS (
         |  SELECT source, CAST(sum(len(regexp_split_to_array(text, ' +'))) AS BIGINT) AS tokens
         |  FROM documents GROUP BY 1
         |),
         |w AS (
         |  SELECT source, tokens,
         |    CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_micro
         |  FROM t
         |),
         |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot_tokens, CAST(sum(w_micro) AS BIGINT) AS tot_w FROM w)
         |SELECT source, tokens, w_micro,
         |  round(CAST(w_micro AS DOUBLE) / tot_w, 6) AS share,
         |  CAST(floor(CAST(tot_tokens AS DOUBLE) * $MixBudgetFrac * w_micro / tot_w) AS BIGINT) AS target_tokens,
         |  round(CAST(floor(CAST(tot_tokens AS DOUBLE) * $MixBudgetFrac * w_micro / tot_w) AS DOUBLE) / tokens, 6)
         |    AS epochs
         |FROM w, tot""".stripMargin,
    "q75_length_digest" ->
      """SELECT lang, count(*) AS n_docs,
        |  quantile_disc(n_chars, 0.05) AS p05,
        |  quantile_disc(n_chars, 0.5) AS p50,
        |  quantile_disc(n_chars, 0.95) AS p95
        |FROM documents GROUP BY 1""".stripMargin,
    "q88_global_ntile" ->
      s"""SELECT doc_id,
         |  row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS global_idx,
         |  CAST(ntile($NtileK) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS tile
         |FROM documents""".stripMargin,
    "q86_domain_cap" ->
      s"""WITH sc AS (
         |  SELECT source, doc_id, (${TextAnalysis.qualityScoreSql}) AS score FROM documents
         |)
         |SELECT source, doc_id,
         |  CAST(floor(score * 1000000.0) AS BIGINT) AS score_micros, rk
         |FROM (
         |  SELECT source, doc_id, score,
         |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rk
         |  FROM sc
         |) WHERE rk <= $DomainCapK""".stripMargin,
    "q83_upsert_merge" ->
      """WITH base AS (
        |  SELECT doc_id, source AS src_b,
        |    CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS fp_b
        |  FROM documents
        |),
        |delta AS (
        |  SELECT doc_id, source AS src_d, 'U' AS op,
        |    CAST('0x' || substr(md5('rev2 ' || text), 1, 8) AS BIGINT) AS fp_d
        |  FROM documents WHERE doc_id % 9 = 0 AND doc_id % 23 <> 0
        |  UNION ALL
        |  SELECT doc_id, source, 'D', NULL FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL
        |  SELECT -(doc_id + 1), source, 'I',
        |    CAST('0x' || substr(md5('new ' || text), 1, 8) AS BIGINT)
        |  FROM documents WHERE doc_id % 9 = 4
        |),
        |m AS (
        |  SELECT COALESCE(src_b, src_d) AS source,
        |    CASE WHEN op IS NULL THEN 'kept'
        |         WHEN op = 'U' THEN 'updated'
        |         WHEN op = 'D' THEN 'deleted'
        |         ELSE 'inserted' END AS status,
        |    CASE WHEN op IS NULL THEN fp_b ELSE fp_d END AS fp
        |  FROM base FULL OUTER JOIN delta USING (doc_id)
        |)
        |SELECT source,
        |  CAST(sum(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN status = 'updated' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
        |  CAST(sum(CASE WHEN status = 'inserted' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
        |  CAST(sum(CASE WHEN status = 'deleted' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        |  CAST(sum(CASE WHEN status <> 'deleted' THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
        |  CAST(sum(CASE WHEN status <> 'deleted' THEN fp ELSE 0 END) AS BIGINT) AS content_checksum
        |FROM m GROUP BY source""".stripMargin,
    "q80_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, source,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN 'draft ' || text ELSE text END) AS fp1
        |  FROM documents WHERE doc_id % 13 <> 0
        |),
        |v2 AS (
        |  SELECT doc_id, source, md5(text) AS fp2
        |  FROM documents WHERE doc_id % 17 <> 0
        |),
        |j AS (
        |  SELECT COALESCE(v1.source, v2.source) AS source,
        |    CASE WHEN fp1 IS NULL THEN 'added'
        |         WHEN fp2 IS NULL THEN 'removed'
        |         WHEN fp1 <> fp2 THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |)
        |SELECT source,
        |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  count(*) AS n_total
        |FROM j GROUP BY source""".stripMargin,
    "q69_source_mixing" ->
      """WITH h AS (
        |  SELECT source,
        |    CAST('0x' || substr(md5('mix:42:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h,
        |    (CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT) % 4 + 1) AS w4
        |  FROM documents
        |)
        |SELECT source, count(*) AS n_total,
        |  CAST(sum(CASE WHEN h < w4 * 1073741824 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(min(w4) AS DOUBLE) / 4 AS weight
        |FROM h GROUP BY 1""".stripMargin,
    "q68_clean_funnel" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang, n_chars,
         |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
         |    ${TextAnalysis.qualityScoreSql} AS score,
         |    CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n_toks
         |  FROM documents
         |),
         |m AS (SELECT fp, min(doc_id) AS keep_id FROM s GROUP BY fp),
         |b AS (
         |  SELECT lang,
         |    round(quantile_cont(n_chars, 0.05), 6) AS lo,
         |    round(quantile_cont(n_chars, 0.95), 6) AS hi
         |  FROM documents GROUP BY lang
         |)
         |SELECT s.lang AS lang, count(*) AS n_total,
         |  CAST(sum(CASE WHEN s.doc_id = m.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_uniq,
         |  CAST(sum(CASE WHEN s.doc_id = m.keep_id AND s.score >= 0.5 AND s.n_toks >= 20
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN s.doc_id = m.keep_id AND s.score >= 0.5 AND s.n_toks >= 20
         |                 AND s.n_chars >= b.lo AND s.n_chars <= b.hi
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_final
         |FROM s JOIN m ON s.fp = m.fp JOIN b ON s.lang = b.lang
         |GROUP BY 1""".stripMargin,
    "q49_length_quantile" ->
      """WITH b AS (
        |  SELECT lang,
        |    round(quantile_cont(n_chars, 0.05), 6) AS lo,
        |    round(quantile_cont(n_chars, 0.95), 6) AS hi
        |  FROM documents GROUP BY lang
        |)
        |SELECT d.lang AS lang, b.lo AS lo, b.hi AS hi,
        |  count(*) AS n_kept,
        |  CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
        |FROM documents d JOIN b ON d.lang = b.lang
        |WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
        |GROUP BY 1, 2, 3""".stripMargin,
    "q56_shard_assign" ->
      s"""SELECT doc_id,
         |  CAST('0x' || substr(md5('shard:42:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h,
         |  CAST('0x' || substr(md5('shard:42:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % $NumShards AS shard
         |FROM documents""".stripMargin,
    "q45_stratified_sample" ->
      s"""SELECT doc_id, lang, n_chars, rk FROM (
         |  SELECT doc_id, lang, n_chars,
         |    row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents
         |) WHERE rk <= $SamplePerLang""".stripMargin,
    "q117_weighted_sample" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    least(len(regexp_split_to_array(text, ' +')), $WeightCap) AS wi,
         |    ${graft.functions.Fingerprints.fp8Sql("'wsamp:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents
         |),
         |p AS (
         |  SELECT source, doc_id, wi,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY CAST(wi AS DOUBLE) / CAST(h + 1 AS DOUBLE) DESC, doc_id DESC) AS rk
         |  FROM d
         |)
         |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, CAST(wi AS BIGINT) AS w
         |FROM p WHERE rk <= $WeightedSampleK""".stripMargin,
    "q102_packed_export" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, text, CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n_tokens
         |  FROM documents
         |),
         |b AS (
         |  SELECT doc_id, lang, text, n_tokens,
         |    CAST(floor(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / $TokenBudget) AS BIGINT) AS bin_id
         |  FROM d
         |)
         |SELECT lang, bin_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  md5(string_agg(text, ' ' ORDER BY doc_id)) AS content_md5
         |FROM b GROUP BY 1, 2""".stripMargin,
    "q46_sequence_packing" ->
      s"""SELECT doc_id, lang, n_tokens,
         |  CAST(floor(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / $TokenBudget) AS BIGINT) AS bin_id
         |FROM (
         |  SELECT doc_id, lang, CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n_tokens
         |  FROM documents
         |)""".stripMargin,
    "q54_contamination" ->
      s"""WITH ${Dedup.shinglesSql},
         |ev AS (SELECT DISTINCT unnest(shingles) AS gram FROM sh WHERE doc_id % $EvalMod = 0),
         |tr AS (SELECT doc_id, shingles FROM sh WHERE doc_id % $EvalMod <> 0 AND len(shingles) > 0),
         |m AS (
         |  SELECT t.doc_id, count(*) AS n_matched
         |  FROM (SELECT doc_id, unnest(shingles) AS gram FROM tr) t
         |  JOIN ev USING (gram)
         |  GROUP BY 1
         |)
         |SELECT tr.doc_id AS doc_id,
         |  CAST(len(tr.shingles) AS BIGINT) AS n_grams,
         |  CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
         |  round(CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / len(tr.shingles), 6) AS contamination,
         |  CAST(CASE WHEN round(CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / len(tr.shingles), 6)
         |              >= $ContaminationThreshold THEN 1 ELSE 0 END AS BIGINT) AS flagged
         |FROM tr LEFT JOIN m ON tr.doc_id = m.doc_id""".stripMargin,
    "q57_doc_chunking" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n_tokens
         |  FROM documents
         |),
         |c AS (SELECT *, (n_tokens + ${ChunkTokens - 1}) // $ChunkTokens AS n_chunks FROM d)
         |SELECT doc_id, lang, n_tokens,
         |  CAST(i AS BIGINT) AS chunk_idx,
         |  CAST(least($ChunkTokens, n_tokens - i * $ChunkTokens) AS BIGINT) AS chunk_tokens
         |FROM (
         |  SELECT doc_id, lang, n_tokens, unnest(generate_series(0, n_chunks - 1)) AS i
         |  FROM c WHERE n_chunks > 0
         |)""".stripMargin,
    "q55_training_order" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT)
        |    AS global_idx
        |FROM documents""".stripMargin,
    "q47_repetition_score" ->
      s"""WITH ${Dedup.shinglesSql},
         |r AS (
         |  SELECT d.lang,
         |    CASE WHEN greatest(len(regexp_split_to_array(d.text, ' +')) - 2, 0) > 0
         |      THEN round(1.0 - CAST(len(sh.shingles) AS DOUBLE)
         |             / greatest(len(regexp_split_to_array(d.text, ' +')) - 2, 0), 6)
         |      ELSE 0.0 END AS rep_ratio
         |  FROM documents d JOIN sh ON d.doc_id = sh.doc_id
         |)
         |SELECT lang, count(*) AS n_docs, ${sqlDsum("rep_ratio", 6)} AS sum_rep,
         |  max(rep_ratio) AS max_rep
         |FROM r GROUP BY lang""".stripMargin
  )
}
