package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{Eager, QueryModule, Tables}

/** Document deduplication family over `documents` — the operators a
  * training-data pipeline runs at 100 TB.
  *
  * Scale design:
  *  - Exact / canonical dedup: one hash-shuffle on a 32-char fingerprint,
  *    never on the full text (group key is md5, so shuffle rows are tiny and
  *    the text column is pruned before the exchange).
  *  - N-gram Jaccard: inverted-index self-join (shingle → doc) rather than a
  *    doc × doc cross join — O(sum df²) not O(n²). At real scale the MinHash
  *    banding variant (MinHashLsh) replaces the exact index; both are here.
  */
object Dedup extends QueryModule {

  /** Canonical form: lowercase, strip non-alphanumerics to single spaces. */
  def canonicalText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Exact dedup: group by content hash, keep the smallest doc_id. */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables
      .documentsDistributed(s, dir)
      .groupBy(md5(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Near-exact dedup on the canonical form (whitespace/punct/case folded). */
  def canonical(s: SparkSession, dir: String): DataFrame =
    Tables
      .documentsDistributed(s, dir)
      .groupBy(md5(canonicalText(col("text"))).as("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word-trigram shingles per document. Trigrams over bigrams is a
    * scale decision: document frequency per shingle drops ~|vocab|×, so the
    * inverted-index/LSH candidate volume (∝ Σ df²) collapses while
    * discrimination improves. Guards the <3-token case — `sequence(1, 0)`
    * would generate a descending range, not an empty one. */
  def shingles(text: Column): Column = graft.plans.TextHashExpressions.wordShingles(text)

  /** Row ceiling for [[ngramJaccard]] (override with the
    * `graft.invertedJaccard.maxRows` session conf): the inverted index is
    * O(Σ df²) — exact, but quadratic in per-shingle document frequency. */
  val JaccardDefaultMaxRows = 1000000L

  /** All-pairs word-bigram Jaccard ≥ 0.3 via inverted index:
    * explode shingles → self-join on shingle (id_a < id_b) → intersection
    * counts → join per-doc set sizes → Jaccard.
    *
    * TEST-SCALE ORACLE BASELINE — exact Jaccard over every co-shingled
    * pair, the ground truth that q33's banded MinHash approximates. Like
    * q37, it fails fast above a row ceiling instead of silently running a
    * Σ df² join on a corpus; q33 is the production path. */
  /** Shared inverted-index candidate machinery for [[ngramJaccard]] and
    * [[containment]]: per-pair shingle intersection counts with both set
    * sizes attached. O(Σ df²) by design (both consumers are row-ceiling
    * guarded test-scale baselines; q33 is the corpus-scale path). */
  private def shinglePairStats(s: SparkSession, dir: String, opName: String): DataFrame = {
    val maxRows =
      s.conf.getOption("graft.invertedJaccard.maxRows").map(_.toLong).getOrElse(JaccardDefaultMaxRows)
    val n = Tables.rowCountCached(s, dir, "documents") // guard scalar — cached corpus cardinality, not a per-action scan (r17)
    require(
      n <= maxRows,
      s"$opName is the O(sum df^2) test-scale baseline: corpus has $n docs > limit $maxRows. " +
        "Use minhashLsh (q33) at corpus scale, or raise graft.invertedJaccard.maxRows explicitly."
    )
    // consumed by the size table AND the inverted index — one shingle pass
    val sh = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), shingles(col("text")).as("shingles"))
      .transform(Eager.materialize(_, "dedup.shingles"))
    // cast: Spark's size() is INT but DuckDB counts are BIGINT — the driver
    // hash is dtype-sensitive, so n_a/n_b must ship as BIGINT
    val sz = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val a   = inv.select(col("doc_id").as("id_a"), col("sh"))
    val b   = inv.select(col("doc_id").as("id_b"), col("sh"))
    val inter = a
      .join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    val szA = sz.select(col("doc_id").as("id_a"), col("n_sh").as("n_a"))
    val szB = sz.select(col("doc_id").as("id_b"), col("n_sh").as("n_b"))
    inter.join(szA, Seq("id_a")).join(szB, Seq("id_b"))
  }

  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    shinglePairStats(s, dir, "ngramJaccard")
      .transform(FuzzyDedup.jaccard(col("n_a"), col("n_b")))
      .filter(col("jaccard") >= FuzzyDedup.JaccardThreshold)
      .select("id_a", "id_b", "inter", "union_n", "jaccard")

  /** Containment flag threshold for [[containment]]. */
  val ContainmentThreshold = 0.8

  /** Asymmetric shingle containment (q101) — |A∩B| / min(|A|, |B|), the
    * quote/subset detector. Jaccard resemblance (q32) is SYMMETRIC: a
    * short doc fully embedded in a long one (a quoted article inside a
    * wrapper page, boilerplate around syndicated content) scores
    * inter/union ≈ |A|/|B| → near zero, and q32's 0.3 filter drops
    * exactly the pairs a curation pass most wants to see. Containment
    * normalizes by the SMALLER set, so full embedding scores 1.0
    * regardless of the size skew. Same guarded inverted-index machinery
    * as q32 (the jaccard column is kept so the skew is visible per
    * pair); the REGISTERED scale path for this semantic is q105
    * ([[FuzzyDedup.containmentLsh]]): candidates from the occupancy-capped
    * banded-MinHash probe, containment verified on candidates only. */
  def containment(s: SparkSession, dir: String): DataFrame =
    shinglePairStats(s, dir, "containment")
      .withColumn("containment", round(col("inter") / least(col("n_a"), col("n_b")), 6))
      .withColumn("jaccard", round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("containment") >= ContainmentThreshold)
      .select("id_a", "id_b", "inter", "n_a", "n_b", "containment", "jaccard")

  /** Span width (tokens) for [[spanDedup]] — big enough that a duplicated
    * span means real shared phrasing, small enough that the gate corpus
    * (docs of ~30–100 tokens) yields several spans per doc. */
  val SpanTokens = 8

  /** md5 fingerprints of a document's non-overlapping [[SpanTokens]]-token
    * spans (trailing ragged span dropped — sub-width spans are too short to
    * mean anything). Narrow per-row, no shuffle; native codegen expression
    * (one tokenize + one md5 per span — see
    * [[graft.plans.SpanFingerprints]]); the interpreted HOF reference
    * formulation lives in the tests (`HofReference`), parity-pinned. */
  def spanFingerprints(text: Column): Column =
    graft.plans.TextHashExpressions.spanFingerprints(text, SpanTokens)

  /** Span-level exact dedup (q71): the sub-document complement of q30 —
    * boilerplate paragraphs (headers, footers, license blocks) duplicate
    * across documents that are NOT whole-document duplicates, and span-level
    * removal is how production pipelines (e.g. suffix-array dedup in
    * deduplicating-training-data setups) catch them. Here: fingerprint every
    * non-overlapping 8-token span, count corpus-wide occurrences, and report
    * the duplicated-span mass per language.
    *
    * Scale shape: span fingerprints are computed in one narrow pass and the
    * TEXT never shuffles — the exchanges carry (lang, fp) and (fp, count)
    * rows only. The fingerprint count aggregate partial-combines map-side,
    * so a boilerplate span occurring 10⁶ times arrives at its reducer as
    * one row per map partition, not 10⁶ rows. */
  def spanDedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), col("lang"), explode(spanFingerprints(col("text"))).as("fp"))
    val counts = e.groupBy("fp").agg(count(lit(1)).as("n"))
    e.join(counts, Seq("fp"))
      .groupBy("lang")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_spans"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_spans")
      )
      .withColumn("dup_frac", round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
  }

  /** Cross-source ownership attribution for exact span dedup (q116) — the
    * keep-first step [[spanDedup]] stops short of: q71 reports duplicated-
    * span MASS, this operator decides, for every duplicated span, which
    * occurrence is the canonical copy (the globally first: min
    * (doc_id, span_idx)) and charges every other occurrence to its source
    * as strip cost. The per-source report — spans it uniquely contributes,
    * canonical copies it owns, occurrences a strip pass would remove — is
    * the redundancy bill of materials a curation run publishes before
    * rewriting a corpus: exact dedup keeps exactly one copy of each span;
    * this is the accounting of who keeps it and who pays.
    *
    * Scale shape: one narrow text pass computes span fingerprints
    * (codegen'd, [[graft.plans.SpanFingerprints]]); every exchange after it
    * carries (fp, doc_id, span_idx, source) — 32-hex plus three scalars,
    * the text never shuffles. Ownership is min over struct(doc_id,
    * span_idx) — a partial-aggregating lexicographic min, no window and no
    * global sort — and the occurrence⋈stats join keys on fp, the same
    * hash-partitioning the aggregate just produced, so the exchange is
    * reused rather than repeated. DuckDB's min(ROW(…)) has the identical
    * lexicographic semantics, so the oracle mirrors the engine exactly. */
  def spanOwnership(s: SparkSession, dir: String): DataFrame = {
    val occ = Tables
      .documentsDistributed(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        posexplode(spanFingerprints(col("text"))).as(Seq("span_idx", "fp"))
      )
    val stats = occ
      .groupBy("fp")
      .agg(
        count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("span_idx"))).as("owner")
      )
    occ
      .join(stats, Seq("fp"))
      .withColumn(
        "is_owner",
        col("doc_id") === col("owner.doc_id") && col("span_idx") === col("owner.span_idx")
      )
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_spans"),
        sum(when(col("n_occ") === 1, 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("n_occ") > 1 && col("is_owner"), 1L).otherwise(0L)).as("n_owned"),
        sum(when(!col("is_owner"), 1L).otherwise(0L)).as("n_stripped")
      )
      .withColumn("tokens_stripped", col("n_stripped") * SpanTokens)
      .withColumn("strip_frac", round(col("n_stripped").cast(DoubleType) / col("n_spans"), 6))
  }

  /** q118: cross-document n-gram exposure — for each doc, the fraction of
    * its distinct trigram shingles that also occur in at least one OTHER
    * document (corpus document-frequency ≥ 2), as parts-per-million.
    *
    * This is the memorization-risk / syndication signal the dedup papers
    * curate on (Lee et al. 2022's duplicated-n-gram mass; RefinedWeb keeps
    * it as a per-doc quality column): q47's repetition score is WITHIN-doc,
    * q71/q116 count span copies corpus-wide but at 8-token span
    * granularity with no per-doc normalization — this is the per-doc
    * "how much of me exists elsewhere" number a curation filter thresholds
    * on. Docs with < 3 tokens have no trigrams and are excluded (they
    * carry no n-gram signal; the q42/q72 quality funnel owns them).
    *
    * Scale shape: the token stream is hashed BEFORE it moves — explode to
    * (doc_id, fp15(shingle)) longs, so both exchanges (df partial-agg on
    * fp, pairs⋈df join on fp) carry only skinny longs; shingle STRINGS
    * never leave their scan task. Two passes over the corpus (the pairs
    * stream feeds both the df aggregate and the join probe) — the
    * standard inverted-df shape; heavy-hitter shingles (site boilerplate)
    * skew the fp join, which AQE's skew split owns (pinned for the q78
    * shape). Exposure is exact integer arithmetic (ppm via long floor
    * division) — no cross-engine double drift. */
  def ngramExposure(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
      .select(col("doc_id"), graft.functions.Fingerprints.fp15(col("sh")).as("fp"))
    val dfreq = pairs.groupBy("fp").agg(count(lit(1)).as("df"))
    pairs
      .join(dfreq, Seq("fp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup")
      )
      .withColumn(
        "exposure_ppm",
        call_function("div", col("n_dup") * lit(1000000L), col("n_shingles"))
      )
  }

  /** Rolling-window width (tokens) for [[cdcChunks]]' boundary hash. */
  val CdcWindow = 4

  /** Boundary modulus for [[cdcChunks]] — the expected chunk length in
    * tokens (a boundary fires when the window hash ≡ 0 mod this). */
  val CdcMod = 32L

  /** q120: content-defined chunking (the rsync / LBFS / storage-dedup
    * algorithm): cut a document AFTER token i whenever the hash of the
    * [[CdcWindow]]-token window ending at i is ≡ 0 (mod [[CdcMod]]), then
    * account corpus-wide chunk-level duplication per source.
    *
    * Why content-defined beats fixed-width (q57) for dedup: boundaries
    * depend only on LOCAL token content, so inserting one sentence shifts
    * only the chunk containing the seam — every downstream chunk keeps its
    * exact fingerprint (pinned by the shift-robustness spec). Fixed-width
    * chunking re-aligns EVERYTHING after an insertion: near-identical docs
    * share zero chunk fingerprints. This is the chunking layer under
    * dedup-friendly training-data storage and incremental shard rebuild
    * (q115 decides WHICH shards re-export; CDC bounds how much content
    * within a re-export is actually new). Production CDC adds min/max
    * chunk bounds (a sequential-scan detail); the textbook mod-cut keeps
    * the operator one window pass.
    *
    * Scale shape: the cut is ENTIRELY map-side — linear array HOFs
    * (boundary positions via transform+filter over the token array, chunk
    * extraction via zip_with over adjacent cut positions), so raw tokens
    * never leave their scan task and there is NO per-doc sort, window, or
    * token-stream exchange (the naive formulation shuffles every token
    * for a (doc_id, pos) window pass — at 100 TB that shuffle IS the
    * corpus). Chunk text reduces to fp15 in the same projection; what
    * moves is the q118 two-pass df shape on skinny (fp, n_tok) rows. */
  /** The CDC cut itself: (doc_id, source, chunk_id, n_tok, fp) per chunk.
    * Exposed for the shift-robustness spec (the query aggregates it away). */
  def cdcChunkTable(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val n    = size(toks)
    // 0-based boundary positions: i >= W-1 where the W-token window
    // ending at i hashes to 0 mod CdcMod (W = CdcWindow; 0-based
    // i-W+1..i = 1-based slice(i-W+2, W))
    val bpos = filter(
      transform(
        sequence(lit(CdcWindow - 1), n - 1),
        i =>
          when(
            graft.functions.Fingerprints
              .fp8(concat(lit("cdc:"), concat_ws(" ", slice(toks, i - lit(CdcWindow - 2), lit(CdcWindow))))) %
              CdcMod === 0L,
            i
          ).otherwise(lit(-2))
      ),
      x => x >= 0
    )
    // cut list: sentinel -1 (first chunk starts at 0), boundaries, and the
    // last position unless it already IS a boundary (no empty tail chunk)
    val cuts = when(
      size(col("bpos")) > 0 && element_at(col("bpos"), -1) === n - 1,
      concat(array(lit(-1)), col("bpos"))
    ).otherwise(concat(array(lit(-1)), col("bpos"), array(n - 1)))
    // chunk (a, b] covers 0-based a+1..b = 1-based slice(a+2, b-a)
    val chunks = zip_with(
      slice(col("cuts"), lit(1), size(col("cuts")) - 1),
      slice(col("cuts"), lit(2), size(col("cuts")) - 1),
      (a, b) =>
        struct(
          (b - a).cast(LongType).as("n_tok"),
          graft.functions.Fingerprints
            .fp15(concat_ws(" ", slice(toks, a + lit(2), b - a)))
            .as("fp")
        )
    )
    Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " +").as("toks"))
      .withColumn("bpos", when(n < 4, array().cast("array<int>")).otherwise(bpos))
      .withColumn("cuts", cuts)
      .select(col("doc_id"), col("source"), posexplode(chunks).as(Seq("chunk_id", "c")))
      .select(
        col("doc_id"),
        col("source"),
        col("chunk_id").cast(LongType).as("chunk_id"),
        col("c.n_tok").as("n_tok"),
        col("c.fp").as("fp")
      )
  }

  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    val chunks = cdcChunkTable(s, dir).select("source", "n_tok", "fp")
    val dfreq  = chunks.groupBy("fp").agg(count(lit(1)).as("df"))
    chunks
      .join(dfreq, Seq("fp"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("df") >= 2, col("n_tok")).otherwise(lit(0L))).as("dup_tokens")
      )
  }

  /** Ingest-order bucket width (docs) for [[growthCurve]] — test-scale;
    * production sets it so the curve has O(10⁴) points. */
  val GrowthBucket = 50L

  /** Dedup saturation / content-growth curve (q104) — "is this source
    * still yielding new content?": bucket the corpus by ingest order
    * (doc_id) and report, per bucket, how many documents brought a
    * canonical fingerprint never seen in ANY earlier bucket. A flattening
    * cumulative curve (rising dup_rate) is the crawl-scheduling signal to
    * stop re-fetching a source.
    *
    * Exact and parallel despite the sequential-looking semantics: "first
    * time seen" is min(doc_id) per fingerprint — one partial agg on the
    * skinny fp table, no ordered scan — and the running total then lives
    * on the BUCKETS table (corpus/[[GrowthBucket]] rows), where a
    * single-task window is the right plan, not a bottleneck. */
  def growthCurve(s: SparkSession, dir: String): DataFrame = {
    val perBucket = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), md5(canonicalText(col("text"))).as("fp"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("first_id"))
      .groupBy(call_function("div", col("first_id"), lit(GrowthBucket)).as("bucket"))
      .agg(count(lit(1)).as("n_new_distinct"))
    val docsPerBucket = Tables
      .documentsDistributed(s, dir)
      .groupBy(call_function("div", col("doc_id"), lit(GrowthBucket)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docsPerBucket
      .join(perBucket, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), coalesce(col("n_new_distinct"), lit(0L)).as("n_new_distinct"))
      .withColumn("cum_distinct", sum(col("n_new_distinct")).over(w))
      .withColumn(
        "dup_rate",
        round((col("n_docs") - col("n_new_distinct")).cast("double") / col("n_docs"), 6)
      )
  }

  /** A span is boilerplate when it appears in ≥ this fraction of its
    * source's (span-bearing) documents — the CCNet/RefinedWeb-style
    * repeated-content rule, relative to the source so a 10⁶-doc crawl
    * domain and a 10³-doc one are judged by the same standard. */
  val BoilerDfFrac = 0.2

  /** Strip-side df fraction (q108) — lower than detection's
    * [[BoilerDfFrac]] by design; see [[boilerplateStrip]]. */
  val BoilerStripDfFrac = 0.05

  /** Per-source boilerplate detection (q93) — headers, footers, cookie
    * banners and nav text repeat across most pages OF THE SAME SOURCE,
    * which global span dedup (q71) under-weights: corpus-wide a banner in
    * 0.01% of all docs looks rare even when it is on 100% of its own
    * domain. This operator computes span document-frequency WITHIN each
    * source and flags spans with df ≥ max(2, [[BoilerDfFrac]]·n_docs);
    * the per-source report (distinct spans, boilerplate spans, doc-hits
    * mass) is what a curation pass uses to strip them.
    *
    * Scale shape: text never shuffles — the corpus pass explodes to
    * (doc_id, source, fp) fingerprints (span counted once per containing
    * doc via distinct), the df aggregate is partial on skinny rows, and
    * the per-source doc counts are a vocabulary-sized side table. The
    * df-fraction compare is one IEEE multiply, identical in DuckDB. */
  def boilerplate(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus pass (q81's discipline): the skinny distinct
    // (doc_id, source, fp) table is materialized so both consumers —
    // per-source doc counts and span document frequencies — read it
    // instead of re-exploding text
    val e = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), col("source"), explode(spanFingerprints(col("text"))).as("fp"))
      .distinct()
      .transform(Eager.materialize(_, "dedup.spans"))
    val nd = e.groupBy("source").agg(countDistinct(col("doc_id")).as("n_docs"))
    val df = e.groupBy("source", "fp").agg(count(lit(1)).as("df"))
    val isBoiler =
      col("df") >= 2L && col("df").cast("double") >= lit(BoilerDfFrac) * col("n_docs")
    df.join(nd, Seq("source"))
      .groupBy("source")
      .agg(
        min(col("n_docs")).as("n_docs"), // constant per source
        count(lit(1)).as("n_distinct_spans"),
        sum(when(isBoiler, 1L).otherwise(0L)).as("n_boiler_spans"),
        sum(when(isBoiler, col("df")).otherwise(0L)).as("boiler_doc_hits")
      )
      .withColumn(
        "boiler_frac",
        round(col("n_boiler_spans").cast("double") / col("n_distinct_spans"), 6)
      )
  }

  /** Boilerplate STRIP accounting (q108) — the apply step to q93's detect.
    * q93 reports which [[SpanTokens]]-token spans are per-source
    * boilerplate; this operator removes them and accounts for the token
    * mass a curation pass would reclaim. The spans are q93's own disjoint
    * tiles ([[spanFingerprints]]: positions 0..7, 8..15, …; the <8-token
    * tail always survives), so dropping a flagged span removes exactly
    * [[SpanTokens]] tokens and the strip applies EXACTLY the detection's
    * fp universe. A span is stripped under q93's rule SHAPE with its own
    * fraction: df ≥ max(2, [[BoilerStripDfFrac]]·n_docs), n_docs = ALL
    * docs of the source (short docs with no full span still dilute the
    * threshold; they are real members of the source). The strip fraction
    * (0.05) is deliberately lower than detection's 0.2: removal targets
    * any systematically repeated span, and the fixture corpus — which
    * plants near-dup GROUPS, not sitewide headers — only exercises the
    * df≥2 floor (a production caller tunes the fraction to its crawl).
    *
    * Scale shape: ONE corpus pass explodes text into the skinny
    * (doc_id, source, fp) occurrence stream + a per-doc token count;
    * text itself never shuffles. df is a partial aggregate over distinct
    * occurrences; the boilerplate set is per-source small and joins back
    * onto the fp stream as (source, fp) hashes — AQE turns it into a
    * broadcast when it is as tiny as real boilerplate sets are. Output is
    * |sources| rows. retained_ppm is floor-micros (IEEE multiply + floor,
    * bit-identical in DuckDB) — q42's determinism discipline. */
  def boilerplateStrip(s: SparkSession, dir: String): DataFrame = {
    // ONE text pass (q81/q93's discipline): per-doc token count + span
    // fingerprints materialized skinny, both consumers read this
    val base = Tables
      .documentsDistributed(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        size(split(col("text"), " +")).cast(LongType).as("n_tok"),
        spanFingerprints(col("text")).as("fps")
      )
      .transform(Eager.materialize(_, "dedup.spans"))
    val nd = base
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens_before"))
    val occ = base.select(col("doc_id"), col("source"), explode(col("fps")).as("fp"))
    val df = occ
      .distinct() // df counts a block once per containing doc
      .groupBy("source", "fp")
      .agg(count(lit(1)).as("df"))
    val boiler = df
      .join(nd.select(col("source"), col("n_docs")), Seq("source"))
      .filter(col("df") >= 2L && col("df").cast(DoubleType) >= lit(BoilerStripDfFrac) * col("n_docs"))
      .select("source", "fp")
    // every OCCURRENCE of a flagged block is removed (dup blocks in a doc
    // are each real text mass), so the removal count joins the raw stream
    val rem = occ
      .join(boiler, Seq("source", "fp"))
      .groupBy("source")
      .agg(
        (count(lit(1)) * SpanTokens).as("tokens_removed"),
        countDistinct(col("doc_id")).as("docs_touched")
      )
    nd.join(rem, Seq("source"), "left")
      .select(
        col("source"),
        col("n_docs"),
        col("tokens_before"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        coalesce(col("docs_touched"), lit(0L)).as("docs_touched"),
        floor(
          (col("tokens_before") - coalesce(col("tokens_removed"), lit(0L))).cast(DoubleType) /
            col("tokens_before").cast(DoubleType) * lit(1e6)
        ).cast(LongType).as("retained_ppm")
      )
  }

  /** URL canonical form: lowercase, strip scheme and leading www., drop the
    * query string and fragment entirely, strip trailing slashes. Dropping
    * the WHOLE query is the aggressive-dedup variant (tracking params like
    * utm_* dominate crawl URL noise); a caller that needs significant query
    * params keeps them upstream and passes a pre-stripped column. */
  def canonicalizeUrl(u: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(lower(u), "^https?://", ""), "^www\\.", ""), "[?#].*$", ""),
      "/+$",
      ""
    )

  /** URL-canonicalization dedup (q74): crawl pipelines dedupe by canonical
    * URL before touching content. The gate corpus has no URL column, so the
    * query derives a deterministic synthetic URL per doc (scheme/case/www/
    * query/trailing-slash variants, doc_id%40 page collisions) and dedupes
    * on [[canonicalizeUrl]] — the canonicalizer itself is the operator;
    * production callers apply it to their real URL column. One skinny
    * exchange on the canonical string. */
  def urlCanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val url = concat(
      lit("https://WWW."),
      col("source"),
      lit(".Example.com/Page"),
      (col("doc_id") % 40).cast("string"),
      when(col("doc_id") % 3 === 0, concat(lit("?utm_source=feed&id="), col("doc_id").cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit(""))
    )
    Tables
      .documents(s, dir)
      .select(col("doc_id"), url.as("url"))
      .groupBy(canonicalizeUrl(col("url")).as("canon"))
      .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("keep_id"))
  }

  /** HLL-sketch distinct-content rollup (q81) — the pre-aggregation
    * pattern a 100 TB corpus dashboard runs on: build a mergeable
    * DataSketches HLL per source over canonical fingerprints, then UNION
    * the per-source sketches into the global estimate WITHOUT rescanning
    * the corpus. That merge step is the point: per-shard sketches are
    * bytes, so cross-source (or cross-day) distinct counts come from
    * sketch algebra, not a second full pass — the same reason q14's HLL
    * exists, lifted to the rollup/cube shape.
    *
    * Oracle discipline (revised round 7): sketch estimates are not
    * DuckDB-reproducible, so NOTHING probabilistic rides a hash-checked
    * column. This full variant is the production artifact — exact counts
    * plus the raw HLL estimate as data — and the [[SketchTol]] tolerance
    * (HLL lgK=12 rsd ≈ 1.6%; 16% ≈ 10σ) is asserted in Round5OpsSpec on
    * the estimate column, where a tail draw fails a test instead of a
    * regenerated-data gate hash. The registered q81 projects the exact
    * columns only (see [[sketchRollup]]), making the gate deterministic. */
  def sketchRollupEst(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus pass: narrow md5 → distinct (source, fp), materialized
    // so BOTH consumers — per-source exact counts + sketches, and the
    // global exact count — read the vocabulary-sized table instead of
    // re-scanning text (without the checkpoint the
    // optimizer prunes each consumer into its own corpus scan; HLL is
    // duplicate-insensitive, so sketching distinct rows is identical to
    // sketching the corpus). Checkpoint blocks free with the DF reference,
    // unlike a session-lifetime cache.
    val sf = Tables
      .documentsDistributed(s, dir)
      .select(col("source"), md5(canonicalText(col("text"))).as("fp"))
      .distinct()
      .transform(Eager.materialize(_, "dedup.fingerprints"))
    val perSource = sf
      .groupBy("source")
      .agg(
        hll_sketch_agg(col("fp")).as("sk"),
        count(lit(1)).as("n_exact")
      )
    val sourceRows = perSource.select(
      col("source").as("scope"),
      col("n_exact"),
      hll_sketch_estimate(col("sk")).cast(DoubleType).as("est_distinct")
    )
    // global = sketch UNION of the per-source sketches (no corpus rescan);
    // the exact global distinct comes from the skinny distinct table, not
    // the text
    val globalExact = sf.agg(countDistinct(col("fp")).as("n_exact"))
    val globalRow = perSource
      .agg(hll_union_agg(col("sk")).as("sk"))
      .crossJoin(globalExact)
      .select(
        lit("__all__").as("scope"),
        col("n_exact"),
        hll_sketch_estimate(col("sk")).cast(DoubleType).as("est_distinct")
      )
    sourceRows.unionByName(globalRow)
  }

  /** Spec-asserted tolerance for [[sketchRollupEst]]'s estimate column:
    * HLL lgK=12 rsd ≈ 1.6%, so 16% ≈ 10σ — loud on a broken sketch
    * (orders of magnitude off), unreachable by an honest tail draw. */
  val SketchTol = 0.16

  /** Registered q81: the deterministic projection of [[sketchRollupEst]].
    * Exact columns only — the estimate is exercised and tolerance-asserted
    * in the spec, never hash-checked against regenerated gate data. */
  def sketchRollup(s: SparkSession, dir: String): DataFrame =
    sketchRollupEst(s, dir).select(col("scope"), col("n_exact"))

  /** Spec-asserted tolerance for [[sourceOverlapEst]]'s intersection
    * estimate: it composes THREE lgK=12 sketches (|A∩B| = |A|+|B|−|A∪B|),
    * each rsd ≈1.6%, so its std vs the union size is ≤ 1.6%·√3 ≈ 2.8%.
    * 25% ≈ 9σ — loud on a broken sketch, unreachable by an honest tail
    * draw. Asserted in Round5OpsSpec, never hash-checked (round-7
    * discipline: nothing probabilistic in gate columns). */
  val OverlapTol = 0.25

  /** Cross-source overlap matrix via sketch intersection (q90) — the
    * second half of q81's sketch algebra. "How much of src_a is also in
    * src_b?" drives crawl-source triage (drop a source that is 90%
    * contained in another) and contamination budgeting. Exact answer needs
    * a fp self-join per pair; the sketch answer needs NO corpus access at
    * all: per-source HLLs (bytes, built in q81's single pass) compose via
    * inclusion–exclusion, |A∩B| = |A|+|B| − |A∪B|, where |A∪B| comes from
    * a scalar `hll_union` of the two sketches. The |sources|² pair matrix
    * is sketch-sized work — independent of corpus size — which is why
    * every 100 TB dashboard computes overlap this way.
    *
    * Oracle discipline (revised round 7, as q81): estimates are not
    * DuckDB-reproducible, so this full variant emits the raw `est_inter`
    * as data next to the EXACT per-pair counts (from the skinny distinct
    * (source, fp) table — vocabulary-sized, text never shuffles); the
    * |est_inter − n_inter| ≤ [[OverlapTol]] · n_union assertion lives in
    * Round5OpsSpec. The registered q90 projects the exact columns only
    * (see [[sourceOverlap]]) so the gate hash is deterministic. */
  def sourceOverlapEst(s: SparkSession, dir: String): DataFrame = {
    // one corpus pass → skinny distinct (source, fp), two consumers
    // (per-source sketches+counts, exact pair intersections)
    val sf = Tables
      .documentsDistributed(s, dir)
      .select(col("source"), md5(canonicalText(col("text"))).as("fp"))
      .distinct()
      .transform(Eager.materialize(_, "dedup.fingerprints"))
    val per = sf
      .groupBy("source")
      .agg(hll_sketch_agg(col("fp")).as("sk"), count(lit(1)).as("n"))
    val exactInter = sf
      .as("a")
      .join(sf.as("b"), col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    val estUnion = hll_sketch_estimate(hll_union(col("x.sk"), col("y.sk")))
    val pairs = per
      .as("x")
      .join(per.as("y"), col("x.source") < col("y.source"))
      .select(
        col("x.source").as("src_a"),
        col("y.source").as("src_b"),
        col("x.n").as("n_a"),
        col("y.n").as("n_b"),
        (hll_sketch_estimate(col("x.sk")) + hll_sketch_estimate(col("y.sk")) - estUnion).as("est_inter")
      )
    pairs
      .join(exactInter, Seq("src_a", "src_b"), "left")
      .select(
        col("src_a"),
        col("src_b"),
        col("n_a"),
        col("n_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        col("est_inter").cast(DoubleType).as("est_inter")
      )
  }

  /** Registered q90: the deterministic projection of [[sourceOverlapEst]]
    * — exact pair counts only; the estimate is tolerance-asserted in the
    * spec, never hash-checked against regenerated gate data. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlapEst(s, dir).select(
      col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_inter"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_dedup_exact"     -> (exact _),
    "q31_dedup_canonical" -> (canonical _),
    "q32_dedup_jaccard"   -> (ngramJaccard _),
    "q71_span_dedup"      -> (spanDedup _),
    "q74_url_canonical"   -> (urlCanonicalDedup _),
    "q81_sketch_rollup"   -> (sketchRollup _),
    "q90_source_overlap"  -> (sourceOverlap _),
    "q93_boilerplate"     -> (boilerplate _),
    "q101_containment"    -> (containment _),
    "q104_growth_curve"   -> (growthCurve _),
    "q108_boiler_strip"   -> (boilerplateStrip _),
    "q116_span_ownership" -> (spanOwnership _),
    "q118_ngram_exposure" -> (ngramExposure _),
    "q120_cdc_chunks"     -> (cdcChunks _)
  )

  /** DuckDB rendering of [[shingles]] — shared by the Jaccard and MinHash
    * oracles. */
  val shinglesSql: String =
    """sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
      |         ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
      |                                           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
      |    END AS shingles
      |  FROM (SELECT doc_id, regexp_split_to_array(text, ' +') AS t FROM documents)
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q30_dedup_exact" ->
      """SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q31_dedup_canonical" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q71_span_dedup" ->
      s"""WITH sp AS (
         |  SELECT doc_id, lang,
         |    list_transform(generate_series(0, CAST(len(t) // $SpanTokens AS BIGINT) - 1),
         |                   j -> md5(array_to_string(t[j*$SpanTokens+1 : j*$SpanTokens+$SpanTokens], ' '))) AS fps
         |  FROM (SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS t FROM documents)
         |),
         |e AS (SELECT doc_id, lang, unnest(fps) AS fp FROM sp WHERE len(fps) > 0),
         |c AS (SELECT fp, count(*) AS n FROM e GROUP BY 1)
         |SELECT e.lang AS lang, count(DISTINCT e.doc_id) AS n_docs,
         |  count(*) AS n_spans,
         |  CAST(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  round(CAST(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_frac
         |FROM e JOIN c ON e.fp = c.fp GROUP BY 1""".stripMargin,
    "q120_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id, source, regexp_split_to_array(text, ' +') AS toks FROM documents),
         |p AS (
         |  SELECT doc_id, source, i - 1 AS pos, toks[i] AS token
         |  FROM t, unnest(generate_series(1, len(toks))) AS g(i)
         |),
         |f AS (
         |  SELECT doc_id, source, pos, token,
         |    CASE WHEN pos >= ${CdcWindow - 1} AND
         |      ${graft.functions.Fingerprints.fp8Sql(
            "'cdc:' || " + (CdcWindow - 1 to 1 by -1).map(k => s"lag(token, $k) OVER w || ' ' || ").mkString + "token"
          )} % $CdcMod = 0
         |    THEN 1 ELSE 0 END AS flag
         |  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
         |),
         |c AS (
         |  SELECT doc_id, source, pos, token,
         |    COALESCE(sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
         |  FROM f
         |),
         |ch AS (
         |  SELECT doc_id, source, chunk_id, count(*) AS n_tok,
         |    ${graft.functions.Fingerprints.fp15Sql("string_agg(token, ' ' ORDER BY pos)")} AS fp
         |  FROM c GROUP BY 1, 2, 3
         |),
         |dfq AS (SELECT fp, count(*) AS df FROM ch GROUP BY 1)
         |SELECT ch.source AS source, count(*) AS n_chunks,
         |  CAST(sum(ch.n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  CAST(sum(CASE WHEN dfq.df >= 2 THEN ch.n_tok ELSE 0 END) AS BIGINT) AS dup_tokens
         |FROM ch JOIN dfq ON ch.fp = dfq.fp
         |GROUP BY 1""".stripMargin,
    "q118_ngram_exposure" ->
      s"""WITH $shinglesSql,
         |p AS (
         |  SELECT doc_id, ${graft.functions.Fingerprints.fp15Sql("s")} AS fp
         |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
         |),
         |dfreq AS (SELECT fp, count(*) AS df FROM p GROUP BY 1),
         |e AS (
         |  SELECT p.doc_id, count(*) AS n_shingles,
         |    CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM p JOIN dfreq d ON p.fp = d.fp GROUP BY 1
         |)
         |SELECT doc_id, n_shingles, n_dup,
         |  (n_dup * 1000000) // n_shingles AS exposure_ppm
         |FROM e""".stripMargin,
    "q116_span_ownership" ->
      s"""WITH sp AS (
         |  SELECT doc_id, source,
         |    list_transform(generate_series(0, CAST(len(t) // $SpanTokens AS BIGINT) - 1),
         |                   j -> md5(array_to_string(t[j*$SpanTokens+1 : j*$SpanTokens+$SpanTokens], ' '))) AS fps
         |  FROM (SELECT doc_id, source, regexp_split_to_array(text, ' +') AS t FROM documents)
         |),
         |e AS (SELECT doc_id, source, unnest(fps) AS fp,
         |             generate_subscripts(fps, 1) - 1 AS span_idx
         |      FROM sp WHERE len(fps) > 0),
         |c AS (SELECT fp, count(*) AS n_occ, min(ROW(doc_id, span_idx)) AS owner FROM e GROUP BY 1)
         |SELECT e.source AS source,
         |  count(DISTINCT e.doc_id) AS n_docs,
         |  count(*) AS n_spans,
         |  CAST(sum(CASE WHEN c.n_occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST(sum(CASE WHEN c.n_occ > 1 AND ROW(e.doc_id, e.span_idx) = c.owner THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_owned,
         |  CAST(sum(CASE WHEN ROW(e.doc_id, e.span_idx) <> c.owner THEN 1 ELSE 0 END) AS BIGINT) AS n_stripped,
         |  CAST(sum(CASE WHEN ROW(e.doc_id, e.span_idx) <> c.owner THEN 1 ELSE 0 END) AS BIGINT) * $SpanTokens
         |    AS tokens_stripped,
         |  round(CAST(sum(CASE WHEN ROW(e.doc_id, e.span_idx) <> c.owner THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         |    AS strip_frac
         |FROM e JOIN c ON e.fp = c.fp
         |GROUP BY 1""".stripMargin,
    "q74_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://WWW.' || source || '.Example.com/Page' || CAST(doc_id % 40 AS VARCHAR)
        |      || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END AS url
        |  FROM documents
        |)
        |SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    lower(url), '^https?://', ''), '^www\.', ''), '[?#].*$', ''), '/+$', '') AS canon,
        |  count(*) AS n_urls, min(doc_id) AS keep_id
        |FROM u GROUP BY 1""".stripMargin,
    "q104_growth_curve" ->
      s"""WITH fp AS (
         |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
         |  FROM documents
         |),
         |firsts AS (SELECT fp, min(doc_id) AS first_id FROM fp GROUP BY 1),
         |nb AS (SELECT first_id // $GrowthBucket AS bucket, CAST(count(*) AS BIGINT) AS n_new_distinct
         |       FROM firsts GROUP BY 1),
         |db AS (SELECT doc_id // $GrowthBucket AS bucket, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM fp GROUP BY 1)
         |SELECT db.bucket AS bucket, db.n_docs AS n_docs,
         |  COALESCE(nb.n_new_distinct, 0) AS n_new_distinct,
         |  CAST(sum(COALESCE(nb.n_new_distinct, 0))
         |    OVER (ORDER BY db.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct,
         |  round(CAST(db.n_docs - COALESCE(nb.n_new_distinct, 0) AS DOUBLE) / db.n_docs, 6) AS dup_rate
         |FROM db LEFT JOIN nb ON db.bucket = nb.bucket""".stripMargin,
    "q101_containment" ->
      s"""WITH $shinglesSql,
         |sz AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
         |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
         |  CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
         |  round(inter / least(sa.n_sh, sb.n_sh), 6) AS containment,
         |  round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
         |FROM inter JOIN sz sa ON inter.id_a = sa.doc_id
         |           JOIN sz sb ON inter.id_b = sb.doc_id
         |WHERE round(inter / least(sa.n_sh, sb.n_sh), 6) >= $ContainmentThreshold""".stripMargin,
    "q108_boiler_strip" ->
      s"""WITH sp AS (
         |  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tok,
         |    list_transform(generate_series(0, CAST(len(t) // $SpanTokens AS BIGINT) - 1),
         |                   j -> md5(array_to_string(t[j*$SpanTokens+1 : j*$SpanTokens+$SpanTokens], ' '))) AS fps
         |  FROM (SELECT doc_id, source, regexp_split_to_array(text, ' +') AS t FROM documents)
         |),
         |nd AS (SELECT source, count(*) AS n_docs, sum(n_tok) AS tokens_before FROM sp GROUP BY 1),
         |occ AS (SELECT doc_id, source, unnest(fps) AS fp FROM sp WHERE len(fps) > 0),
         |df AS (SELECT source, fp, count(DISTINCT doc_id) AS df FROM occ GROUP BY 1, 2),
         |boiler AS (
         |  SELECT df.source, df.fp FROM df JOIN nd ON df.source = nd.source
         |  WHERE df.df >= 2 AND CAST(df.df AS DOUBLE) >= $BoilerStripDfFrac * nd.n_docs
         |),
         |rem AS (
         |  SELECT o.source, count(*) * $SpanTokens AS tokens_removed,
         |         count(DISTINCT o.doc_id) AS docs_touched
         |  FROM occ o JOIN boiler b ON o.source = b.source AND o.fp = b.fp
         |  GROUP BY 1
         |)
         |SELECT nd.source AS source,
         |  CAST(nd.n_docs AS BIGINT) AS n_docs,
         |  CAST(nd.tokens_before AS BIGINT) AS tokens_before,
         |  CAST(COALESCE(rem.tokens_removed, 0) AS BIGINT) AS tokens_removed,
         |  CAST(COALESCE(rem.docs_touched, 0) AS BIGINT) AS docs_touched,
         |  CAST(floor(CAST(nd.tokens_before - COALESCE(rem.tokens_removed, 0) AS DOUBLE)
         |             / CAST(nd.tokens_before AS DOUBLE) * 1e6) AS BIGINT) AS retained_ppm
         |FROM nd LEFT JOIN rem ON nd.source = rem.source""".stripMargin,
    "q93_boilerplate" ->
      s"""WITH sp AS (
         |  SELECT doc_id, source,
         |    list_transform(generate_series(0, CAST(len(t) // $SpanTokens AS BIGINT) - 1),
         |                   j -> md5(array_to_string(t[j*$SpanTokens+1 : j*$SpanTokens+$SpanTokens], ' '))) AS fps
         |  FROM (SELECT doc_id, source, regexp_split_to_array(text, ' +') AS t FROM documents)
         |),
         |e AS (SELECT DISTINCT doc_id, source, fp FROM
         |        (SELECT doc_id, source, unnest(fps) AS fp FROM sp WHERE len(fps) > 0)),
         |nd AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM e GROUP BY 1),
         |df AS (SELECT source, fp, count(*) AS df FROM e GROUP BY 1, 2)
         |SELECT df.source AS source,
         |  CAST(min(nd.n_docs) AS BIGINT) AS n_docs,
         |  count(*) AS n_distinct_spans,
         |  CAST(sum(CASE WHEN df.df >= 2 AND CAST(df.df AS DOUBLE) >= $BoilerDfFrac * nd.n_docs
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_spans,
         |  CAST(sum(CASE WHEN df.df >= 2 AND CAST(df.df AS DOUBLE) >= $BoilerDfFrac * nd.n_docs
         |           THEN df.df ELSE 0 END) AS BIGINT) AS boiler_doc_hits,
         |  round(CAST(sum(CASE WHEN df.df >= 2 AND CAST(df.df AS DOUBLE) >= $BoilerDfFrac * nd.n_docs
         |             THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS boiler_frac
         |FROM df JOIN nd ON df.source = nd.source
         |GROUP BY 1""".stripMargin,
    "q90_source_overlap" ->
      """WITH fp AS (
        |  SELECT DISTINCT source, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM documents
        |),
        |c AS (SELECT source, count(*) AS n FROM fp GROUP BY 1),
        |i AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT ca.source AS src_a, cb.source AS src_b,
        |  CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
        |  CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter
        |FROM c ca JOIN c cb ON ca.source < cb.source
        |LEFT JOIN i ON i.src_a = ca.source AND i.src_b = cb.source""".stripMargin,
    "q81_sketch_rollup" ->
      """WITH fp AS (
        |  SELECT source, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM documents
        |)
        |SELECT source AS scope, count(DISTINCT fp) AS n_exact
        |FROM fp GROUP BY source
        |UNION ALL
        |SELECT '__all__' AS scope, count(DISTINCT fp) AS n_exact
        |FROM fp""".stripMargin,
    "q32_dedup_jaccard" ->
      s"""WITH $shinglesSql,
         |sz AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
         |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, inter, (sa.n_sh + sb.n_sh - inter) AS union_n,
         |  round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
         |FROM inter
         |JOIN sz sa ON inter.id_a = sa.doc_id
         |JOIN sz sb ON inter.id_b = sb.doc_id
         |WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.3""".stripMargin
  )
}
