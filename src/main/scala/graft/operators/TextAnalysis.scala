package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Eager, QueryModule, Tables}

/** Text-analysis operators over `documents`: token statistics, heuristic
  * language ID, quality scoring, and tokenizer comparisons — all per-row
  * narrow transforms (no shuffle until the final aggregate), so they stream
  * through whole-stage codegen at any scale.
  */
object TextAnalysis extends QueryModule {

  def tokens(c: Column): Column = split(c, " +")

  /** Stopword profiles for the n-gram/stopword-overlap language heuristic.
    * Deterministic tie-break: first language in alphabetical order wins. */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "de", "est")
  )

  private def overlap(toks: Column, words: Seq[String]): Column =
    size(filter(array_distinct(toks), x => x.isin(words.map(w => w: Any): _*)))

  /** Per-language corpus statistics with exact arithmetic. */
  def stats(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("lang"),
        col("source"),
        col("n_chars"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens")
      )
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("source")).as("n_sources"),
        (sum(col("n_tokens")).cast(DoubleType) / count(lit(1))).as("avg_tokens")
      )

  /** Heuristic language ID: stopword-profile overlap, argmax with a fixed
    * alphabetical tie-break; confusion counts against the labeled lang. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val toks   = tokens(col("text"))
    // documentsDistributed: 4 stopword-profile overlaps per doc are CPU-bound
    // (measured 18 s serialized on a single split at 50k docs)
    val scored = Tables
      .documentsDistributed(s, dir)
      .select(
        Seq(col("doc_id"), col("lang")) ++
          StopwordProfiles.map { case (l, ws) => overlap(toks, ws).as(s"s_$l") }: _*
      )
    val Seq(de, en, es, fr) = Seq("s_de", "s_en", "s_es", "s_fr").map(col)
    val predicted = when(de >= en && de >= es && de >= fr, lit("de"))
      .when(en >= es && en >= fr, lit("en"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
    scored
      .withColumn("predicted", predicted)
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Quality scoring: composite of length, stopword, and alphabetic ratios;
    * keep/drop classification aggregated per lang.
    *
    * `sum_score` sums floor(score·10⁶) as LONGs, then divides once at the
    * end — multiply and floor are single IEEE-754 ops, bit-identical in
    * every engine. The decimal-cast sum pattern (`Num.dsum`) is NOT safe
    * here: the score is an arbitrary-precision double, and Spark's
    * double→decimal cast (shortest-string BigDecimal) vs DuckDB's
    * (multiply-and-round) can disagree by one 6th-decimal ulp on
    * adversarial values — one such row exists in the sf0.1 corpus. */
  /** Per-document quality score column — shared by q42 and the q68 funnel.
    * Same IEEE op sequence as [[qualityScoreSql]], so unrounded threshold
    * comparisons agree across engines. */
  def qualityScore(textCol: Column, nCharsCol: Column): Column = {
    val toks   = tokens(textCol)
    val nTok   = size(toks).cast(DoubleType)
    val nStop  = overlap(toks, StopwordProfiles.flatMap(_._2).distinct).cast(DoubleType)
    val nAlpha = length(regexp_replace(textCol, "[^a-zA-Z]", "")).cast(DoubleType)
    val lenScore   = least(nTok / lit(100.0), lit(1.0))
    val stopRatio  = nStop / greatest(nTok, lit(1.0))
    val alphaRatio = nAlpha / greatest(nCharsCol.cast(DoubleType), lit(1.0))
    lit(0.4) * lenScore + lit(0.3) * stopRatio + lit(0.3) * alphaRatio
  }

  /** DuckDB rendering of [[qualityScore]] over a row with `text`/`n_chars`. */
  lazy val qualityScoreSql: String = {
    val t        = "regexp_split_to_array(text, ' +')"
    val allStops = StopwordProfiles.flatMap(_._2).distinct
    s"""0.4 * least(CAST(len($t) AS DOUBLE) / 100.0, 1.0)
       | + 0.3 * (CAST(${overlapSql(t, allStops)} AS DOUBLE)
       |          / greatest(CAST(len($t) AS DOUBLE), 1.0))
       | + 0.3 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
       |          / greatest(CAST(n_chars AS DOUBLE), 1.0))""".stripMargin.linesIterator.mkString(" ")
  }

  def quality(s: SparkSession, dir: String): DataFrame = {
    val toks  = tokens(col("text"))
    val score = qualityScore(col("text"), col("n_chars"))
    Tables
      .documents(s, dir)
      .withColumn("score", score)
      .withColumn("keep", score >= lit(0.5) && size(toks) >= 20)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        (sum(floor(col("score") * lit(1e6)).cast(LongType)).cast(DoubleType) / lit(1e6)).as("sum_score")
      )
  }

  /** Token counting: whitespace tokenizer vs a BPE-ish regex tokenizer
    * (letter runs / digit runs / single other non-space chars). */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("source"),
        size(tokens(col("text"))).cast(LongType).as("ws"),
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")).cast(LongType).as("bpe")
      )
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens")
      )

  /** Hashed linear quality classifier (q110) — fasttext-style model
    * inference as a pure expression. Production curation scores every doc
    * with a linear classifier over hashed unigram+bigram features; the
    * defining scale property is that the model needs NO weight table at
    * the executor — the feature hash IS the weight index. Here the weight
    * vector is itself hash-derived (w(f) = fp8(f) mod 17 − 8 ∈ [−8, 8], a
    * stand-in for trained weights with the same execution shape), so the
    * per-doc logit Σw(f) is exact integer arithmetic, reproducible in
    * DuckDB bit-for-bit — no sigmoid needed for the keep decision (σ(x) >
    * ½ ⇔ x > 0).
    *
    * Scale shape: the logit folds per-row inside `aggregate()` over the
    * feature array — ZERO joins, zero explode, no per-token rows ever
    * exist off-core; the only exchange is the |sources|-row final
    * aggregate. This is the cheapest possible plan for model scoring: one
    * codegen'd corpus pass. */
  def hashedClassifier(s: SparkSession, dir: String): DataFrame = {
    // Native one-pass expression (r18, guide §4): the previous HOF
    // formulation — aggregate over concat(tokens, bigrams) with an fp8
    // lambda — is CodegenFallback (all higher-order functions are), so the
    // per-row scoring ran INTERPRETED, re-evaluating the split via
    // element_at/size subtrees per bigram. HashedLogit is one static call
    // per row inside the WholeStageCodegen span: one tokenize, one md5 per
    // feature. Bit-identical semantics (ExpressionParitySpec pins the
    // native column against the builtin chain; the q110 oracle replays the
    // same md5 arithmetic in DuckDB).
    val logit = graft.plans.TextHashExpressions.hashedLogit(col("text"))
    // documentsDistributed, not documents: the logit fold is pure CPU per
    // row, and the single-file gate fixture otherwise serializes the whole
    // corpus pass onto one core (invisible until the round-7 bench fix —
    // the old count() path pruned the projection and measured the scan)
    Tables
      .documentsDistributed(s, dir)
      .select(col("source"), logit.as("logit"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("logit") > 0, 1L).otherwise(0L)).as("n_kept"),
        sum(col("logit")).as("sum_logit"),
        min(col("logit")).as("min_logit"),
        max(col("logit")).as("max_logit")
      )
  }

  /** TF-IDF top-5 terms per language: tf = term count within the lang,
    * idf = ln(N_docs / df) over the whole corpus. Deterministic ranking via
    * (rounded score desc, token asc), materialized by the bounded-heap
    * [[graft.plans.TopKAggregate]] — each map partition contributes ≤ 5 rows
    * per language before the exchange and nothing is sorted, where a
    * `row_number` window (even with WindowGroupLimit) still sorts every map
    * partition by (lang, tfidf, token) first. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " +")).as("token"))
    val tf     = tok.groupBy("lang", "token").agg(count(lit(1)).as("tf"))
    val dfDocs = tok.groupBy("token").agg(countDistinct(col("doc_id")).as("df_docs"))
    val nDocs  = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dfDocs, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs").cast("double") / col("df_docs")), 6))
    scored
      .groupBy("lang")
      .agg(
        graft.plans.TopKAggregate
          .topK(
            struct(col("tfidf"), col("token"), col("tf"), col("df_docs")),
            5,
            reversed = Seq(false, true) // tfidf DESC, token ASC
          )
          .as("top")
      )
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("lang"),
        col("t.token").as("token"),
        col("t.tf").as("tf"),
        col("t.df_docs").as("df_docs"),
        col("t.tfidf").as("tfidf"),
        (col("pos") + 1).cast(LongType).as("rnk")
      )
  }

  /** Vocabulary size for the unigram LM (q59). */
  val LmVocab = 256

  /** Unigram-LM quality score (q59) — the CCNet-style LM filter: score each
    * document by the average log-probability of its tokens under a unigram
    * model fitted on the corpus itself (OOV tokens get a 0.5-count floor).
    * Low scores flag gibberish/rare-token text; high scores flag
    * boilerplate.
    *
    * Scale shape: the model is the global top-[[LmVocab]] token table — one
    * partial count aggregate + the bounded-heap top-k, then a ~V-row
    * BROADCAST onto the token stream; the only corpus-sized exchange is the
    * skinny (doc_id, long) score aggregate. Determinism: per-token
    * log-probs are floored to integer micros before summing (IEEE multiply
    * + floor, identical everywhere), so partial-aggregation order cannot
    * drift the sum. */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val counts = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val vocab = counts
      .agg(graft.plans.TopKAggregate.topK(struct(col("cnt"), col("token")), LmVocab).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.token").as("token"), col("t.cnt").as("cnt"))
    val total = tok.agg(count(lit(1)).as("total"))
    val scored = tok
      .join(broadcast(vocab), Seq("token"), "left")
      .crossJoin(broadcast(total))
      .withColumn(
        "lpm",
        floor(
          log(
            coalesce(col("cnt").cast(DoubleType), lit(0.5)) / col("total").cast(DoubleType)
          ) * lit(1e6)
        ).cast(LongType)
      )
    scored
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum(col("lpm")).as("sum_logp_micro"))
      .withColumn(
        "avg_logp",
        col("sum_logp_micro").cast(DoubleType) / lit(1e6) / col("n_toks")
      )
  }

  val TopBigrams = 25

  /** Corpus-wide top-25 bigrams. The count aggregate is map-side partial, so
    * each partition pre-reduces its slice to its distinct bigrams before the
    * exchange — but the vocabulary itself GROWS with the corpus, so that
    * vocabulary-sized shuffle (not the k-bounded top-k after it) is the
    * dominant cost at scale. The global top-k then runs through
    * [[graft.plans.TopKAggregate]]'s bounded-heap aggregate, so each
    * partition contributes ≤ k rows to a single final merge — no global
    * sort, no one-task window funnel. Ordering: count desc, bigram desc
    * (struct natural order; documented tie-break, mirrored in the oracle).
    */
  private[graft] def bigramsOf(textCol: Column): Column = {
    val toks = tokens(textCol)
    zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b)
    )
  }

  def bigramTopK(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables
      .documentsDistributed(s, dir)
      .select(explode(bigramsOf(col("text"))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
    counts
      .agg(graft.plans.TopKAggregate.topK(struct(col("n"), col("bigram")), TopBigrams).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("t.bigram").as("bigram"),
        col("t.n").as("n")
      )
  }

  /** Top-k for [[bpePairs]] — one BPE induction step's merge candidates. */
  val TopBpePairs = 25

  /** BPE merge-candidate mining (q85): the first step of byte-pair-encoding
    * vocabulary induction — count adjacent CHARACTER pairs across the
    * corpus and rank the top merge candidates.
    *
    * The scale trick is the one real BPE trainers use: pair counting runs
    * over the WORD-FREQUENCY TABLE, not the corpus. The corpus collapses to
    * (distinct word, count) — vocabulary-sized, orders of magnitude smaller
    * than the token stream at 100 TB — and every downstream iteration
    * (pair count, merge, re-count) touches only that table, weighted by
    * the counts. One skinny (word, n) exchange builds the table; the pair
    * aggregate shuffles (2-char pair, partial sum) rows; the global top-k
    * is the q48 bounded-heap. */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val wc = Tables
      .documentsDistributed(s, dir)
      .select(explode(split(lower(col("text")), " +")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w")
      .agg(count(lit(1)).as("n"))
    val pairCounts = wc
      .select(explode(expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"), col("n"))
      .groupBy("pair")
      .agg(sum(col("n")).as("n_total"))
    pairCounts
      .agg(graft.plans.TopKAggregate.topK(struct(col("n_total"), col("pair")), TopBpePairs).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("t.pair").as("pair"),
        col("t.n_total").as("n_total")
      )
  }

  /** Sketch capacity for [[heavyHitters]] — deliberately SMALLER than the
    * test vocabulary so the eviction and merge paths actually run. */
  val HhCapacity = 256

  /** Heavy hitters via the Space-Saving sketch (q67) — the scale path for
    * q48's exact top-k: the exact formulation shuffles the entire (corpus-
    * growing) vocabulary; the sketch shuffles ≤ capacity entries per
    * partition. The sketch's counts are approximate, so the oracle checks
    * its two GUARANTEES against the exact counts rather than the counts
    * themselves (regeneration-robust):
    *  - coverage: every bigram with true count > N/capacity is tracked;
    *  - sandwich: estimate ≥ true ≥ estimate − err for every tracked item.
    * Exact scalars (total bigram count, how many exceed the bound) hash-
    * match DuckDB; the flags must be 1. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val bg    = Tables.documentsDistributed(s, dir).select(explode(bigramsOf(col("text"))).as("bigram"))
    val exact = bg.groupBy("bigram").agg(count(lit(1)).as("n"))
    val mg = bg
      .agg(graft.plans.HeavyHitters.spaceSaving(col("bigram"), HhCapacity).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.item").as("item"), col("h.cnt").as("cnt"), col("h.err").as("err"))
    val tot   = exact.agg(sum(col("n")).as("total"))
    val bound = col("total").cast(DoubleType) / lit(HhCapacity)
    exact
      .join(mg, col("bigram") === col("item"), "full_outer")
      .crossJoin(broadcast(tot))
      .agg(
        max(col("total")).as("total_bigrams"),
        sum(when(col("n").isNotNull && col("n") > bound, 1L).otherwise(0L)).as("n_over_bound"),
        (sum(when(col("n").isNotNull && col("n") > bound && col("item").isNull, 1L).otherwise(0L)) === 0)
          .cast(LongType)
          .as("coverage_ok"),
        (sum(
          when(
            col("item").isNotNull &&
              !(col("cnt") >= coalesce(col("n"), lit(0L)) &&
                col("cnt") - col("err") <= coalesce(col("n"), lit(0L))),
            1L
          ).otherwise(0L)
        ) === 0).cast(LongType).as("sandwich_ok")
      )
  }

  /** Gopher-style repetition thresholds (q72). The published Gopher rules
    * gate on signals like these at web-crawl levels (e.g. dup-line frac ≤
    * 0.30); the gate corpus is clean synthetic text, so the thresholds sit
    * at its p50s to exercise both outcomes — production callers pass their
    * own. */
  val GopherTopTokMax = 0.10
  val GopherDupBgMax  = 0.05

  /** Gopher-style repetition rules (q72): per-document repetition signals —
    * fraction of tokens that are the single most frequent token, and
    * fraction of word-bigrams that are repeats — with a pass/fail flag,
    * aggregated per language. These are the "remove machine-generated /
    * boilerplate text" filters from the Gopher/MassiveText curation recipe.
    *
    * Scale shape: the dup-bigram signal is pure narrow (per-row
    * distinct/total on the bigram array). The top-token signal needs a
    * per-(doc, token) count — that exchange carries (doc_id, token-HASH)
    * LONG pairs, never token strings (only the max count matters, not which
    * token; 60-bit hash collisions within one doc's vocabulary are
    * negligible and the oracle hashes identically). */
  def gopherRules(s: SparkSession, dir: String): DataFrame = {
    val tokHash = graft.functions.Fingerprints.fp15(col("token"))
    val perDoc = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .select(col("doc_id"), tokHash.as("h"))
      .groupBy("doc_id", "h")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("max_c"), sum(col("c")).as("n_toks"))
      .withColumn("top_tok_frac", col("max_c").cast(DoubleType) / col("n_toks"))
    val bg = bigramsOf(col("text"))
    val narrow = Tables
      .documentsDistributed(s, dir)
      .select(
        col("doc_id"),
        col("lang"),
        size(bg).as("n_bg"),
        size(array_distinct(bg)).as("n_dbg")
      )
      .withColumn(
        "dup_bg_frac",
        when(col("n_bg") > 0, lit(1.0) - col("n_dbg").cast(DoubleType) / col("n_bg")).otherwise(lit(0.0))
      )
    narrow
      .join(perDoc, Seq("doc_id"))
      .withColumn(
        "pass",
        col("top_tok_frac") <= GopherTopTokMax && col("dup_bg_frac") <= GopherDupBgMax
      )
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        (sum(floor(col("top_tok_frac") * lit(1e6)).cast(LongType)).cast(DoubleType) / lit(1e6))
          .as("sum_top_tok"),
        (sum(floor(col("dup_bg_frac") * lit(1e6)).cast(LongType)).cast(DoubleType) / lit(1e6))
          .as("sum_dup_bg")
      )
  }

  /** PII patterns (q73): ASCII-conservative regexes valid in both Java
    * (Spark) and RE2 (DuckDB) — no lookarounds, no unicode classes. */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pat  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePat = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"

  /** PII scrub (q73): count and redact emails / IPv4 addresses / phone
    * numbers per document; per-language totals plus redacted character
    * mass. Pure narrow per-row regex pass (the text never shuffles; the
    * only exchange is the |langs|-row aggregate). The gate corpus is
    * synthetic word-salad so every count is 0 there — the operator's
    * behavior on real PII is pinned by TextOpsSpec's planted fixtures,
    * and the oracle still pins engine parity of the patterns on 500 rows.
    *
    * Redaction replaces each match with the empty string sequentially
    * (email → ipv4 → phone), so `chars_removed` = original length −
    * redacted length counts every scrubbed character once. */
  def piiScrub(s: SparkSession, dir: String): DataFrame =
    piiScrubOf(Tables.documents(s, dir))

  /** [[piiScrub]] over any `documents`-shaped frame — a pure narrow
    * projection + one aggregate, so it composes unchanged into a streaming
    * query (complete-mode aggregation; StreamingSpec pins batch parity). */
  def piiScrubOf(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(regexp_replace(col("text"), EmailPat, ""), Ipv4Pat, ""),
      PhonePat,
      ""
    )
    docs
      .select(
        col("lang"),
        regexp_count(col("text"), lit(EmailPat)).cast(LongType).as("n_email"),
        regexp_count(col("text"), lit(Ipv4Pat)).cast(LongType).as("n_ip"),
        regexp_count(col("text"), lit(PhonePat)).cast(LongType).as("n_phone"),
        (length(col("text")) - length(redacted)).cast(LongType).as("removed")
      )
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_email") + col("n_ip") + col("n_phone") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum(col("n_email")).as("total_emails"),
        sum(col("n_ip")).as("total_ips"),
        sum(col("n_phone")).as("total_phones"),
        sum(col("removed")).as("chars_removed")
      )
  }

  /** Top-k for [[pmiPairs]] and its skip-gram window (pairs at distance
    * 1..[[PmiWindow]]). */
  val TopPmiPairs = 25
  val PmiWindow   = 2

  /** Windowed co-occurrence / PMI mining (q97) — the association-count job
    * embedding prep runs over a corpus (word2vec/GloVe co-occurrence
    * tables, collocation detection): count ordered token pairs within a
    * ±[[PmiWindow]] window and score the top pairs by pointwise mutual
    * information, ln((n_pair/P) / ((c1/N)·(c2/N))).
    *
    * Shape: the window pairs are built NARROWLY by shifting the token
    * array against itself (no positional self-join — the naive plan
    * shuffles (doc, pos) twice); the pair aggregate is partial on (w1,
    * w2); the global top-k is the q48 bounded heap (≤ k rows per
    * partition reach the final exchange, no sort); and the unigram
    * marginals + totals join AFTER top-k, onto 25 rows. Exact-integer
    * counts are the hash-checked evidence; the PMI double derives from
    * them via one identical IEEE chain per row (q44/q59's log
    * discipline). */
  def pmiPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsDistributed(s, dir).select(split(col("text"), " +").as("t"))
    val n    = size(col("t"))
    def pairsAt(k: Int): Column =
      when(n <= k, array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(
          transform(
            sequence(lit(1), n - k),
            i => struct(element_at(col("t"), i).as("w1"), element_at(col("t"), i + k).as("w2"))
          )
        )
    val pc = docs
      .select(explode(concat((1 to PmiWindow).map(pairsAt): _*)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_pair"))
    val top = pc
      .agg(
        graft.plans.TopKAggregate
          .topK(struct(col("n_pair"), col("w1"), col("w2")), TopPmiPairs, Seq(false, true, true))
          .as("top")
      )
      .select(explode(col("top")).as("t"))
      .select(col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.n_pair").as("n_pair"))
    val uc     = docs.select(explode(col("t")).as("w")).groupBy("w").agg(count(lit(1)).as("c"))
    val totals = pc.agg(sum(col("n_pair")).as("n_pairs")).crossJoin(uc.agg(sum(col("c")).as("n_tok")))
    top
      .join(uc.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uc.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(totals)
      .select(
        col("w1"),
        col("w2"),
        col("n_pair"),
        col("c1"),
        col("c2"),
        round(
          log(
            (col("n_pair").cast(DoubleType) / col("n_pairs")) /
              ((col("c1").cast(DoubleType) / col("n_tok")) * (col("c2").cast(DoubleType) / col("n_tok")))
          ),
          6
        ).as("pmi")
      )
  }

  /** BM25 parameters (the standard Robertson defaults) and the fixed
    * retrieval query set for [[bm25Retrieval]] — terms drawn from the
    * corpus vocabulary so every query matches documents. */
  val Bm25K1         = 1.2
  val Bm25B          = 0.75
  val RetrievalTopK  = 10
  val RetrievalQueries: Seq[(String, Seq[String])] = Seq(
    "q1" -> Seq("spark", "hash", "join"),
    "q2" -> Seq("window", "agg"),
    "q3" -> Seq("scan", "filter", "sort")
  )

  /** BM25 retrieval (q103) — score every document against a fixed query
    * set and return the top-k per query: the batch retrieval primitive
    * behind eval-set lookup, hard-negative mining, and contamination
    * screens that need RANKED matches (q54's is boolean). Classic
    * Okapi BM25: idf(t)·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
    *
    * Scale shape: the token stream is filtered to the query-term
    * vocabulary FIRST (a literal isin — broadcast by construction), so
    * the tf table is |matching (doc, term)|-sized, not corpus-sized; df
    * and the global (N, avgdl) stats are tiny aggregates; the per-query
    * ranking is the bounded-heap top-k — no window sort. Determinism:
    * each (query, doc, term) contribution is ONE IEEE chain floored to
    * integer micros (q59's log discipline), so the score SUM over a
    * query's terms is an exact long sum — float summation order never
    * matters. */
  /** Per-(query, candidate-doc) score table shared by q103 and q136: the
    * BM25 floor-micros sum plus the inputs (Σtf, dl) the second ranker
    * needs. Candidates = docs matching ≥ 1 query term — identical for
    * both rankers, so q136's rank fusion never sees a one-sided rank. */
  private def retrievalScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val termSet = RetrievalQueries.flatMap(_._2).distinct
    // ONE tokenize pass: per doc its length plus only the query-vocab
    // occurrences (array-HOF prefilter in the scan stage), reduced to a
    // skinny (doc_id, dl, hits) frame that is match-sized in its array
    // column. Both consumers — the corpus stats aggregate and the tf
    // table — reuse the checkpoint instead of re-splitting the text.
    val docTerms = Tables
      .documentsDistributed(s, dir)
      .select(col("doc_id"), split(col("text"), " +").as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast(LongType).as("dl"),
        filter(col("t"), w => w.isin(termSet: _*)).as("hits")
      )
      .transform(Eager.materialize(_, "textAnalysis.docTerms"))
    val stats = docTerms.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = docTerms
      .select(col("doc_id"), col("dl"), explode(col("hits")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val qt = RetrievalQueries.flatMap { case (q, ts) => ts.map(t => (q, t)) }.toDF("query_id", "w")
    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
    val idf   = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val denom = col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / avgdl)
    val contribMicro =
      floor(idf * (col("tf") * lit(Bm25K1 + 1.0)) / denom * lit(1000000.0)).cast(LongType)
    qt
      .join(tf, Seq("w"))
      .join(df, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), contribMicro.as("cm"), col("tf"), col("dl"))
      .groupBy("query_id", "doc_id")
      .agg(
        sum(col("cm")).as("score_micro"),
        sum(col("tf")).as("tf_sum"),
        min(col("dl")).as("dl"),
        count(lit(1)).as("n_terms_matched"),
        min(col("tf")).as("min_tf")
      )
  }

  /** [[retrievalScores]] with the three rankings q136/q140 consume:
    * rank_bm25, rank_ql, and the fused rank_rrf (all per-query
    * `row_number` windows over the query-bounded candidate table, ties by
    * doc_id). */
  private def rankedCandidates(s: SparkSession, dir: String): DataFrame = {
    val scores = retrievalScores(s, dir)
      .withColumn(
        "ql_micro",
        floor(col("tf_sum").cast(DoubleType) / col("dl") * lit(1000000.0)).cast(LongType)
      )
    val byQuery = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
    scores
      .withColumn(
        "rank_bm25",
        row_number().over(byQuery.orderBy(col("score_micro").desc, col("doc_id"))).cast(LongType)
      )
      .withColumn(
        "rank_ql",
        row_number().over(byQuery.orderBy(col("ql_micro").desc, col("doc_id"))).cast(LongType)
      )
      .withColumn(
        "rrf_micros",
        call_function("div", lit(1000000L), lit(RrfK) + col("rank_bm25")) +
          call_function("div", lit(1000000L), lit(RrfK) + col("rank_ql"))
      )
      .withColumn(
        "rank_rrf",
        row_number().over(byQuery.orderBy(col("rrf_micros").desc, col("doc_id"))).cast(LongType)
      )
  }

  def bm25Retrieval(s: SparkSession, dir: String): DataFrame = {
    val scores = retrievalScores(s, dir).select("query_id", "doc_id", "score_micro")
    scores
      .groupBy("query_id")
      .agg(
        graft.plans.TopKAggregate
          .topK(struct(col("score_micro"), col("doc_id")), RetrievalTopK, Seq(false, true))
          .as("top")
      )
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("t.doc_id").as("doc_id"),
        col("t.score_micro").as("score_micro")
      )
  }

  /** RRF smoothing constant — the standard k=60 from Cormack et al. */
  val RrfK = 60L
  /** Fused results per query reported by [[rankFusion]]. */
  val FusionTopK = 10

  /** Reciprocal-rank fusion (q136) — the hybrid-retrieval combiner: fuse
    * two rankers' orderings of the same candidate set without comparing
    * their incompatible score scales. Production hybrid search fuses a
    * lexical ranking with a dense/ANN one; here both rankers are lexical
    * over the shared [[retrievalScores]] candidates (BM25, and
    * length-normalized term density Σtf/dl — the scale-free signal BM25's
    * saturation deliberately dampens), which exercises the identical
    * fusion shape with disagreeing orderings.
    *
    * RRF(d) = Σ_r 1/(k + rank_r(d)) with k = [[RrfK]], scaled to micros as
    * exact integer division 10⁶ div (k + rank) — the whole operator is
    * integer arithmetic end to end; ties break by doc_id on every
    * ordering, so ranks, fusion sums and the final top-k are all
    * cross-engine exact with NO floor-boundary exposure at all.
    *
    * Scale shape: ranks are per-query `row_number` windows over the
    * CANDIDATE table (query-bounded by the term prefilter — thousands of
    * rows per query, parallel across queries), never over the corpus; the
    * final cut is the bounded-heap top-[[FusionTopK]]. */
  def rankFusion(s: SparkSession, dir: String): DataFrame = {
    val ranked = rankedCandidates(s, dir)
    ranked
      .groupBy("query_id")
      .agg(
        graft.plans.TopKAggregate
          .topK(
            struct(col("rrf_micros"), col("doc_id"), col("rank_bm25"), col("rank_ql")),
            FusionTopK,
            reversed = Seq(false, true) // rrf DESC, doc_id ASC
          )
          .as("top")
      )
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("t.doc_id").as("doc_id"),
        col("t.rank_bm25").as("rank_bm25"),
        col("t.rank_ql").as("rank_ql"),
        col("t.rrf_micros").as("rrf_micros")
      )
  }

  /** NDCG cutoff for [[retrievalEval]]. */
  val EvalK = 10
  /** Relevance floor: every query term at least this often. Conjunctive
    * containment alone matches hundreds of gate-corpus docs (every metric
    * saturates at 1.0 — a vacuous eval); the tf floor cuts the label set
    * to tens per query so the rankers actually differ from the ideal. */
  val RelMinTf = 3L

  /** Ideal-DCG lookup: idcg(m) = Σ_{i=1..min(m, [[EvalK]])} ⌊10⁶/ln(i+1)⌋,
    * precomputed so BOTH engines consume the same integer constants (the
    * per-hit gains use each engine's ln at runtime — the proven-parity
    * floor-micros discipline; the ideal side needs no ln at all). */
  private val IdcgTable: IndexedSeq[Long] =
    (0 to EvalK).scanLeft(0L) { (acc, i) =>
      if (i == 0) 0L else acc + math.floor(1000000.0 / math.log(i + 1.0)).toLong
    }.drop(1).toIndexedSeq

  /** Retrieval-quality eval (q140) — the metrics harness that closes the
    * retrieval loop (q103 builds, q136 fuses, this measures): MRR and an
    * ln-discounted NDCG@[[EvalK]] per (query, ranker) for the BM25 and
    * fused RRF rankings. Relevance labels are deterministic pseudo-labels
    * from the corpus itself — a doc is relevant to a query iff it matches
    * ALL the query's terms, each at least [[RelMinTf]] times; production
    * swaps in human labels with the same shape. ln-DCG differs from the textbook
    * log₂ form by the constant ln 2 in every term, so the NDCG RATIO is
    * the standard metric (up to micro-floor granularity) while needing
    * only the ln whose cross-engine parity q44/q59/q103 already pin.
    *
    * Determinism: per-hit gains are ⌊10⁶/ln(rank+1)⌋ — one IEEE chain;
    * MRR is exact integer division 10⁶ div first_relevant_rank; the ideal
    * DCG is the precomputed [[IdcgTable]] constant injected into both
    * engines; the final NDCG is integer division of two longs. Scale
    * shape: everything runs on [[rankedCandidates]]'s query-bounded
    * table; output is |queries|·2 rows. */
  def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nTerms = RetrievalQueries.map { case (q, ts) => (q, ts.distinct.size.toLong) }
      .toDF("query_id", "n_query_terms")
    // both union branches (bm25 / rrf) consume this — materialize the
    // query-bounded candidate table so the score+window chain runs once
    val cand = rankedCandidates(s, dir)
      .join(broadcast(nTerms), Seq("query_id"))
      .withColumn(
        "rel",
        (col("n_terms_matched") === col("n_query_terms") && col("min_tf") >= RelMinTf).cast(LongType)
      )
      .transform(Eager.materialize(_, "textAnalysis.candidates"))
    val bySystem = cand
      .select(col("query_id"), lit("bm25").as("system"), col("rank_bm25").as("rnk"), col("rel"))
      .unionByName(
        cand.select(col("query_id"), lit("rrf").as("system"), col("rank_rrf").as("rnk"), col("rel"))
      )
    val gain = floor(lit(1000000.0) / log(col("rnk").cast(DoubleType) + lit(1.0))).cast(LongType)
    val idcgOf = element_at(
      lit(IdcgTable.toArray),
      (least(col("n_relevant"), lit(EvalK.toLong)) + 1).cast("int")
    )
    bySystem
      .groupBy("query_id", "system")
      .agg(
        sum(col("rel")).as("n_relevant"),
        min(when(col("rel") === 1L, col("rnk"))).as("first_rel_rank"),
        sum(when(col("rel") === 1L && col("rnk") <= EvalK, gain).otherwise(lit(0L))).as("dcg_micros")
      )
      .withColumn(
        "mrr_micros",
        when(
          col("first_rel_rank").isNotNull,
          call_function("div", lit(1000000L), col("first_rel_rank"))
        ).otherwise(lit(0L))
      )
      .withColumn("first_rel_rank", coalesce(col("first_rel_rank"), lit(0L)))
      .withColumn(
        "ndcg_micros",
        when(
          col("n_relevant") > 0,
          call_function("div", col("dcg_micros") * lit(1000000L), idcgOf)
        ).otherwise(lit(0L))
      )
      .select("query_id", "system", "n_relevant", "first_rel_rank", "mrr_micros", "dcg_micros", "ndcg_micros")
  }

  /** Vocabulary cap for [[sourceDivergence]]: top terms by global count. */
  val DivergenceVocab = 200

  /** q131: cross-source distribution divergence — how lexically different
    * are the corpus' sources from each other? For every source pair,
    * squared Hellinger distance between their unigram distributions over
    * the global top-[[DivergenceVocab]] vocabulary. This is the "is this
    * new crawl actually new data, or the same distribution again" audit a
    * mixing plan (q94) should consult: H² ≈ 0 means a source adds volume,
    * not diversity.
    *
    * Hellinger over the transcendental-free subset: probabilities are two
    * long-to-double casts and one IEEE division, and `sqrt` is correctly
    * rounded by IEEE-754 decree in both engines (unlike ln/exp, which are
    * libm-dependent) — so per-term values are bit-identical between Spark
    * and DuckDB, and the floor-to-e12 fixed-point sum is exactly
    * associative. OOV mass beyond the vocab cap is dropped and
    * probabilities renormalized over the cap (declared semantics; the cap
    * is what bounds every post-scan table).
    *
    * Scale shape: pass 1 aggregates global term counts — map-side combine
    * shrinks the exchange to per-partition vocab — and TakeOrdered collects
    * only the top-V (driver holds V=200 strings, a bounded model). Pass 2
    * filters tokens to the vocab MAP-SIDE (isin on 200 literals, inside
    * codegen, before any exchange) so the (source, term) aggregate moves
    * candidate rows only. Everything after is V·|sources|-sized: the pair
    * grid is a broadcast self-join, output |sources|² rows. */
  def sourceDivergence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables
      .documentsDistributed(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
    val vocab: Array[String] = Eager
      .collect(
        tok
          .groupBy("w")
          .agg(count(lit(1)).as("total"))
          .orderBy(col("total").desc, col("w"))
          .limit(DivergenceVocab)
          .select("w"),
        DivergenceVocab, "textAnalysis.divergence.vocab")
      .map(_.getString(0))
    val counts = tok
      .filter(col("w").isin(vocab.toSeq: _*))
      .groupBy("source", "w")
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("source").agg(sum(col("cnt")).as("tot"))
    val grid = broadcast(vocab.toSeq.toDF("w")).crossJoin(broadcast(totals))
    val p = grid
      .join(counts, Seq("source", "w"), "left")
      .select(
        col("source"),
        col("w"),
        (coalesce(col("cnt"), lit(0L)).cast(DoubleType) / col("tot").cast(DoubleType)).as("p")
      )
    val a    = p.select(col("source").as("src_a"), col("w"), col("p").as("pa"))
    val b    = p.select(col("source").as("src_b"), col("w"), col("p").as("pb"))
    val diff = sqrt(col("pa")) - sqrt(col("pb"))
    a.join(b, Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .withColumn("term_e12", floor(diff * diff * lit(1e12)).cast(LongType))
      .groupBy("src_a", "src_b")
      .agg(
        count(lit(1)).as("n_terms"),
        sum(when(col("pa") > 0 && col("pb") > 0, 1L).otherwise(0L)).as("shared_terms"),
        sum(col("term_e12")).as("h2_e12")
      )
  }

  /** Hashed-feature space for [[miFeatures]] — same hashing trick as the
    * q110 classifier (the hash IS the feature id; no vocabulary table). */
  val MiHashDim = 4096L
  /** Top features reported by [[miFeatures]]. */
  val MiTopK = 25

  /** Mutual-information feature selection (q135) — which hashed token
    * features carry signal about the `lang` label. This is the feature-
    * audit step in front of any hashed linear model (q110): MI(f; y) over
    * document-level presence ranks the hash buckets a classifier should
    * trust, and near-zero MI across the board means the feature space (or
    * the hash width) is wrong BEFORE anyone trains on 100 TB.
    *
    * Per feature f and label y, with document counts n_fy / n_f / n_y / N,
    * the presence part of MI: Σ_y (n_fy/N) · ln(N·n_fy / (n_f·n_y)).
    *
    * Scale shape: per-doc features are distinct-ed IN-CORE
    * (array_distinct before explode — no (doc, feature) shuffle ever
    * exists), so the only corpus-sized work is one narrow pass feeding a
    * map-side-partial groupBy(feature, lang) of ≤ [[MiHashDim]]·|langs|
    * rows; every join after that is model-sized. Determinism: each (f, y)
    * term is ONE IEEE chain floored to integer micros (q103's log
    * discipline), so per-feature MI is an exact long sum; ranking is the
    * bounded-heap top-[[MiTopK]] on (mi_micros DESC, feature ASC). */
  def miFeatures(s: SparkSession, dir: String): DataFrame = {
    val feats = array_distinct(
      transform(tokens(col("text")), t => graft.functions.Fingerprints.fp8(t) % MiHashDim)
    )
    val nfy = Tables
      .documentsDistributed(s, dir)
      .select(col("lang"), explode(feats).as("feature"))
      .groupBy("feature", "lang")
      .agg(count(lit(1)).as("n_fy"))
    val nf  = nfy.groupBy("feature").agg(sum(col("n_fy")).as("n_f"))
    val ny  = Tables.documents(s, dir).groupBy("lang").agg(count(lit(1)).as("n_y"))
    val tot = Tables.documents(s, dir).agg(count(lit(1)).as("n_tot"))
    val term = (col("n_fy").cast(DoubleType) / col("n_tot")) *
      log(col("n_tot").cast(DoubleType) * col("n_fy") / (col("n_f") * col("n_y")))
    val mi = nfy
      .join(broadcast(ny), Seq("lang"))
      .join(nf, Seq("feature"))
      .crossJoin(broadcast(tot))
      .select(col("feature"), col("n_f"), floor(term * lit(1000000.0)).cast(LongType).as("tm"))
      .groupBy("feature")
      .agg(min(col("n_f")).as("n_docs"), sum(col("tm")).as("mi_micros"))
    mi.agg(
        graft.plans.TopKAggregate
          .topK(
            struct(col("mi_micros"), col("feature"), col("n_docs")),
            MiTopK,
            reversed = Seq(false, true) // mi_micros DESC, feature ASC
          )
          .as("top")
      )
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("t.feature").as("feature"),
        col("t.n_docs").as("n_docs"),
        col("t.mi_micros").as("mi_micros"),
        (col("pos") + 1).cast(LongType).as("rnk")
      )
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q140_retrieval_eval"    -> (retrievalEval _),
    "q136_rank_fusion"       -> (rankFusion _),
    "q135_mi_features"       -> (miFeatures _),
    "q131_source_divergence" -> (sourceDivergence _),
    "q103_bm25_retrieval" -> (bm25Retrieval _),
    "q97_pmi_pairs"       -> (pmiPairs _),
    "q72_gopher_rules"    -> (gopherRules _),
    "q73_pii_scrub"       -> (piiScrub _),
    "q48_bigram_topk"     -> (bigramTopK _),
    "q85_bpe_pairs"       -> (bpePairs _),
    "q67_heavy_hitters"   -> (heavyHitters _),
    "q44_tfidf_top_terms" -> (tfidfTopTerms _),
    "q59_lm_score"        -> (lmScore _),
    "q40_text_stats"  -> (stats _),
    "q41_lang_id"     -> (langId _),
    "q42_quality"     -> (quality _),
    "q43_token_count" -> (tokenCount _),
    "q110_hashed_classifier" -> (hashedClassifier _)
  )

  private def overlapSql(listExpr: String, words: Seq[String]): String = {
    val set = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(list_distinct($listExpr), x -> x IN ($set)))"
  }

  val oracles: Map[String, String] = Map(
    "q140_retrieval_eval" -> {
      val termList = RetrievalQueries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
      val qtValues =
        RetrievalQueries.flatMap { case (q, ts) => ts.map(t => s"('$q', '$t')") }.mkString(", ")
      val qnValues =
        RetrievalQueries.map { case (q, ts) => s"('$q', ${ts.distinct.size})" }.mkString(", ")
      val idcgCase = (1 to EvalK)
        .map(m => s"WHEN $m THEN ${IdcgTable(m)}")
        .mkString(" ")
      s"""WITH d AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS t FROM documents),
         |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         |tf AS (
         |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS w FROM d) WHERE w IN ($termList) GROUP BY 1, 2
         |),
         |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |qt(query_id, w) AS (VALUES $qtValues),
         |qn(query_id, nt) AS (VALUES $qnValues),
         |c AS (
         |  SELECT qt.query_id, tf.doc_id,
         |    CAST(floor(ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |        * (tf.tf * ($Bm25K1 + 1.0))
         |        / (tf.tf + $Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * dl.dl / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))
         |        * 1000000.0) AS BIGINT) AS cm,
         |    tf.tf, dl.dl
         |  FROM qt JOIN tf ON qt.w = tf.w JOIN df ON tf.w = df.w JOIN dl ON tf.doc_id = dl.doc_id, st
         |),
         |sc AS (
         |  SELECT query_id, doc_id, CAST(sum(cm) AS BIGINT) AS score_micro,
         |         CAST(sum(tf) AS BIGINT) AS tf_sum, CAST(min(dl) AS BIGINT) AS dl,
         |         CAST(count(*) AS BIGINT) AS nm, CAST(min(tf) AS BIGINT) AS mintf
         |  FROM c GROUP BY 1, 2
         |),
         |s2 AS (
         |  SELECT query_id, doc_id, nm, mintf, score_micro,
         |    CAST(floor(CAST(tf_sum AS DOUBLE) / dl * 1000000.0) AS BIGINT) AS ql_micro
         |  FROM sc
         |),
         |r AS (
         |  SELECT query_id, doc_id, nm, mintf,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank_bm25,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY ql_micro DESC, doc_id) AS BIGINT) AS rank_ql
         |  FROM s2
         |),
         |f AS (
         |  SELECT query_id, doc_id, nm, mintf, rank_bm25,
         |    1000000 // ($RrfK + rank_bm25) + 1000000 // ($RrfK + rank_ql) AS rrf_micros
         |  FROM r
         |),
         |f2 AS (
         |  SELECT f.query_id, doc_id, rank_bm25,
         |    CAST(row_number() OVER (PARTITION BY f.query_id ORDER BY rrf_micros DESC, doc_id) AS BIGINT) AS rank_rrf,
         |    CASE WHEN f.nm = qn.nt AND f.mintf >= $RelMinTf THEN 1 ELSE 0 END AS rel
         |  FROM f JOIN qn ON f.query_id = qn.query_id
         |),
         |sys AS (
         |  SELECT query_id, 'bm25' AS system, rank_bm25 AS rnk, rel FROM f2
         |  UNION ALL
         |  SELECT query_id, 'rrf', rank_rrf, rel FROM f2
         |),
         |m AS (
         |  SELECT query_id, system,
         |    CAST(sum(rel) AS BIGINT) AS n_relevant,
         |    min(CASE WHEN rel = 1 THEN rnk END) AS fr,
         |    CAST(sum(CASE WHEN rel = 1 AND rnk <= $EvalK
         |             THEN CAST(floor(1000000.0 / ln(CAST(rnk + 1 AS DOUBLE))) AS BIGINT)
         |             ELSE 0 END) AS BIGINT) AS dcg_micros
         |  FROM sys GROUP BY 1, 2
         |)
         |SELECT query_id, system, n_relevant,
         |  CAST(COALESCE(fr, 0) AS BIGINT) AS first_rel_rank,
         |  CASE WHEN fr IS NOT NULL THEN 1000000 // fr ELSE 0 END AS mrr_micros,
         |  dcg_micros,
         |  CASE WHEN n_relevant > 0
         |       THEN (dcg_micros * 1000000)
         |            // (CASE least(n_relevant, $EvalK) $idcgCase END)
         |       ELSE 0 END AS ndcg_micros
         |FROM m""".stripMargin
    },
    "q136_rank_fusion" -> {
      val termList = RetrievalQueries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
      val qtValues =
        RetrievalQueries.flatMap { case (q, ts) => ts.map(t => s"('$q', '$t')") }.mkString(", ")
      s"""WITH d AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS t FROM documents),
         |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         |tf AS (
         |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS w FROM d) WHERE w IN ($termList) GROUP BY 1, 2
         |),
         |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |qt(query_id, w) AS (VALUES $qtValues),
         |c AS (
         |  SELECT qt.query_id, tf.doc_id,
         |    CAST(floor(ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |        * (tf.tf * ($Bm25K1 + 1.0))
         |        / (tf.tf + $Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * dl.dl / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))
         |        * 1000000.0) AS BIGINT) AS cm,
         |    tf.tf, dl.dl
         |  FROM qt JOIN tf ON qt.w = tf.w JOIN df ON tf.w = df.w JOIN dl ON tf.doc_id = dl.doc_id, st
         |),
         |sc AS (
         |  SELECT query_id, doc_id, CAST(sum(cm) AS BIGINT) AS score_micro,
         |         CAST(sum(tf) AS BIGINT) AS tf_sum, CAST(min(dl) AS BIGINT) AS dl
         |  FROM c GROUP BY 1, 2
         |),
         |s2 AS (
         |  SELECT query_id, doc_id, score_micro,
         |    CAST(floor(CAST(tf_sum AS DOUBLE) / dl * 1000000.0) AS BIGINT) AS ql_micro
         |  FROM sc
         |),
         |r AS (
         |  SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank_bm25,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY ql_micro DESC, doc_id) AS BIGINT) AS rank_ql
         |  FROM s2
         |),
         |f AS (
         |  SELECT query_id, doc_id, rank_bm25, rank_ql,
         |    1000000 // ($RrfK + rank_bm25) + 1000000 // ($RrfK + rank_ql) AS rrf_micros
         |  FROM r
         |)
         |SELECT query_id, rnk, doc_id, rank_bm25, rank_ql, rrf_micros FROM (
         |  SELECT query_id, doc_id, rank_bm25, rank_ql, rrf_micros,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_micros DESC, doc_id) AS BIGINT) AS rnk
         |  FROM f
         |) WHERE rnk <= $FusionTopK""".stripMargin
    },
    "q135_mi_features" ->
      s"""WITH d AS (
         |  SELECT lang,
         |    unnest(list_distinct(list_transform(regexp_split_to_array(text, ' +'),
         |      t -> ${graft.functions.Fingerprints.fp8Sql("t")} % $MiHashDim))) AS feature
         |  FROM documents
         |),
         |nfy AS (SELECT feature, lang, CAST(count(*) AS BIGINT) AS n_fy FROM d GROUP BY 1, 2),
         |nf  AS (SELECT feature, CAST(sum(n_fy) AS BIGINT) AS n_f FROM nfy GROUP BY 1),
         |ny  AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_y FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM documents),
         |terms AS (
         |  SELECT nfy.feature, nf.n_f,
         |    CAST(floor((CAST(nfy.n_fy AS DOUBLE) / t.n_tot) *
         |               ln(CAST(t.n_tot AS DOUBLE) * nfy.n_fy / (nf.n_f * ny.n_y)) *
         |               1000000.0) AS BIGINT) AS tm
         |  FROM nfy
         |  JOIN nf USING (feature)
         |  JOIN ny USING (lang)
         |  CROSS JOIN tot t
         |),
         |mi AS (
         |  SELECT feature, CAST(min(n_f) AS BIGINT) AS n_docs,
         |         CAST(sum(tm) AS BIGINT) AS mi_micros
         |  FROM terms GROUP BY 1
         |)
         |SELECT feature, n_docs, mi_micros, rnk FROM (
         |  SELECT feature, n_docs, mi_micros,
         |    CAST(row_number() OVER (ORDER BY mi_micros DESC, feature) AS BIGINT) AS rnk
         |  FROM mi
         |) WHERE rnk <= $MiTopK""".stripMargin,
    "q131_source_divergence" ->
      s"""WITH tok AS (
         |  SELECT source, unnest(regexp_split_to_array(text, ' +')) AS w FROM documents
         |),
         |v AS (
         |  SELECT w FROM (SELECT w, count(*) AS total FROM tok GROUP BY 1)
         |  ORDER BY total DESC, w LIMIT $DivergenceVocab
         |),
         |sc AS (
         |  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok WHERE w IN (SELECT w FROM v) GROUP BY 1, 2
         |),
         |st AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS tot FROM sc GROUP BY 1),
         |p AS (
         |  SELECT st.source, v.w,
         |    CAST(COALESCE(sc.cnt, 0) AS DOUBLE) / CAST(st.tot AS DOUBLE) AS p
         |  FROM v CROSS JOIN st
         |  LEFT JOIN sc ON sc.source = st.source AND sc.w = v.w
         |)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  count(*) AS n_terms,
         |  CAST(sum(CASE WHEN a.p > 0 AND b.p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS shared_terms,
         |  CAST(sum(CAST(floor((sqrt(a.p) - sqrt(b.p)) * (sqrt(a.p) - sqrt(b.p)) * 1e12) AS BIGINT)) AS BIGINT) AS h2_e12
         |FROM p a JOIN p b ON a.w = b.w AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,
    "q110_hashed_classifier" ->
      """WITH d AS (SELECT source, regexp_split_to_array(text, ' +') AS t FROM documents),
        |f AS (
        |  SELECT source,
        |    list_concat(t, list_transform(generate_series(1, len(t) - 1),
        |                                  i -> t[i] || '_' || t[i+1])) AS feats
        |  FROM d
        |),
        |dl AS (
        |  SELECT source,
        |    CAST(COALESCE(list_sum(list_transform(feats,
        |      x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % 17 - 8)), 0) AS BIGINT) AS logit
        |  FROM f
        |)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(logit) AS BIGINT) AS sum_logit,
        |  CAST(min(logit) AS BIGINT) AS min_logit,
        |  CAST(max(logit) AS BIGINT) AS max_logit
        |FROM dl GROUP BY 1""".stripMargin,
    "q103_bm25_retrieval" -> {
      val termList = RetrievalQueries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
      val qtValues =
        RetrievalQueries.flatMap { case (q, ts) => ts.map(t => s"('$q', '$t')") }.mkString(", ")
      s"""WITH d AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS t FROM documents),
         |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         |tf AS (
         |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS w FROM d) WHERE w IN ($termList) GROUP BY 1, 2
         |),
         |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |qt(query_id, w) AS (VALUES $qtValues),
         |c AS (
         |  SELECT qt.query_id, tf.doc_id,
         |    CAST(floor(ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |        * (tf.tf * ($Bm25K1 + 1.0))
         |        / (tf.tf + $Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * dl.dl / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))
         |        * 1000000.0) AS BIGINT) AS cm
         |  FROM qt JOIN tf ON qt.w = tf.w JOIN df ON tf.w = df.w JOIN dl ON tf.doc_id = dl.doc_id, st
         |),
         |sc AS (SELECT query_id, doc_id, CAST(sum(cm) AS BIGINT) AS score_micro FROM c GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, score_micro,
         |        row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rnk
         |      FROM sc)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score_micro
         |FROM r WHERE rnk <= $RetrievalTopK""".stripMargin
    },
    "q97_pmi_pairs" ->
      s"""WITH tk AS (SELECT regexp_split_to_array(text, ' +') AS t FROM documents),
         |p AS (
         |  SELECT t[i] AS w1, t[i+1] AS w2 FROM tk, UNNEST(generate_series(1, len(t)-1)) AS g(i)
         |  UNION ALL
         |  SELECT t[i] AS w1, t[i+2] AS w2 FROM tk, UNNEST(generate_series(1, len(t)-2)) AS g(i)
         |),
         |pc AS (SELECT w1, w2, count(*) AS n_pair FROM p GROUP BY 1, 2),
         |uc AS (SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(sum(n_pair) AS BIGINT) FROM pc) AS n_pairs,
         |               (SELECT CAST(sum(c) AS BIGINT) FROM uc) AS n_tok),
         |top AS (SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair FROM pc
         |        ORDER BY n_pair DESC, w1, w2 LIMIT $TopPmiPairs)
         |SELECT top.w1 AS w1, top.w2 AS w2, top.n_pair AS n_pair,
         |  CAST(a.c AS BIGINT) AS c1, CAST(b.c AS BIGINT) AS c2,
         |  round(ln((CAST(top.n_pair AS DOUBLE) / tot.n_pairs)
         |        / ((CAST(a.c AS DOUBLE) / tot.n_tok) * (CAST(b.c AS DOUBLE) / tot.n_tok))), 6) AS pmi
         |FROM top JOIN uc a ON top.w1 = a.w JOIN uc b ON top.w2 = b.w, tot""".stripMargin,
    "q72_gopher_rules" ->
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(unnest(regexp_split_to_array(text, ' +'))), 1, 15) AS BIGINT) AS h
         |  FROM documents
         |),
         |tc AS (SELECT doc_id, h, count(*) AS c FROM tok GROUP BY 1, 2),
         |tt AS (
         |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top_tok_frac
         |  FROM tc GROUP BY 1
         |),
         |bg AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN len(t) > 1
         |      THEN 1.0 - CAST(len(list_distinct(list_transform(generate_series(1, len(t) - 1),
         |                        i -> t[i] || ' ' || t[i + 1]))) AS DOUBLE) / (len(t) - 1)
         |      ELSE 0.0 END AS dup_bg_frac
         |  FROM (SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS t FROM documents)
         |)
         |SELECT bg.lang AS lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN top_tok_frac <= $GopherTopTokMax AND dup_bg_frac <= $GopherDupBgMax
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CAST(floor(top_tok_frac * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0
         |    AS sum_top_tok,
         |  CAST(sum(CAST(floor(dup_bg_frac * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0
         |    AS sum_dup_bg
         |FROM bg JOIN tt USING (doc_id) GROUP BY 1""".stripMargin,
    "q73_pii_scrub" ->
      s"""WITH p AS (
         |  SELECT lang,
         |    CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT) AS n_email,
         |    CAST(len(regexp_extract_all(text, '$Ipv4Pat')) AS BIGINT) AS n_ip,
         |    CAST(len(regexp_extract_all(text, '$PhonePat')) AS BIGINT) AS n_phone,
         |    CAST(length(text) - length(regexp_replace(regexp_replace(regexp_replace(text,
         |      '$EmailPat', '', 'g'), '$Ipv4Pat', '', 'g'), '$PhonePat', '', 'g')) AS BIGINT)
         |      AS removed
         |  FROM documents
         |)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_with_pii,
         |  CAST(sum(n_email) AS BIGINT) AS total_emails,
         |  CAST(sum(n_ip) AS BIGINT) AS total_ips,
         |  CAST(sum(n_phone) AS BIGINT) AS total_phones,
         |  CAST(sum(removed) AS BIGINT) AS chars_removed
         |FROM p GROUP BY 1""".stripMargin,
    "q85_bpe_pairs" ->
      s"""WITH words AS (
         |  SELECT unnest(regexp_split_to_array(lower(text), ' +')) AS w FROM documents
         |),
         |wc AS (SELECT w, count(*) AS n FROM words WHERE len(w) >= 2 GROUP BY w),
         |pairs AS (
         |  SELECT substr(w, i, 2) AS pair, n
         |  FROM wc, unnest(generate_series(1, len(w) - 1)) AS g(i)
         |),
         |agg AS (SELECT pair, CAST(sum(n) AS BIGINT) AS n_total FROM pairs GROUP BY pair)
         |SELECT row_number() OVER (ORDER BY n_total DESC, pair DESC) AS rnk, pair, n_total
         |FROM agg ORDER BY n_total DESC, pair DESC LIMIT $TopBpePairs""".stripMargin,
    "q48_bigram_topk" ->
      s"""WITH t AS (SELECT regexp_split_to_array(text, ' +') AS toks FROM documents),
         |bg AS (
         |  SELECT toks[i] || ' ' || toks[i + 1] AS bigram
         |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
         |),
         |c AS (SELECT bigram, count(*) AS n FROM bg GROUP BY bigram)
         |SELECT row_number() OVER (ORDER BY n DESC, bigram DESC) AS rnk, bigram, n
         |FROM c ORDER BY n DESC, bigram DESC LIMIT $TopBigrams""".stripMargin,
    "q67_heavy_hitters" ->
      s"""WITH t AS (SELECT regexp_split_to_array(text, ' +') AS toks FROM documents),
         |bg AS (
         |  SELECT toks[i] || ' ' || toks[i + 1] AS bigram
         |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
         |),
         |c AS (SELECT bigram, count(*) AS n FROM bg GROUP BY bigram),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
         |SELECT tot.total AS total_bigrams,
         |  (SELECT count(*) FROM c, tot WHERE n > CAST(total AS DOUBLE) / $HhCapacity)
         |    AS n_over_bound,
         |  CAST(1 AS BIGINT) AS coverage_ok,
         |  CAST(1 AS BIGINT) AS sandwich_ok
         |FROM tot""".stripMargin,
    "q59_lm_score" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(text, ' +')) AS token FROM documents
         |),
         |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
         |v AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token DESC LIMIT $LmVocab),
         |n AS (SELECT count(*) AS total FROM tok),
         |lp AS (
         |  SELECT t.doc_id,
         |    CAST(floor(ln(COALESCE(CAST(v.cnt AS DOUBLE), 0.5) / CAST(n.total AS DOUBLE))
         |               * 1000000.0) AS BIGINT) AS lpm
         |  FROM tok t LEFT JOIN v ON t.token = v.token CROSS JOIN n
         |)
         |SELECT doc_id, count(*) AS n_toks,
         |  CAST(sum(lpm) AS BIGINT) AS sum_logp_micro,
         |  CAST(sum(lpm) AS DOUBLE) / 1000000.0 / count(*) AS avg_logp
         |FROM lp GROUP BY doc_id""".stripMargin,
    "q44_tfidf_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(regexp_split_to_array(text, ' +')) AS token FROM documents
        |),
        |tf AS (SELECT lang, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfd AS (SELECT token, count(DISTINCT doc_id) AS df_docs FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT lang, tf.token AS token, tf, df_docs,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df_docs), 6) AS tfidf
        |  FROM tf JOIN dfd ON tf.token = dfd.token CROSS JOIN n
        |),
        |rk AS (SELECT lang, token, tf, df_docs, tfidf,
        |         row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, token) AS rnk
        |       FROM scored)
        |SELECT lang, token, tf, df_docs, tfidf, rnk FROM rk WHERE rnk <= 5""".stripMargin,
    "q40_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(len(regexp_split_to_array(text, ' +'))) AS BIGINT) AS total_tokens,
        |  count(DISTINCT source) AS n_sources,
        |  CAST(sum(len(regexp_split_to_array(text, ' +'))) AS DOUBLE) / count(*) AS avg_tokens
        |FROM documents GROUP BY lang""".stripMargin,
    "q41_lang_id" -> {
      val t  = "regexp_split_to_array(text, ' +')"
      val by = StopwordProfiles.map { case (l, ws) => s"${overlapSql(t, ws)} AS s_$l" }.mkString(",\n  ")
      s"""WITH scored AS (SELECT doc_id, lang, $by FROM documents)
         |SELECT lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END AS predicted,
         |  count(*) AS n_docs
         |FROM scored GROUP BY 1, 2""".stripMargin
    },
    "q42_quality" -> {
      val t        = "regexp_split_to_array(text, ' +')"
      val allStops = StopwordProfiles.flatMap(_._2).distinct
      s"""WITH f AS (
         |  SELECT lang,
         |    CAST(len($t) AS DOUBLE) AS n_tok,
         |    CAST(${overlapSql(t, allStops)} AS DOUBLE) AS n_stop,
         |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS n_alpha,
         |    CAST(n_chars AS DOUBLE) AS n_chars_d
         |  FROM documents
         |),
         |sc AS (
         |  SELECT lang, n_tok,
         |    0.4 * least(n_tok / 100.0, 1.0)
         |      + 0.3 * (n_stop / greatest(n_tok, 1.0))
         |      + 0.3 * (n_alpha / greatest(n_chars_d, 1.0)) AS score
         |  FROM f
         |)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN score >= 0.5 AND n_tok >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  CAST(sum(CAST(floor(score * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_score
         |FROM sc GROUP BY lang""".stripMargin
    },
    "q43_token_count" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(text, ' +'))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS bpe_tokens
        |FROM documents GROUP BY source""".stripMargin
  )
}
