package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashing._

/** Text analysis for training-data pipelines: n-gram language ID, quality
  * scoring, token counting, and bottom-k document fingerprints.
  *
  * Not in the reference (its only text handling is categorical encoding,
  * /root/reference/forecastframe/transform.py:367-396); these are the
  * web-text extensions. All token/shingle/hash rules are the oracle parity
  * contract ([[graft.functions.Hashing]]).
  */
object TextAnalysis {

  /** Fixed English-ish stopword list for the quality heuristic (the rule is
    * the contract, not linguistic truth).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is")

  // ----------------------------------------------------------- language ID

  /** Character-trigram language profiles: the `topN` most frequent trigrams
    * per language over a training corpus (ties broken by trigram asc —
    * deterministic). Output: (lang, trigram).
    *
    * Scale: exploding trigrams shuffles ~3× the corpus characters, so at
    * 100 TB the profiles MUST be built from a sample — trigram frequency
    * ranks converge at tiny fractions, and the profile is a fixed small
    * artifact reused by [[langId]] (which only ever shuffles doc-id-grouped
    * counts, not text). `sampleIdCol`/`sampleMod` take a DETERMINISTIC
    * hash-sample (keep rows with md5Long(id) % sampleMod == 0, ~1/sampleMod
    * of the corpus) so an independent engine can replay the exact sample —
    * unlike `df.sample`, whose RNG is engine-private.
    */
  def langProfiles(train: DataFrame, textCol: String, langCol: String,
                   topN: Int = 200,
                   sampleIdCol: Option[String] = None, sampleMod: Int = 4): DataFrame = {
    val base = sampleIdCol.fold(train)(id =>
      train.filter(pmod(md5Long(col(id).cast("string")), lit(sampleMod.toLong)) === 0))
    val tri = base
      .select(col(langCol).as("lang"), explode(charShingles(col(textCol), 3)).as("trigram"))
      .groupBy("lang", "trigram").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("lang")).orderBy(col("freq").desc, col("trigram"))
    tri.withColumn("rk", row_number().over(w)).filter(col("rk") <= topN)
      .select("lang", "trigram")
  }

  /** n-gram language ID: scores each doc against every profile — score =
    * number of the doc's trigram *occurrences* that appear in the profile —
    * and predicts the argmax (ties → lang asc). Profiles are tiny
    * (langs × topN) → broadcast join against the exploded doc trigrams;
    * one shuffle on the doc id to re-aggregate scores.
    */
  def langId(docs: DataFrame, idCol: String, textCol: String,
             profiles: DataFrame): DataFrame = {
    val tri = docs.select(col(idCol).as("id"),
      explode(charShingles(col(textCol), 3)).as("trigram"))
    val scored = tri.join(broadcast(profiles), Seq("trigram"))
      .groupBy(col("id"), col("lang")).agg(count(lit(1)).as("score"))
    // top-1 as an aggregation, not a window (guide §2.3): min over
    // (−score, lang) is highest score with ties to the SMALLEST lang —
    // exactly row_number's (score desc, lang asc) first row — with
    // map-side partial aggregation instead of a shuffle+sort of every
    // (id, lang) row. score is an exact integer count, so the negation
    // and the struct compare are exact.
    scored
      .groupBy(col("id"))
      .agg(min(struct((-col("score")).as("_ns"), col("lang"))).as("_b"))
      .select(col("id"), col("_b.lang").as("pred_lang"),
        (-col("_b._ns")).as("score"))
  }

  // --------------------------------------------------------------- quality

  /** Heuristic quality features + composite score, one projection pass:
    * n_chars, n_tokens, mean token length, stopword ratio, punctuation
    * ratio, distinct-token (type/token) ratio.
    * score = ttr * (1 - punct_ratio) * least(n_tokens/20, 1) — the kind of
    * cheap pre-filter a crawl pipeline runs before expensive model scoring.
    */
  def qualityScore(docs: DataFrame, textCol: String,
                   wsCol: Option[String] = None): DataFrame = {
    // words staged once as a column — every ratio below reads the attribute.
    // `wsCol` lets a composing operator (corpusFilter) share ONE split pass
    // across several word-consuming ops instead of re-splitting per op.
    val ws = col("_ws")
    val stop = typedLit(Stopwords)
    docs
      .withColumn("_ws", wsCol.map(col).getOrElse(words(col(textCol))))
      .withColumn("n_chars_q", length(col(textCol)).cast("long"))
      .withColumn("n_tokens", size(ws).cast("long"))
      .withColumn("mean_token_len",
        when(col("n_tokens") > 0,
          aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / col("n_tokens"))
          .otherwise(lit(null)))
      .withColumn("stopword_ratio",
        when(col("n_tokens") > 0,
          size(filter(ws, w => array_contains(stop, w))).cast("double") / col("n_tokens"))
          .otherwise(lit(null)))
      .withColumn("punct_ratio",
        when(col("n_chars_q") > 0,
          (col("n_chars_q") - length(regexp_replace(col(textCol), "[^\\p{L}\\p{N}\\s]", "")))
            .cast("double") / col("n_chars_q"))
          .otherwise(lit(null)))
      .withColumn("type_token_ratio",
        when(col("n_tokens") > 0,
          size(array_distinct(ws)).cast("double") / col("n_tokens")).otherwise(lit(null)))
      .withColumn("quality_score",
        col("type_token_ratio") * (lit(1.0) - coalesce(col("punct_ratio"), lit(0.0))) *
          least(col("n_tokens").cast("double") / 20.0, lit(1.0)))
      .drop("_ws")
  }

  // ---------------------------------------------------------------- tokens

  /** Token counts: whitespace tokens, BPE-ish regex tokens (word pieces =
    * letter/digit runs OR single non-space punctuation), and distinct
    * whitespace tokens.
    */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("_ws", words(col(textCol)))
      .withColumn("ws_tokens", size(col("_ws")).cast("long"))
      .withColumn("regex_tokens",
        size(regexp_extract_all(col(textCol),
          lit("[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0))).cast("long"))
      .withColumn("distinct_tokens", size(array_distinct(col("_ws"))).cast("long"))
      .drop("_ws")

  // ----------------------------------------------------------- fingerprint

  /** Bottom-k document fingerprint over character `n`-gram hashes
    * (a winnowing-style rolling sketch: the k smallest DISTINCT md5Long
    * values of all n-char windows). Equal texts ⇒ equal sketches; near-equal
    * texts share most sketch entries. Output column `fp` = array of ≤k longs
    * (asc), null when the text is shorter than n.
    *
    * Realized as the native one-pass [[graft.functions.FingerprintExpr]]
    * (thread-local digest, running bottom-k, no per-window string churn);
    * [[fingerprintDeclarative]] is the reference HOF formulation it is
    * property-tested equal to.
    */
  def fingerprint(text: Column, k: Int = 4, n: Int = 8): Column =
    graft.functions.FingerprintExpr(text, k, n)

  /** Declarative formulation of [[fingerprint]] — the parity oracle for the
    * native expression (~5× more per-window work: 4 intermediate strings per
    * window plus the full hash array per row).
    */
  private[graft] def fingerprintDeclarative(text: Column, k: Int = 4, n: Int = 8): Column = {
    // guard on length(text) (cheap attribute read), not on the hash array —
    // a size(hs)==0 guard would force a second evaluation of the whole array
    val hs = transform(
      sequence(lit(1), length(text) - (n - 1)),
      i => md5Long(text.substr(i, lit(n))))
    when(length(text) < n, lit(null).cast("array<long>"))
      .otherwise(slice(array_sort(array_distinct(hs)), 1, k))
  }

  // ----------------------------------------------------------- repetition

  /** Gopher-style repetition ratios — the standard web-corpus quality gate
    * for boilerplate/spam (pages that repeat the same phrases): for unit u ∈
    * {word, 2-gram, 3-gram}, `rep_u` = (occurrences − distinct)/occurrences,
    * i.e. the fraction of unit occurrences that are repeats of an earlier
    * one. 0 = no repetition, → 1 = the page is one phrase over and over.
    * Null when the text has no units of that size.
    *
    * Pure projection — the duplicate count comes from
    * `size(arr) − size(array_distinct(arr))` on per-row arrays, so there is
    * NO explode and NO shuffle; at 100 TB this runs at scan speed. Word and
    * shingle arrays are staged as real columns (Catalyst does not CSE
    * lambda-internal subtrees — Hashing.wordShinglesOf scaladoc).
    */
  def repetitionRatios(df: DataFrame, textCol: String,
                       wsCol: Option[String] = None): DataFrame = {
    def ratio(arr: Column): Column =
      when(size(arr) > 0,
        (size(arr) - size(array_distinct(arr))).cast("double") / size(arr).cast("double"))
    df.withColumn("_ws", wsCol.map(col).getOrElse(words(col(textCol))))
      .withColumn("_g2", wordShinglesOf(col("_ws"), 2))
      .withColumn("_g3", wordShinglesOf(col("_ws"), 3))
      .withColumn("rep_word", ratio(col("_ws")))
      .withColumn("rep_2gram", ratio(col("_g2")))
      .withColumn("rep_3gram", ratio(col("_g3")))
      .drop("_ws", "_g2", "_g3")
  }

  // ----------------------------------------------------------- redaction

  /** Email pattern shared with the oracle: RE2/Java-compatible (no
    * lookaround), so DuckDB `regexp_replace(..., 'g')` derives the identical
    * redaction.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** IPv4 pattern (word-bounded dotted quad; RE2/Java-compatible). */
  val Ipv4Re = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"

  /** PII scrubbing for training corpora: replaces emails with `<EMAIL>` and
    * IPv4 addresses with `<IP>` in `textCol` (output column `redacted`) and
    * counts matches per row (`n_emails`, `n_ips` — the audit trail a
    * compliance pipeline keeps). Emails are redacted FIRST so a digit-heavy
    * local part is never half-eaten by the IP pass. Pure projection: no
    * shuffle, runs at scan speed on any corpus size.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)))
      .withColumn("n_ips", regexp_count(col(textCol), lit(Ipv4Re)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"))

  // -------------------------------------------------------- corpus filter

  /** The canonical corpus-cleaning pass: quality score + repetition ratios +
    * token-count gates composed into a keep/drop decision with an audit
    * `drop_reason` (first failing gate, in gate order: too_short, too_long,
    * low_quality, repetitive; null = kept). Gates with a null feature (e.g.
    * `rep_3gram` on a 2-word doc) do not fire — the length gates own those
    * rows.
    *
    * One split pass: words are staged ONCE and shared by both feature ops
    * (`wsCol`), so the whole filter is a single projection pipeline over the
    * scan — no shuffle, no duplicated tokenization at 100 TB.
    */
  def corpusFilter(docs: DataFrame, textCol: String,
                   minQuality: Double = 0.15, maxRep3gram: Double = 0.5,
                   minTokens: Long = 5L, maxTokens: Long = 100000L): DataFrame = {
    val staged = docs.withColumn("_w", words(col(textCol)))
    val scored = repetitionRatios(
      qualityScore(staged, textCol, wsCol = Some("_w")),
      textCol, wsCol = Some("_w")).drop("_w")
    scored
      .withColumn("drop_reason",
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("n_tokens") > maxTokens, "too_long")
          .when(col("quality_score") < minQuality, "low_quality")
          .when(col("rep_3gram") > maxRep3gram, "repetitive"))
      .withColumn("keep", col("drop_reason").isNull)
  }

  // ------------------------------------------------------ decontamination

  /** Benchmark decontamination: for each candidate document, the fraction of
    * its distinct word-`n`-gram shingles that also occur anywhere in the
    * `benchmark` corpus — the standard eval-set-leakage check a training
    * pipeline runs before the corpus ships (n-gram containment, the
    * GPT-3/C4-style n-gram overlap rule — public methodology).
    *
    * Scale shape: the two sides are WILDLY asymmetric — candidates are the
    * 100 TB corpus, the benchmark is a few thousand eval documents — so the
    * benchmark's distinct shingle set is built once (small) and the join is
    * an equi-join on the shingle that Spark/AQE will BROADCAST; the corpus
    * side is exploded to (id, distinct shingle) but the exploded rows are
    * consumed map-side by the partial count — only (id, two longs) partials
    * reach the final shuffle. Containment (|D ∩ B| / |D|), not Jaccard — the
    * benchmark's size must not dilute a fully-contained short doc.
    *
    * @return one row per candidate: `(idCol, n_shingles, n_overlap,
    *         contamination)`; docs with fewer than `n` words have no
    *         shingles → n_shingles = 0, contamination null
    */
  def decontaminate(candidates: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String, shingleN: Int = 3): DataFrame = {
    val benchSet = benchmark
      .select(explode(wordShingles(col(textCol), shingleN)).as("_g"))
      .distinct()
    val docShingles = candidates
      .select(col(idCol), explode_outer(array_distinct(
        wordShingles(col(textCol), shingleN))).as("_g"))
    docShingles
      .join(broadcast(benchSet.withColumn("_hit", lit(1L))), Seq("_g"), "left")
      .groupBy(idCol)
      .agg(count(col("_g")).as("n_shingles"), // count skips the explode_outer null
        coalesce(sum(col("_hit")), lit(0L)).as("n_overlap"))
      .withColumn("contamination",
        when(col("n_shingles") > 0, col("n_overlap").cast("double") / col("n_shingles")))
  }

  // --------------------------------------------------------- tf-idf / bm25

  /** Per-(doc, term) TF-IDF with sklearn's smooth-idf definition
    * (TfidfTransformer, smooth_idf=True, no norm):
    *   idf(t) = ln((1 + N) / (1 + df_t)) + 1,   score = tf · idf
    * Tokens are lowercased whitespace words (the [[graft.functions.Hashing.words]]
    * parity contract).
    *
    * Plan: one shuffle of exploded (doc, term) tokens into the tf counts;
    * the df table is a second, vocabulary-sized aggregation OF THE COUNTS
    * (never re-touching text); N rides along as a broadcast 1-row frame —
    * no collect. At 100 TB the vocabulary's rare-term long tail dominates
    * the df table: `minDf` prunes it BEFORE the join back, which also
    * shrinks the join's build side.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
            minDf: Long = 1L): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(words(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfTab, Seq("term"))
      .join(n)
      .withColumn("tfidf",
        col("tf") * (log((lit(1) + col("n_docs")) / (lit(1) + col("df"))) + 1))
      .select(col("id"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** BM25 relevance of every document against a literal query term set
    * (Robertson et al., Okapi at TREC-3 — public):
    *   idf(t) = ln(1 + (N − df_t + 0.5) / (df_t + 0.5))
    *   s(d)   = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·len_d/avglen))
    * df_t counts documents containing t among ALL docs (not just matches).
    *
    * Plan: one narrow pass stages words and doc length; corpus N/avglen is
    * a broadcast 1-row aggregate; the `term isin query` filter lands ON THE
    * EXPLODE — everything aggregated afterwards is |query|-sparse. Docs
    * matching no query term score null (kept via left join — a ranking
    * consumer drops them, an audit consumer sees them).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String, query: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25 needs at least one query term")
    val staged = docs.select(col(idCol).as("id"), words(lower(col(textCol))).as("_ws"))
      .withColumn("len", size(col("_ws")).cast("double"))
    val stats = staged.agg(count(lit(1)).as("n_docs"), avg(col("len")).as("avg_len"))
    val tf = staged.select(col("id"), col("len"), explode(col("_ws")).as("term"))
      .filter(col("term").isin(query: _*))
      .groupBy("id", "len", "term").agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfTab), Seq("term"))
      .join(stats)
      .withColumn("idf",
        log(lit(1) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib", col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1) - b + lit(b) * col("len") / col("avg_len"))))
      .groupBy("id").agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_terms_hit"))
    docs.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .withColumn("n_terms_hit", coalesce(col("n_terms_hit"), lit(0L)))
  }

  /** C4-style LINE-level cleaning (Raffel et al. 2020 §2.2 rules, the
    * sub-document pass that runs before page-level gates like
    * [[corpusFilter]]): a line survives iff it
    *   - ends in terminal punctuation (`.` `!` `?` `"`) after trimming,
    *   - has at least `minWords` whitespace words, and
    *   - contains none of the (lowercased) `blacklist` boilerplate terms;
    * kept lines reassemble IN ORDER into `clean_text`. Line rules catch the
    * boilerplate a page-level score averages away — nav menus, cookie
    * banners, "enable javascript" stubs.
    *
    * One explode + one groupBy per doc (same shuffle shape as
    * [[graft.operators.Dedup.chunkDedup]]); all predicates codegen'd.
    * Output: (idCol, n_lines, n_kept, clean_text).
    */
  def lineFilter(docs: DataFrame, idCol: String, textCol: String,
                 minWords: Int = 5,
                 blacklist: Seq[String] = Seq("javascript", "cookie")): DataFrame = {
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    val trimmed = trim(col("line"))
    val keep = trimmed.rlike("[.!?\"]$") &&
      size(words(col("line"))) >= minWords &&
      blacklist.map(t => !lower(col("line")).contains(t)).reduce(_ && _)
    docs
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("_keep", keep)
      .groupBy(idCol)
      .agg(
        count(col("pos")).as("n_lines"),
        count(when(col("_keep"), lit(1))).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("_keep"), struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").as("clean_text"))
  }

  /** Unigram language-model fluency score: per-document cross-entropy (bits
    * per token) and perplexity against an add-1-smoothed unigram model
    * trained on a deterministic hash-sample of the corpus itself —
    *   p(w) = (c_w + 1) / (N + V),   OOV → 1 / (N + V),
    *   bits(d) = mean over tokens of −log₂ p(w),   ppl = 2^bits.
    * The standard cheap LM-quality gate for pretraining corpora (CCNet-style
    * filtering uses exactly this shape with a KenLM in place of the unigram
    * table): gibberish and boilerplate score high-perplexity against the
    * corpus's own distribution, fluent text scores low.
    *
    * Scale: the model is TABLE-SIZED, not corpus-sized — `sampleMod` trains
    * on a 1/mod deterministic hash-sample (same replayable `md5Long(id)`
    * gate as [[langProfiles]]), and `maxVocab` caps the vocabulary to the
    * top-N tokens (ties broken lexically) so the scoring join's build side
    * is bounded and broadcastable; tail tokens fall into the OOV mass,
    * whose normalizer (N + V) still comes from the FULL sampled counts, so
    * probabilities stay well-defined. Scoring is one explode + one
    * (broadcastable) vocab join + one per-doc aggregate. Token-less docs
    * surface with n_tokens = 0 and null bits via the final left join.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
              sampleMod: Int = 1, maxVocab: Option[Int] = None): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    maxVocab.foreach(n => require(n >= 1, s"maxVocab must be >= 1, got $n"))
    val train = if (sampleMod <= 1) docs else docs.filter(
      pmod(md5Long(col(idCol).cast("string")), lit(sampleMod.toLong)) === 0)
    val counts = train
      .select(explode(words(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("N"), count(lit(1)).as("V"))
    // with maxVocab set the build side is ≤ maxVocab rows post-limit:
    // hint broadcast EXPLICITLY so the exploded token stream never
    // shuffles — relying on AQE to convert leaves a sort-merge plan on
    // the table when the limit's stats arrive late (r4's slowest warm
    // query). The hint is applied only while the cap is plausibly
    // executor-memory-sized (≤ 2M entries ≈ tens of MB): a huge cap must
    // not force a driver-side broadcast where AQE would degrade
    // gracefully to a shuffle join. Unbounded vocab keeps the un-hinted
    // join (its size is corpus-dependent; AQE decides from the real
    // build size).
    val vocab = maxVocab.fold(counts) { n =>
      val capped = counts.orderBy(col("c").desc, col("tok")).limit(n)
      if (n <= 2000000) broadcast(capped) else capped
    }
    val bits = docs
      .select(col(idCol).as("id"), explode(words(col(textCol))).as("tok"))
      .join(vocab, Seq("tok"), "left")
      .join(totals)
      .withColumn("_bits",
        -(log((coalesce(col("c"), lit(0L)) + lit(1.0)) / (col("N") + col("V")))
          / log(lit(2.0))))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"), avg(col("_bits")).as("bits"))
    docs.select(col(idCol).as("id")).join(bits, Seq("id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("ppl", pow(lit(2.0), col("bits")))
      .withColumnRenamed("id", idCol)
  }

  /** Per-document vocabulary richness: token count, type count, type-token
    * ratio, and hapax ratio (share of types occurring exactly once in the
    * doc). Low TTR / low hapax flags template spam and keyword stuffing;
    * abnormally HIGH hapax flags gibberish — the lexical-diversity quality
    * gates of C4/Gopher-class corpus filters (Rae et al. 2021 §A1.1),
    * complementing [[quality]]'s surface ratios and the repetition gates.
    * One explode + two map-side-combinable aggregations; tokens are the
    * [[graft.functions.Hashing.words]] parity contract.
    */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("id"), explode(words(lower(col(textCol)))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    tf.groupBy("id")
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1, lit(1L)).otherwise(lit(0L))).as("n_hapax"))
      .withColumn("ttr", col("n_types") / col("n_tokens"))
      .withColumn("hapax_ratio", col("n_hapax") / col("n_types"))
      .withColumnRenamed("id", idCol)
  }

  /** Corpus-level Zipf fit: OLS slope of ln(freq) on ln(rank) over the
    * `topK` most frequent terms (natural text ≈ −1; strong deviation flags
    * a synthetic or boilerplate-dominated corpus — Piantadosi 2014 review).
    * The top-K cut is a distributed TakeOrdered (freq desc, term asc —
    * fully deterministic), NEVER a global window over the vocabulary; only
    * the K survivors pass through the single-task rank assignment.
    * Output: one row (zipf_slope, n_terms, max_freq).
    */
  def zipfSlope(docs: DataFrame, textCol: String, topK: Int = 100): DataFrame = {
    require(topK >= 2, s"topK must be >= 2, got $topK")
    val tf = docs
      .select(explode(words(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(topK)
    val ranked = tf.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("term"))))
    val x = log(col("rank").cast("double"))
    val y = log(col("freq").cast("double"))
    ranked.agg(count(lit(1)).cast("double").as("_n"),
        sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * y).as("_sxy"), sum(x * x).as("_sxx"),
        max(col("freq")).as("max_freq"))
      .withColumn("zipf_slope",
        (col("_n") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_n") * col("_sxx") - col("_sx") * col("_sx")))
      .withColumn("n_terms", col("_n").cast("long"))
      .select(col("zipf_slope"), col("n_terms"), col("max_freq"))
  }

  /** Bigram collocation detection by pointwise lift
    * p(ab) / (p(a)·p(b)) — the association measure behind PMI (Church &
    * Hanks 1990; lift IS exp(PMI), emitted un-logged so the score is pure
    * integer-count arithmetic: three IEEE divisions and one multiply in a
    * FIXED order, bit-identical across engines — no transcendental `ln`
    * whose last-ulp noise could flip a rounded compare).
    *
    * Counts: `n_ab` adjacent-pair occurrences, `n_a`/`n_b` token
    * occurrences, over totals B (bigram slots) and T (tokens). Pairs below
    * `minPairCount` are dropped BEFORE the unigram joins — at web scale the
    * pair table above a support floor is vocabulary-sized, not corpus-
    * sized, so both attach joins are cheap equi-joins; the totals ride in
    * on one broadcast of a 1-row frame (no driver action).
    *
    * Adjacent pairs come from exploding a literal index sequence over the
    * STAGED words array (the Catalyst-CSE rule on [[graft.functions.Hashing.wordShinglesOf]]):
    * one narrow pass, no self-join on positions.
    */
  def collocations(docs: DataFrame, textCol: String,
                   minPairCount: Long = 2L): DataFrame = {
    val ws = docs.select(words(col(textCol)).as("ws")).filter(size(col("ws")) > 0)
    val uni = ws.select(explode(col("ws")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val bi = ws.filter(size(col("ws")) >= 2)
      .select(col("ws"), explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(element_at(col("ws"), col("i")).as("term_a"),
        element_at(col("ws"), col("i") + 1).as("term_b"))
      .groupBy("term_a", "term_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    val tot = ws.agg(
      sum(size(col("ws"))).cast("long").as("t_total"),
      sum(greatest(size(col("ws")) - 1, lit(0))).cast("long").as("b_total"))
    bi
      .join(uni.select(col("term").as("term_a"), col("n").as("n_a")), "term_a")
      .join(uni.select(col("term").as("term_b"), col("n").as("n_b")), "term_b")
      .crossJoin(tot)
      .withColumn("lift",
        (col("n_ab").cast("double") / col("b_total").cast("double")) /
          ((col("n_a").cast("double") / col("t_total").cast("double")) *
            (col("n_b").cast("double") / col("t_total").cast("double"))))
      .select(col("term_a"), col("term_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("lift"))
  }

  /** Flesch reading-ease per document (Flesch 1948, public formula):
    *   206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    * with sentences = non-empty `[.!?]+`-delimited segments, words = the
    * engine's whitespace token rule, syllables ≈ non-overlapping
    * `[aeiouy]+` vowel groups (the standard cheap estimator). A corpus-
    * filtering quality feature (too-low = dense boilerplate/legalese,
    * implausibly-high = token soup); every count is an exact integer and
    * the formula is three fixed-order IEEE ops, so the score replays
    * bit-for-bit. Null when a doc has no sentence or no word.
    */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol).as("id"),
        size(filter(split(t, "[.!?]+"), s => trim(s) =!= "")).cast("long").as("n_sent"),
        size(words(t)).cast("long").as("n_words"),
        regexp_count(lower(t), lit("[aeiouy]+")).cast("long").as("n_syll"))
      .withColumn("flesch",
        when(col("n_sent") >= 1 && col("n_words") >= 1,
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sent").cast("double")) -
            lit(84.6) * (col("n_syll").cast("double") / col("n_words").cast("double"))))
  }

  /** Skip-gram (center, context) pair counts within a token `window` —
    * the co-occurrence table word2vec/GloVe trains from (Mikolov et al.
    * 2013, Pennington et al. 2014, public papers): for every token, every
    * neighbor within `window` positions on EITHER side counts once, so
    * the matrix is symmetric (both directions emitted). The LLM-pipeline
    * step that turns a raw corpus into embedding training pairs.
    *
    * Plan: stage the words array once, explode position × a LITERAL
    * offset sequence (the CollapseProject pitfall rule), emit both
    * orientations, ONE map-side-combined count. Output is linear in
    * corpus tokens × window; `minCount` prunes the long tail.
    */
  def skipGrams(docs: DataFrame, textCol: String, window: Int = 2,
                minCount: Long = 1L): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val ws = docs.select(words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= 2)
    val pairs = ws
      .select(col("ws"), explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(col("ws"), col("i"), explode(sequence(lit(1), lit(window))).as("d"))
      .filter(col("i") + col("d") <= size(col("ws")))
      .select(element_at(col("ws"), col("i")).as("a"),
        element_at(col("ws"), col("i") + col("d")).as("b"))
    pairs.select(col("a").as("center"), col("b").as("context"))
      .unionByName(pairs.select(col("b").as("center"), col("a").as("context")))
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Distinctive terms between two corpus slices by add-1-smoothed ODDS
    * RATIO (the rank statistic behind "Fightin' Words" log-odds, Monroe
    * et al. 2008, public paper — kept in ratio space deliberately: every
    * factor is a division of exact integer counts, so the score is a
    * fixed-order IEEE product/quotient both engines reproduce bit-for-bit,
    * where a log would lean on platform libm agreement).
    *
    *   or(w) = [(y_aw+1)/(n_a−y_aw+1)] / [(y_bw+1)/(n_b−y_bw+1)]
    *
    * with y the occurrence count of w in the slice and n the slice's total
    * token count. or ≫ 1 = characteristic of slice A, ≪ 1 of slice B.
    * `minCount` bounds the vocabulary (rare words carry no signal and
    * explode the output).
    *
    * Plan: one explode + one (word, slice) count + a 2-way pivot by
    * conditional sums + one scalar total row — all map-side combined.
    */
  def distinctiveTerms(docs: DataFrame, textCol: String, flagCol: String,
                       minCount: Long = 1L): DataFrame = {
    val toks = docs.select(col(flagCol).cast("boolean").as("_a"),
        explode(words(col(textCol))).as("word"))
    val perWord = toks.groupBy("word").agg(
      sum(when(col("_a"), 1L).otherwise(0L)).as("y_a"),
      sum(when(col("_a"), 0L).otherwise(1L)).as("y_b"))
    val totals = perWord.agg(sum(col("y_a")).as("n_a"), sum(col("y_b")).as("n_b"))
    perWord.filter(col("y_a") + col("y_b") >= minCount)
      .crossJoin(totals)
      .withColumn("odds_ratio",
        ((col("y_a") + 1L).cast("double") / (col("n_a") - col("y_a") + 1L).cast("double")) /
          ((col("y_b") + 1L).cast("double") / (col("n_b") - col("y_b") + 1L).cast("double")))
      .select(col("word"), col("y_a"), col("y_b"), col("odds_ratio"))
  }

  /** Burrows' Delta (Burrows 2002, "'Delta': a measure of stylistic
    * difference" — public; the standard stylometry / authorship-attribution
    * distance): over the corpus-wide `topM` most-frequent words, each text
    * GROUP's relative word frequency is z-scored across the groups, and the
    * distance between two groups is the mean absolute z-difference:
    *   Δ(a,b) = mean_w |z_{a,w} − z_{b,w}|,  z = (f − μ_w) / σ_w
    * Small Δ = same "stylistic fingerprint" (same boilerplate generator,
    * same author, same template farm) — the style-level companion to
    * content dedup ([[Dedup]]) for provenance clustering of web text.
    *
    * Plan: one tokenize+count pass, the top-M cut via distributed
    * `orderBy(count desc, word).limit(m)` (TakeOrderedAndProject, ranked on
    * exact integers — never a global row_number window), then everything
    * downstream lives at (group × M) grain: densify by cross join with the
    * broadcast word list (absent words are f=0, which the z-scores need),
    * per-word moments across groups, and a pairwise self-join on word.
    * Group count G is the caller's contract (authors/hosts/langs — bounded);
    * the pairwise stage is G²·M tiny rows.
    *
    * σ_w = 0 words (identical share in every group) carry no signal: their
    * z is null and `avg` skips them in both engines; `m_used` reports how
    * many words actually contributed.
    *
    * @return (group_a, group_b, m_used, delta) for group_a < group_b
    */
  def burrowsDelta(docs: DataFrame, groupCol: String, textCol: String,
                   topM: Int = 20): DataFrame = {
    require(topM >= 2, s"topM must be >= 2, got $topM")
    val g = col(groupCol)
    val toks = docs.filter(g.isNotNull && col(textCol).isNotNull)
      .select(g.as("_g"), explode(words(lower(col(textCol)))).as("word"))
    val cnt = toks.groupBy(col("_g"), col("word")).agg(count(lit(1)).as("_c"))
    val tot = cnt.groupBy(col("_g")).agg(sum(col("_c")).as("_n"))
    val top = cnt.groupBy(col("word")).agg(sum(col("_c")).as("_gc"))
      .orderBy(col("_gc").desc, col("word").asc).limit(topM)
      .select(col("word"))
    val dense = tot.crossJoin(broadcast(top))
      .join(cnt, Seq("_g", "word"), "left")
      .withColumn("f", coalesce(col("_c"), lit(0L)).cast("double") /
        col("_n").cast("double"))
      .select(col("_g"), col("word"), col("f"))
    val stats = dense.groupBy(col("word"))
      .agg(avg(col("f")).as("_mu"), stddev_pop(col("f")).as("_sd"))
    val z = dense.join(broadcast(stats), Seq("word"))
      .withColumn("z", when(col("_sd") > 0, (col("f") - col("_mu")) / col("_sd")))
      .select(col("_g"), col("word"), col("z"))
    val a = z.select(col("_g").as("group_a"), col("word"), col("z").as("_za"))
    val b = z.select(col("_g").as("group_b"), col("word"), col("z").as("_zb"))
    a.join(b, Seq("word"))
      .filter(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(abs(col("_za") - col("_zb"))).as("m_used"),
        avg(abs(col("_za") - col("_zb"))).as("delta"))
  }

  /** Yule's characteristic K (Yule 1944) per group — the length-robust
    * vocabulary-repetitiveness constant ([[vocabulary]]'s TTR shrinks with
    * document size; K doesn't):
    *   K = 10⁴ · (Σ_w m_w² − N) / N²    (m_w = term frequency, N = tokens)
    * High K = template/boilerplate-heavy text (few words doing most of the
    * work) — a corpus-quality screen beside [[zipfSlope]]. The statistic is
    * INTEGER arithmetic up to one division (cross-engine exact). Two
    * partial-aggregable shuffles, term grain then group grain.
    * Output: (groups..., n_tokens, vocab, yules_k).
    */
  def yulesK(docs: DataFrame, groupCols: Seq[String], textCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val tf = docs
      .select((keys :+ explode(words(lower(col(textCol)))).as("term")): _*)
      .groupBy((keys :+ col("term")): _*).agg(count(lit(1)).as("_m"))
    tf.groupBy(keys: _*)
      .agg(sum(col("_m")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(col("_m") * col("_m")).as("_mm"))
      .withColumn("yules_k", when(col("n_tokens") > 0,
        lit(1e4) * (col("_mm") - col("n_tokens")).cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double")))
      .select((keys :+ col("n_tokens") :+ col("vocab") :+ col("yules_k")): _*)
  }

  /** Heaps'-law fit per group (Heaps 1978): vocabulary growth V ≈ k·N^β
    * across the group's documents, fit by OLS of ln V on ln N over per-doc
    * (tokens, types) points — β ≈ 0.4–0.6 for natural text; β → 1 flags
    * near-random token streams, β → 0 heavy template reuse. Companion
    * diagnostic to [[yulesK]] and [[zipfSlope]]. Per-doc counts are one
    * term-grain aggregate ([[vocabulary]]'s plan); the fit is a five-moment
    * closed form per group. Docs with < 1 token are excluded; degenerate
    * designs (constant ln N) emit nulls.
    * Output: (groups..., n_docs, beta, k).
    */
  def heapsFit(docs: DataFrame, groupCols: Seq[String], idCol: String,
               textCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val perDoc = docs
      .select((keys :+ col(idCol).as("_id") :+
        explode(words(lower(col(textCol)))).as("term")): _*)
      .groupBy((keys :+ col("_id") :+ col("term")): _*)
      .agg(count(lit(1)).as("_tf"))
      .groupBy((keys :+ col("_id")): _*)
      .agg(sum(col("_tf")).as("_n"), count(lit(1)).as("_v"))
      .filter(col("_n") >= 1 && col("_v") >= 1)
      .withColumn("_x", log(col("_n").cast("double")))
      .withColumn("_y", log(col("_v").cast("double")))
    perDoc.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_x") * col("_y")).as("_sxy"))
      .withColumn("_nd", col("n_docs").cast("double"))
      .withColumn("_den", col("_nd") * col("_sxx") - col("_sx") * col("_sx"))
      .withColumn("beta", when(col("_den") > 0,
        (col("_nd") * col("_sxy") - col("_sx") * col("_sy")) / col("_den")))
      .withColumn("k",
        exp(col("_sy") / col("_nd") - col("beta") * (col("_sx") / col("_nd"))))
      .select((keys :+ col("n_docs") :+ col("beta") :+ col("k")): _*)
  }

  /** TextRank keyword scores (Mihalcea & Tarau 2004): PageRank over the
    * word co-occurrence graph — nodes are the `topN` corpus terms (total
    * frequency, ties broken by term — a distributed TakeOrdered cut, never
    * a full-vocab window), edges are ADJACENT-token pairs whose both ends
    * survive the cut, undirected with co-occurrence weights. `iterations`
    * rounds of `s_i = (1−d) + d·Σ_{j∼i} (w_ij / W_j)·s_j` from the all-ones
    * start (W_j = total incident weight). Per-round cost is one broadcast-
    * size join on the bounded node set — the corpus-size work is only the
    * single bigram aggregation. Output: (term, freq, score) for all topN
    * nodes (rank downstream on the ROUNDED score, term tiebreak — the
    * cross-engine rank-cut rule).
    */
  def textRank(docs: DataFrame, textCol: String, topN: Int = 50,
               iterations: Int = 4, damping: Double = 0.85): DataFrame = {
    require(topN >= 2 && iterations >= 1)
    val ws = docs.select(words(lower(col(textCol))).as("ws"))
      .filter(size(col("ws")) > 0)
    // topN rows, but referenced ~8× (both ends of the edge filter, every
    // iteration's rebuild, the final join) — each reference re-tokenizes
    // and re-aggregates the whole corpus unless materialized once
    val nodes = ws.select(explode(col("ws")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(topN)
      .localCheckpoint()
    val pairs = ws.filter(size(col("ws")) >= 2)
      .select(col("ws"), explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(element_at(col("ws"), col("i")).as("a"),
        element_at(col("ws"), col("i") + 1).as("b"))
      .filter(col("a") =!= col("b"))
      .join(broadcast(nodes.select(col("term").as("a"))), "a")
      .join(broadcast(nodes.select(col("term").as("b"))), "b")
      .select(least(col("a"), col("b")).as("x"),
        greatest(col("a"), col("b")).as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("w"))
    // directed both ways; out-strength of the SOURCE divides its vote
    val dir0 = pairs.select(col("x").as("src"), col("y").as("dst"), col("w"))
      .unionByName(pairs.select(col("y").as("src"), col("x").as("dst"), col("w")))
    val strength = dir0.groupBy(col("src")).agg(sum(col("w")).as("wsrc"))
    val dir = dir0.join(strength, "src").localCheckpoint()
    var scores = nodes.select(col("term"), lit(1.0).as("score"))
    for (_ <- 1 to iterations) {
      // isolated nodes re-enter via a zero vote row unioned into the SAME
      // aggregation — one fewer join per iteration; +0.0 is exact, so
      // scores match the join+coalesce formulation bit for bit
      scores = dir.join(scores.withColumnRenamed("term", "src"), "src")
        .select(col("dst").as("term"),
          (col("w").cast("double") / col("wsrc").cast("double") *
            col("score")).as("_v"))
        .unionByName(nodes.select(col("term"), lit(0.0).as("_v")))
        .groupBy("term").agg(sum(col("_v")).as("_in"))
        .select(col("term"), (lit(1.0 - damping) +
          lit(damping) * col("_in")).as("score"))
    }
    nodes.join(scores, "term").select(col("term"), col("freq"), col("score"))
  }

  /** Good–Turing frequency smoothing over the corpus vocabulary (Good
    * 1953): with N_r = #terms seen exactly r times, the adjusted count is
    * `r* = (r+1)·N_{r+1}/N_r` and the unseen-mass estimate is
    * `p0 = N_1/N` (N = total tokens). The workhorse sanity check for
    * language-model count tables: r* far from r flags an unreliable
    * frequency band. Pure integer count arithmetic (bit-exact
    * cross-engine). Output: one row per r in 1..maxR:
    * (r, n_r, n_r_next, r_star, p_unseen); r_star null when N_r or
    * N_{r+1} is 0.
    */
  def goodTuring(docs: DataFrame, textCol: String, maxR: Int = 5): DataFrame = {
    require(maxR >= 1)
    val tf = docs.select(explode(words(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("r"))
    val nr = tf.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val tot = tf.agg(sum(col("r")).as("_n_tokens"),
      sum(when(col("r") === 1L, 1L).otherwise(0L)).as("_n1"))
    val rs = docs.sparkSession.range(1, maxR + 1).toDF("r")
    rs.join(broadcast(nr), Seq("r"), "left")
      .join(broadcast(nr.select((col("r") - 1L).as("r"),
        col("n_r").as("n_r_next"))), Seq("r"), "left")
      .crossJoin(tot)
      .withColumn("n_r", coalesce(col("n_r"), lit(0L)))
      .withColumn("n_r_next", coalesce(col("n_r_next"), lit(0L)))
      .withColumn("r_star", when(col("n_r") > 0 && col("n_r_next") > 0,
        (col("r") + 1L).cast("double") * col("n_r_next").cast("double") /
          col("n_r").cast("double")))
      .withColumn("p_unseen",
        col("_n1").cast("double") / col("_n_tokens").cast("double"))
      .select(col("r"), col("n_r"), col("n_r_next"), col("r_star"),
        col("p_unseen"))
  }

  /** Dunning log-likelihood keyness G² (Dunning 1993) between the two
    * corpus halves split by a boolean `flagCol`: per term,
    * `G² = 2·(a·ln(a/E_a) + b·ln(b/E_b))` with a/b the term counts in
    * each half, `E_a = N_A·(a+b)/(N_A+N_B)` the equal-rate expectation,
    * and zero-count terms contributing 0 to their side (x·ln(x/E) → 0).
    * The log-likelihood cousin of the odds-ratio distinctive-terms view
    * (q245) — G² stays calibrated when a or b is tiny. `over` marks which
    * side overuses the term. One term-count aggregation (integer), one
    * broadcast of the two totals. Output: (term, y_a, y_b, g2, over)
    * for terms with a+b ≥ minCount (integer cut, deterministic).
    */
  def keynessG2(docs: DataFrame, textCol: String, flagCol: String,
                minCount: Long = 10L): DataFrame = {
    val tf = docs
      .select(col(flagCol).cast("boolean").as("fl"),
        explode(words(lower(col(textCol)))).as("term"))
      .groupBy("term")
      .agg(sum(when(col("fl"), 1L).otherwise(0L)).as("y_a"),
        sum(when(!col("fl"), 1L).otherwise(0L)).as("y_b"))
      .filter(col("y_a") + col("y_b") >= minCount)
    val tot = tf.agg(sum(col("y_a")).as("_na"), sum(col("y_b")).as("_nb"))
    val na = col("_na").cast("double")
    val nb = col("_nb").cast("double")
    val ea = na * (col("y_a") + col("y_b")).cast("double") / (na + nb)
    val eb = nb * (col("y_a") + col("y_b")).cast("double") / (na + nb)
    val termA = when(col("y_a") > 0,
      col("y_a").cast("double") * log(col("y_a").cast("double") / ea))
      .otherwise(lit(0.0))
    val termB = when(col("y_b") > 0,
      col("y_b").cast("double") * log(col("y_b").cast("double") / eb))
      .otherwise(lit(0.0))
    tf.crossJoin(tot)
      .withColumn("g2", lit(2.0) * (termA + termB))
      .withColumn("over",
        when(col("y_a").cast("double") * nb > col("y_b").cast("double") * na,
          lit("a")).otherwise(lit("b")))
      .select(col("term"), col("y_a"), col("y_b"), col("g2"), col("over"))
  }
}
