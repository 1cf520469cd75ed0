package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.functions.{KernelCall, roundHalfUp}

/** Text-analysis operators for LLM training-data pipelines
  * (SURVEY.md §2 C8-C11) over the `documents` table.
  *
  * All hot paths are codegen'd built-ins (split/regexp/higher-order
  * array functions) — zero UDFs, so whole-stage codegen spans the full
  * operator and the same semantics are expressible in the DuckDB oracle.
  * Per-document work is embarrassingly parallel: no shuffle at all until
  * an (optional) final aggregate.
  */
object TextAnalysis {

  /** Whitespace-normalized, lowercased text (shared normalization step). */
  private def norm: Column =
    lower(trim(regexp_replace(col("text"), "\\s+", " ")))

  private[operators] def wsTokens(c: Column): Column = split(trim(c), "\\s+")

  /** C10: token counting — whitespace tokens + a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation).
    */
  def tokenCount(t: Tables): DataFrame =
    t.documents
      .select(
        col("doc_id"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(wsTokens(col("text"))).cast("long")).as("n_ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("n_re_tokens"))

  /** C69: tokenizer-fertility audit per language — subword-ish tokens
    * per whitespace word and UTF-8 bytes per token, the numbers that
    * decide whether a tokenizer is fair to a language (high fertility =
    * more sequence positions per word = more compute per unit text) and
    * that convert corpus bytes into training-token budgets (C28/C58's
    * planning input). Uses C10's exact token definitions so the two
    * audits can never disagree.
    *
    * ONE zero-shuffle narrow scan + one language-cardinality map-side-
    * combinable aggregate; ratios are exact integer quotients rounded
    * at the boundary.
    */
  def tokFertility(t: Tables): DataFrame = {
    val ws = when(length(trim(col("text"))) === 0, 0L)
      .otherwise(size(wsTokens(col("text"))).cast("long"))
    val re = regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")
    t.documents
      .select(col("lang"), ws.as("ws"), re.as("re"), octet_length(col("text")).cast("long").as("bytes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_ws_tokens"),
        sum(col("re")).as("n_re_tokens"), sum(col("bytes")).as("n_bytes"))
      .withColumn("fertility", roundHalfUp(
        col("n_re_tokens").cast("double") / greatest(col("n_ws_tokens"), lit(1L)).cast("double"), 4))
      .withColumn("bytes_per_token", roundHalfUp(
        col("n_bytes").cast("double") / greatest(col("n_re_tokens"), lit(1L)).cast("double"), 4))
  }

  /** C70: per-domain URL profile — extract every linked host and report
    * mentions / distinct docs per domain. This is the input to domain-
    * level curation (blocklists, per-domain caps, provenance audits) —
    * the web-corpus complement to C36's per-SOURCE caps, at the
    * granularity crawls are actually filtered at.
    *
    * Host parsing is pure regex algebra on C15's URL pattern (scheme ·
    * host stops at `/ : ? #`, then a leading `www.` strips) — RE2-safe
    * constructs only, so the oracle runs the literally identical chain.
    * Scale shape: one narrow scan with array-side extraction, one
    * map-side-combinable (domain, doc) distinct-free aggregate pair —
    * mentions = count, docs = count over the (domain, doc_id) distinct
    * relation, same cost class as C26.
    */
  def domainCounts(t: Tables, topK: Int = 50): DataFrame = {
    val hosts = transform(
      regexp_extract_all(col("text"), lit(piiUrlPattern), lit(0)),
      u => regexp_replace(
        regexp_extract(u, "https?://([^/:?#\\s]+)", 1), "^www\\.", ""))
    val m = t.documents
      .select(col("doc_id"), explode(hosts).as("domain"))
      .filter(length(col("domain")) > 0)
    m.groupBy(col("domain"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("domain"))
      .agg(sum(col("c")).cast("long").as("mentions"), count(lit(1)).as("n_docs"))
      .orderBy(col("mentions").desc, col("domain"))
      .limit(topK)
  }

  /** C53: text normalization — the canonical-form pass web-scale corpora
    * run before any hashing/dedup touches the text (a byte-different,
    * canonically-equivalent doc would otherwise evade every exact and
    * near-dup hash): strip C0/DEL control characters (keeping \t \n \r,
    * which the whitespace collapse then folds), collapse whitespace runs
    * to one space, and apply Unicode NFC (UAX #15) via the native
    * `graft_nfc` expression — Spark has no built-in normalizer; the JDK
    * and DuckDB both implement the same Unicode tables, so the oracle
    * compare is byte-exact. Zero-shuffle narrow scan; the NFC kernel's
    * quick-check fast path makes already-normalized text allocation-free.
    */
  def normalizeText(t: Tables): DataFrame = {
    val stripped = regexp_replace(col("text"),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val norm = call_function("graft_nfc",
      regexp_replace(trim(stripped), "\\s+", " "))
    t.documents.select(col("doc_id"), norm.as("norm_text"),
      (norm =!= col("text")).as("changed"),
      length(norm).cast("long").as("n_chars_norm"))
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** C9: document quality scoring — length, word, punctuation and stopword
    * ratios combined into one score (the classic heuristic pre-filter for
    * LLM corpora). Pure column algebra; one pass over the text.
    */
  def qualityScore(t: Tables): DataFrame = {
    val toks = wsTokens(col("text"))
    val nWords = when(length(trim(col("text"))) === 0, 0L).otherwise(size(toks).cast("long"))
    val nonSpace = length(regexp_replace(col("text"), "\\s", ""))
    // single-pass native kernel. SEMANTIC CHANGE vs round 1 (deliberate):
    // the kernel lowercases tokens, so stopword matching is now
    // case-insensitive — consistent with langId; the oracle SQL lowers
    // identically
    val nStop = expr(s"element_at(graft_stopword_hits(text, '${stopwords.mkString(",")}'), 1)")
    val nPunct = regexp_count(col("text"), lit("[.!?,;:]")).cast("long")
    t.documents
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("n_chars"),
        nWords.as("n_words"), nonSpace.cast("long").as("n_nonspace"),
        nStop.as("n_stop"), nPunct.as("n_punct"))
      .withColumn("avg_word_len",
        when(col("n_words") === 0, 0.0)
          .otherwise(roundHalfUp(col("n_nonspace").cast("double") / col("n_words"), 4)))
      .withColumn("stop_ratio",
        when(col("n_words") === 0, 0.0)
          .otherwise(roundHalfUp(col("n_stop").cast("double") / col("n_words"), 4)))
      .withColumn("punct_ratio",
        when(col("n_chars") === 0, 0.0)
          .otherwise(roundHalfUp(col("n_punct").cast("double") / col("n_chars"), 4)))
      .withColumn("quality",
        roundHalfUp(lit(0.4) * least(col("n_words").cast("double") / 100.0, lit(1.0))
          + lit(0.3) * col("stop_ratio") * 5.0
          + lit(0.3) * (lit(1.0) - col("punct_ratio")), 4))
      .select(col("doc_id"), col("n_chars"), col("n_words"), col("avg_word_len"),
        col("stop_ratio"), col("punct_ratio"), col("quality"))
  }

  /** C77: readability scoring — Flesch Reading Ease and Flesch–Kincaid
    * grade level per document (Flesch 1948 / Kincaid 1975): the
    * audience-level complement of [[qualityScore]]'s surface ratios, and
    * a standard curation axis for instruction/edu corpora ("keep
    * standard-difficulty prose, drop word salad and legalese").
    *
    * Syllables use the classic vowel-group heuristic: a syllable per
    * maximal run of [aeiouy], with a floor of one per word (vowelless
    * tokens — numbers, acronyms — count 1). Words are non-space runs;
    * sentences count [.!?]+ runs with a floor of 1. All three are exact
    * integers from non-overlapping regexp counts (patterns chosen
    * Java-regex/RE2-identical, the C15 discipline), so both formulas are
    * ONE fixed-order double expression over exact integers —
    * bit-identical cross-engine under the 4-dp round. The difficulty
    * band cuts on the ROUNDED score, so a boundary document cannot band
    * differently per engine.
    *
    * Scale shape: one zero-shuffle codegen scan; adding a formula adds a
    * column, never a pass.
    */
  def readability(t: Tables): DataFrame = {
    // explicit non-space class, NOT \S: Java's \s includes vertical tab
    // \x0B while RE2's does not, so \S diverges cross-engine on a
    // VT-bearing document — [^ \t\n\r\f\x0B] spells both engines the
    // same set (r14 ADVICE)
    val nonSpace = "[^ \\t\\n\\r\\f\\x0B]"
    val words = regexp_count(col("text"), lit(s"$nonSpace+")).cast("long")
    val sents = greatest(lit(1L), regexp_count(col("text"), lit("[.!?]+")).cast("long"))
    val vgroups = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    val vwords = regexp_count(lower(col("text")), lit(s"$nonSpace*[aeiouy]$nonSpace*")).cast("long")
    t.documents
      .select(col("doc_id"), words.as("n_words"), sents.as("n_sents"),
        (vgroups + (words - vwords)).as("n_syll"))
      .withColumn("fre",
        when(col("n_words") === 0, lit(null).cast("double"))
          .otherwise(roundHalfUp(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
            - lit(84.6) * (col("n_syll").cast("double") / col("n_words")), 4)))
      .withColumn("fk_grade",
        when(col("n_words") === 0, lit(null).cast("double"))
          .otherwise(roundHalfUp(lit(0.39) * (col("n_words").cast("double") / col("n_sents"))
            + lit(11.8) * (col("n_syll").cast("double") / col("n_words")) - lit(15.59), 4)))
      .withColumn("band",
        when(col("fre").isNull, "empty")
          .when(col("fre") >= 70.0, "easy")
          .when(col("fre") >= 50.0, "standard")
          .when(col("fre") >= 30.0, "difficult")
          .otherwise("very_difficult"))
  }

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "de", "et", "un"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "zai4"))

  /** C8: language identification — stopword-profile hit counts with a
    * deterministic alphabetical tie-break. The profile table is a plan-time
    * constant (broadcast-free: folded into the expression).
    */
  def langId(t: Tables): DataFrame = {
    // ONE tokenizing pass scores every profile (the per-profile HOF form
    // re-ran the split for each language); flat-projection references are
    // inside codegen subexpression elimination's reach, unlike lambdas
    val spec = langProfiles.map(_._2.mkString(",")).mkString("|")
    val scored = t.documents.select(
      (col("doc_id") +: col("lang").as("true_lang") +:
        langProfiles.zipWithIndex.map { case ((l, _), i) =>
          expr(s"element_at(graft_stopword_hits(text, '$spec'), ${i + 1})").as(s"s_$l")
        }): _*)
    val langs = langProfiles.map(_._1)
    // argmax with alphabetical preference on ties
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) { case ((l, i), els) =>
      val rest = langs.drop(i + 1).map(x => col(s"s_$x"))
      when(col(s"s_$l") >= rest.reduceLeft((a, b) => greatest(a, b)), l).otherwise(els)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** C11: document fingerprinting — md5 of normalized text plus a 64-bit
    * polynomial rolling hash (base 31 mod 1e9+7) via the higher-order
    * `aggregate` — sequential fold, deterministic, codegen-friendly.
    * The DataFrame form exists so incremental pipelines
    * ([[refreshIncremental]]) can run it over a delta-restricted corpus.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm", norm)
      .select(
        col("doc_id"),
        md5(col("norm")).as("md5_hash"),
        expr("graft_rolling_hash(norm)").as("poly_hash"))

  def fingerprint(t: Tables): DataFrame = fingerprint(t.documents)

  /** C13: repetition ratio — fraction of duplicate word k-grams per
    * document (the Gopher-style repetition quality signal). Distinct
    * k-gram counts reuse the single-pass Kernels.shingleHashes kernel (the same
    * hash as the dedup pipeline), so the whole operator is one narrow
    * codegen'd pass; ratio = 1 − distinct/total.
    */
  def textRepetition(t: Tables, k: Int = 2): DataFrame =
    t.documents
      .withColumn("n_toks",
        when(length(trim(col("text"))) === 0, 0L).otherwise(size(wsTokens(col("text"))).cast("long")))
      .withColumn("n_grams", when(col("n_toks") < k, 1L).otherwise(col("n_toks") - (k - 1)))
      .withColumn("n_distinct", size(expr(s"graft_shingle_hashes(text, $k)")).cast("long"))
      .select(col("doc_id"), col("n_toks"), col("n_grams"), col("n_distinct"),
        roundHalfUp(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 4).as("rep_ratio"))

  /** C14: top tf-idf term per document — explode to (doc, term), tf via
    * one shuffle on (doc, term), document frequency via a vocab-sized
    * aggregate (shuffle-joined: vocab is NOT broadcast-safe at corpus
    * scale), smoothed idf = ln((N+1)/(df+1)), and a top-1-per-doc window.
    * Ranking uses the half-up-rounded score with an alphabetical
    * tie-break so it is deterministic across engines.
    */
  def tfidfTop(t: Tables): DataFrame = {
    val tokens = t.documents
      .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = tokens.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // tf's key set IS the distinct (doc, term) pairs — df comes from it
    // directly, sparing a second explode + distinct over the token stream
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = t.documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        roundHalfUp(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** C15: PII surface counts — emails / URLs / phone-shaped tokens via
    * codegen'd regexp_count (patterns chosen to behave identically under
    * Java regex and RE2). The redaction complement is `regexp_replace`
    * with the same patterns; counts are the audit surface.
    */
  /** Shared PII patterns — [[piiCount]] and [[piiRedact]] MUST stay in
    * lockstep, so both read these. Phone forms covered: `555-123-4567`,
    * `555.123.4567`, `555 123 4567`, `(555) 123-4567`, `+1 555-123-4567`,
    * `+44 123 456 7890`-style (1-2 digit country code). Only constructs
    * with identical semantics in Java regex and RE2 (no lookaround, no
    * backrefs, leftmost-first alternation) — the oracle runs the same
    * patterns in DuckDB.
    */
  private[graft] val piiUrlPattern = "https?://[^\\s]+"
  private[graft] val piiEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Trailing boundary: RE2 has no lookahead, so the guard is a captured
    * `([^0-9]|$)` — it stops the 10-digit prefix of a longer digit run
    * from matching (e.g. `555.123.45678` is NOT a phone) and the
    * redaction writes the captured char back (`[PHONE]$3`). Leading
    * digits are unguarded by design (a phone glued to leading digits is
    * not a shape the corpus produces; documented false-positive).
    */
  private[graft] val piiPhonePattern =
    "(\\+\\d{1,2}[-. ]?)?(\\(\\d{3}\\)[-. ]?|\\d{3}[-. ])\\d{3,4}[-. ]\\d{4}([^0-9]|$)"

  def piiCount(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        regexp_count(col("text"), lit(piiEmailPattern)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(piiUrlPattern)).cast("long").as("n_urls"),
        regexp_count(col("text"), lit(piiPhonePattern)).cast("long").as("n_phones"))
      .withColumn("has_pii", (col("n_emails") + col("n_urls") + col("n_phones")) > 0)

  /** C15b: PII REDACTION — the action [[piiCount]] audits for. One
    * codegen'd pass rewrites each detected span to a typed placeholder,
    * in a fixed order mirrored by the oracle: URLs first (an
    * email-shaped token inside a URL must redact as part of the URL),
    * then emails, then phone-shaped tokens. Per-kind counts are taken
    * against the text as it stood at that step, so they sum to the
    * number of placeholders actually inserted. Pure `regexp_replace` /
    * `regexp_count` — no UDFs, no shuffle, scan-shaped at any corpus
    * size.
    */
  def piiRedact(t: Tables): DataFrame = {
    val url = piiUrlPattern
    val email = piiEmailPattern
    val phone = piiPhonePattern
    val t1 = regexp_replace(col("text"), url, "[URL]")
    val t2 = regexp_replace(t1, email, "[EMAIL]")
    // $3 restores the consumed boundary char ("" when $ matched)
    val t3 = regexp_replace(t2, phone, "[PHONE]$3")
    t.documents
      .select(col("doc_id"), t3.as("redacted"),
        regexp_count(col("text"), lit(url)).cast("long").as("n_urls"),
        regexp_count(t1, lit(email)).cast("long").as("n_emails"),
        regexp_count(t2, lit(phone)).cast("long").as("n_phones"))
  }

  /** C23: benchmark decontamination — flag corpus documents sharing any
    * k-gram with a benchmark/eval set (the standard pre-training hygiene
    * pass). The benchmark's distinct shingle hashes aggregate to a
    * benchmark-sized relation; the corpus side explodes its shingles and
    * semi-joins — at scale the benchmark set is broadcast, so the pass
    * is one narrow scan of the corpus with zero corpus shuffle before
    * the per-doc distinct count.
    */
  def decontaminate(t: Tables, benchMaxId: Long = 25L, k: Int = 5): DataFrame = {
    val shingle = s"graft_shingle_hashes(text, $k)"
    val benchHashes = t.documents.filter(col("doc_id") < benchMaxId)
      .select(explode(expr(shingle)).as("h")).distinct()
    val corpus = t.documents.filter(col("doc_id") >= benchMaxId)
      .select(col("doc_id"), explode(expr(shingle)).as("h"))
    corpus.join(broadcast(benchHashes), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared_grams"))
  }

  /** C23c: FUZZY decontamination — [[decontaminate]]'s exact k-gram
    * match misses paraphrased leaks (reworded benchmark items share few
    * exact 5-grams). This variant flags corpus docs whose shingle-set
    * Jaccard against ANY benchmark doc clears a threshold, using the
    * same two-phase shape as the dedup pipeline: banded MinHash between
    * corpus and benchmark for candidates (the benchmark band relation is
    * broadcast — at 100 TB the corpus pays one narrow signature pass and
    * zero shuffle before the survivors-only confirm), then exact Jaccard
    * on candidates via the inverted-index join (never a cross product).
    */
  def decontaminateFuzzy(t: Tables, benchMaxId: Long = 25L, k: Int = 3,
                         nBands: Int = 8, rowsPerBand: Int = 4,
                         threshold: Double = 0.5): DataFrame = {
    // every relation below carries its side's doc_id bound EXPLICITLY
    // (pushed to the parquet scan) — correctness of the corpus/bench
    // split must not depend on the optimizer's constraint propagation,
    // and the bench-side branches scan 25 docs, not the corpus
    val shingle = s"graft_shingle_hashes(text, $k)"
    def hashed(side: Column => Column) = t.documents.filter(side(col("doc_id")))
      .select(col("doc_id"), expr(shingle).as("hs"))
    val corpusHashed = hashed(_ >= benchMaxId)
    val benchHashed = hashed(_ < benchMaxId)
    def bands(df: DataFrame) = df.select(col("doc_id"),
      posexplode(expr(s"graft_minhash_bands(hs, $nBands, $rowsPerBand)"))
        .as(Seq("band_idx", "band_hash")))
    val cands = bands(corpusHashed)
      .join(broadcast(bands(benchHashed).withColumnRenamed("doc_id", "bench_id")),
        Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("bench_id")).distinct()
    // per-doc distinct-shingle count is the hs array size — same narrow
    // scan branch as the explode, never a second kernel pass per side
    def shingles(df: DataFrame) = df.select(col("doc_id"), explode(col("hs")).as("h"))
    def counts(df: DataFrame) = df.select(col("doc_id"), size(col("hs")).cast("long").as("nh"))
    val common = cands
      .join(shingles(corpusHashed), Seq("doc_id"))
      .join(shingles(benchHashed).toDF("bench_id", "h"), Seq("bench_id", "h"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("common"))
    cands
      .join(common, Seq("doc_id", "bench_id"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .join(counts(corpusHashed), Seq("doc_id"))
      .join(counts(benchHashed).toDF("bench_id", "nh_b"), Seq("bench_id"))
      .withColumn("jac", col("common").cast("double") / (col("nh") + col("nh_b") - col("common")))
      .filter(col("jac") >= threshold)
      .select(col("doc_id"), col("bench_id"), roundHalfUp(col("jac"), 4).as("jaccard"))
  }

  /** C24: the curation DECISION — every narrow quality signal (C8 lang
    * ID, C9 quality score, C13 repetition ratio, C27 Gopher rules)
    * evaluated in ONE codegen'd scan with a combined keep/drop verdict:
    * the single pass a real corpus pipeline runs where running the four
    * operators separately would scan (and in a naive join, shuffle) the
    * corpus four times. Formulas are expression-identical to the
    * individual operators, so each emitted signal matches its own
    * oracle. Compose with the dedup pipeline (C2c `dedupApply`) for the
    * full curate-then-dedup flow; this operator stays shuffle-free.
    */
  def curate(t: Tables, minQuality: Double = 0.5, maxRep: Double = 0.2,
             minWords: Int = 25, maxWords: Int = 80): DataFrame = {
    val toksLower = wsTokens(lower(col("text")))
    val stopArr = array(stopwords.map(lit): _*)
    val nWords = when(length(trim(col("text"))) === 0, 0L)
      .otherwise(size(wsTokens(col("text"))).cast("long"))
    val nChars = length(col("text")).cast("long")
    val nNonspace = length(regexp_replace(col("text"), "\\s", "")).cast("long")
    val nStop = expr(s"element_at(graft_stopword_hits(text, '${stopwords.mkString(",")}'), 1)")
    val nPunct = regexp_count(col("text"), lit("[.!?,;:]")).cast("long")
    val langSpec = langProfiles.map(_._2.mkString(",")).mkString("|")
    t.documents
      .select(col("doc_id"), col("text"),
        nWords.as("n_words"), nChars.as("n_chars"), nNonspace.as("n_nonspace"),
        nStop.as("n_stop"), nPunct.as("n_punct"),
        size(array_intersect(toksLower, stopArr)).cast("long").as("n_stop_distinct"),
        size(filter(toksLower, w => w.rlike("[a-z]"))).cast("long").as("n_alpha"),
        size(array_distinct(toksLower)).cast("long").as("n_distinct"),
        size(expr("graft_shingle_hashes(text, 2)")).cast("long").as("n_distinct_grams"))
      .select((col("doc_id") +: col("n_words") +: col("n_chars") +: col("n_nonspace") +:
        col("n_stop") +: col("n_punct") +: col("n_stop_distinct") +: col("n_alpha") +:
        col("n_distinct") +: col("n_distinct_grams") +:
        langProfiles.zipWithIndex.map { case ((l, _), i) =>
          expr(s"element_at(graft_stopword_hits(text, '$langSpec'), ${i + 1})").as(s"s_$l")
        }): _*)
      .withColumn("quality", {
        val stopRatio = when(col("n_words") === 0, 0.0)
          .otherwise(roundHalfUp(col("n_stop").cast("double") / col("n_words"), 4))
        val punctRatio = when(col("n_chars") === 0, 0.0)
          .otherwise(roundHalfUp(col("n_punct").cast("double") / col("n_chars"), 4))
        roundHalfUp(lit(0.4) * least(col("n_words").cast("double") / 100.0, lit(1.0))
          + lit(0.3) * stopRatio * 5.0 + lit(0.3) * (lit(1.0) - punctRatio), 4)
      })
      .withColumn("rep_ratio", {
        val nGrams = when(col("n_words") < 2, 1L).otherwise(col("n_words") - 1)
        roundHalfUp(lit(1.0) - col("n_distinct_grams").cast("double") / nGrams, 4)
      })
      .withColumn("pred_lang", {
        val langs = langProfiles.map(_._1)
        langs.init.zipWithIndex.foldRight(lit(langs.last): Column) { case ((l, i), els) =>
          val rest = langs.drop(i + 1).map(x => col(s"s_$x"))
          when(col(s"s_$l") >= rest.reduceLeft((a, b) => greatest(a, b)), l).otherwise(els)
        }
      })
      .withColumn("gopher_pass",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("n_words") > 0 && lit(3) * col("n_words") <= col("n_nonspace") &&
          col("n_nonspace") <= lit(10) * col("n_words") &&
          col("n_stop_distinct") >= 2 &&
          lit(5) * col("n_alpha") >= lit(4) * col("n_words") &&
          lit(2) * col("n_distinct") >= col("n_words"))
      .withColumn("keep",
        col("gopher_pass") && col("quality") >= minQuality && col("rep_ratio") <= maxRep)
      .select(col("doc_id"), col("pred_lang"), col("quality"), col("rep_ratio"),
        col("gopher_pass"), col("keep"))
  }

  /** C23b: the SCALE path for decontamination — when the benchmark's
    * k-gram hash set outgrows a broadcast array (a few hundred MB of
    * hashes), [[decontaminate]]'s broadcast semi-join stops being an
    * option. This variant compresses the set into a Bloom filter
    * (Spark's own `bloom_filter_agg`, collected once — KBs-per-million
    * grams at 1 % FP instead of 8 B/gram) and probes it with the
    * engine's codegen'd `BloomFilterMightContain` (injected as
    * `graft_might_contain`) in one narrow corpus pass; only the
    * prefiltered survivors — true hits plus the FP trickle — pay the
    * exact-confirmation shuffle join against the real hash relation, so
    * the corpus-sized side of that join is ~hit-sized. Output is
    * EXACT and identical to [[decontaminate]] (FPs die in the confirm
    * join); same oracle.
    */
  def decontaminateBloom(t: Tables, benchMaxId: Long = 25L, k: Int = 5,
                         fpBits: Long = 8L * 1024 * 1024): DataFrame = {
    val shingle = s"graft_shingle_hashes(text, $k)"
    val benchHashes = t.documents.filter(col("doc_id") < benchMaxId)
      .select(explode(expr(shingle)).as("h")).distinct()
    val bloom: Array[Byte] = benchHashes
      .agg(expr(s"graft_bloom_agg(h, ${fpBits / 8}L, ${fpBits}L)").as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val corpus = t.documents.filter(col("doc_id") >= benchMaxId)
      .select(col("doc_id"), explode(expr(shingle)).as("h"))
      .filter(call_function("graft_might_contain", lit(bloom), col("h")))
    corpus.join(benchHashes, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared_grams"))
  }

  /** C32: corpus snapshot delta — content-hash change detection between
    * the current corpus and the previous snapshot: every doc_id is
    * classified added / removed / changed / unchanged. At 100 TB this
    * is the operator that turns a full reprocess into an INCREMENTAL
    * one — downstream stages (signatures, quality, embeddings) recompute
    * only `added`+`changed`, and tombstone `removed`. One full-outer
    * join co-shuffled on doc_id; 128-bit hashes travel, text never does.
    */
  def corpusDelta(cur: DataFrame, prev: DataFrame): DataFrame = {
    def hashed(df: DataFrame, h: String) =
      df.select(col("doc_id"), md5(col("text")).as(h))
    hashed(cur, "h_cur")
      .join(hashed(prev, "h_prev"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h_prev").isNull, "added")
          .when(col("h_cur").isNull, "removed")
          .when(col("h_cur") === col("h_prev"), "unchanged")
          .otherwise("changed"))
      .select(col("doc_id"), col("status"))
  }

  /** Deterministic simulated previous snapshot (shared by the C32/C33/
    * C33b driver entries — the testdata ships a single snapshot): docs
    * with `doc_id % 13 = 5` are new since prev (→ added), `% 17 = 3`
    * carry an edit marker in prev (→ changed), and prev additionally
    * held ids shifted past max(doc_id) for `% 19 = 2` (→ removed). The
    * oracles mirror the same derivation, so all four statuses are
    * exercised at every SF.
    */
  private[graft] def simulatedPrev(docs: DataFrame): DataFrame = {
    // The "removed" ids are shifted past the corpus maximum
    // (max(doc_id)+1) so they can never alias a real doc and fan out the
    // full-outer join — collision-free at EVERY SF by construction
    // (ScaleGen's sf1 derivation carries ids up to 9e8; a fixed constant
    // ceiling refused there). The oracles mirror the same shift with a
    // scalar subquery, so the one extra max() job stays oracle-exact.
    // max() over an empty corpus is NULL — fail with a real message
    // instead of an opaque NPE at plan-construction time
    val maxId = Option(docs.agg(max(col("doc_id"))).head().getAs[java.lang.Long](0))
      .getOrElse(throw new IllegalArgumentException(
        "simulatedPrev: documents table is empty — corpus_delta/refresh_incremental/" +
          "neardup_incremental need a non-empty corpus to derive the snapshot"))
    val shift = maxId.longValue + 1L
    docs.filter(col("doc_id") % 13 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 17 === 3, concat(col("text"), lit(" [edited]")))
          .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 19 === 2)
        .select((col("doc_id") + shift).as("doc_id"), col("text")))
  }

  def corpusDelta(t: Tables): DataFrame = {
    val docs = t.documents.select(col("doc_id"), col("text"))
    corpusDelta(docs, simulatedPrev(docs))
  }

  /** C33: incremental refresh — the composition that makes [[corpusDelta]]
    * pay at 100 TB: a per-document derivation (`compute`) is re-run ONLY
    * for `added`+`changed` docs; `unchanged` docs carry their previous
    * output forward untouched; `removed` docs are tombstoned (absent from
    * the result). Unchanged text is never re-scanned past the delta's
    * hash join: it reaches one md5 and nothing else — the expensive
    * `compute` plan sees a corpus restricted by a left-semi join on the
    * dirty ids. `src` records the provenance of every row
    * (`fresh` = recomputed this refresh, `carried` = previous output).
    *
    * `compute` must be a deterministic per-document map (same doc text →
    * same output row) keyed by `doc_id` — then the result is row-identical
    * to a full recompute over the current corpus (RefreshSpec asserts
    * exactly this parity, plus that carried rows are verbatim previous
    * output, via a sentinel).
    */
  def refreshIncremental(cur: DataFrame, prev: DataFrame, prevOut: DataFrame)
                        (compute: DataFrame => DataFrame): DataFrame = {
    val delta = corpusDelta(cur, prev)
    val dirtyIds = delta.filter(col("status").isin("added", "changed")).select("doc_id")
    val fresh = compute(cur.join(dirtyIds, Seq("doc_id"), "left_semi"))
      .withColumn("src", lit("fresh"))
    val unchangedIds = delta.filter(col("status") === "unchanged").select("doc_id")
    val carried = prevOut.join(unchangedIds, Seq("doc_id"), "left_semi")
      .withColumn("src", lit("carried"))
    fresh.unionByName(carried)
  }

  /** C33 driver entry: refresh document fingerprints against the
    * [[simulatedPrev]] snapshot. Output is row-identical to
    * `fingerprint(cur)` plus the `src` provenance column, so the oracle
    * is the full-recompute fingerprint SQL with the same status
    * derivation — the hash-compare proves incremental == full.
    */
  def refreshIncremental(t: Tables): DataFrame = {
    val cur = t.documents.select(col("doc_id"), col("text"))
    val prev = simulatedPrev(cur)
    refreshIncremental(cur, prev, fingerprint(prev))(fingerprint)
  }

  /** C21: corpus profile — per-stratum doc/char counts plus EXACT length
    * quantiles through the histogram-select engine (Analytics
    * .exactQuantiles as reusable API; counts and quantiles join at
    * stratum cardinality, broadcast-sized).
    */
  def corpusStats(t: Tables): DataFrame = {
    val counts = t.documents.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars").cast("long")).as("total_chars"))
    val quants = Analytics.exactQuantiles(
      t.documents.select(col("lang"), col("n_chars").cast("double").as("nc")),
      "lang", Seq("nc" -> Seq("p50_chars" -> 0.5, "p90_chars" -> 0.9)))
      .withColumnRenamed("lang", "qlang")
    // left + null-safe: a NULL-lang stratum (or one whose lengths are all
    // NULL, so it has no quantiles) must still profile — matching the
    // oracle's single GROUP BY, which keeps such groups
    counts.join(broadcast(quants), col("lang") <=> col("qlang"), "left")
      .select(col("lang"), col("n_docs"), col("total_chars"), col("p50_chars"), col("p90_chars"))
  }

  /** C1: exact deduplication — hash-groupBy on normalized text; keeps the
    * lowest doc_id per group. One shuffle on the 128-bit hash; at 100 TB
    * this is the standard map-side-combine dedup (hash is tiny vs text).
    */
  def dedupExact(t: Tables): DataFrame =
    t.documents
      .withColumn("norm", norm)
      .groupBy(md5(col("norm")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** C26: corpus vocabulary profile — the `topK` most frequent tokens
    * with term and document frequency (the Zipf-curve head every corpus
    * audit starts from). The (token) aggregation is map-side combinable
    * and the final top-k is TakeOrdered (bounded k, no global sort);
    * document frequency counts distinct doc ids per token — the expand
    * rewrite shuffles (token, doc_id) pairs, the same weight class as
    * the tf shuffle itself.
    */
  def vocabTopk(t: Tables, topK: Int = 20,
                maxDistinctTokens: Long = 50000000L): DataFrame = {
    val exploded = t.documents
      .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("token"))
      .filter(length(col("token")) > 0)
    gateDistinctVolume(exploded, "token", maxDistinctTokens, "vocabTopk",
      instanceBound = Some(charBound(t)))
    exploded
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(topK)
  }

  /** C30: frequent-token summary through the native `graft_heavy_hitters`
    * Misra–Gries aggregate — the sketch answer to vocab_topk (C26): every
    * map task reduces its token stream to a `capacity`-bounded summary
    * BEFORE the exchange, so the shuffle carries O(capacity) buffers per
    * task instead of the vocabulary. Counts are exact while the true
    * distinct count fits in `capacity` (this corpus: 31 tokens ≪ 64, so
    * the DuckDB exact-count oracle matches bit-for-bit); past capacity
    * they degrade gracefully to lower bounds with error ≤ n/(capacity+1).
    */
  def heavyHitters(t: Tables, capacity: Int = 64): DataFrame =
    t.documents
      .select(explode(wsTokens(lower(col("text")))).as("token"))
      .filter(length(col("token")) > 0)
      .agg(expr(s"graft_heavy_hitters(token, $capacity)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("cnt"))

  /** C27: Gopher-style quality-rule flags — the document-level pass/fail
    * heuristics (Rae et al. 2021 §A1.1) every corpus filter starts from,
    * adapted to this corpus's scale: word count within [minWords,
    * maxWords], mean word length within [3, 10], ≥ 2 distinct stopwords,
    * ≥ 80 % alphabetic words, and ≤ 50 % repeated words.
    *
    * Every rule is an INTEGER comparison (`3·n_words ≤ n_chars` instead
    * of `n_chars/n_words ≥ 3.0`) — no float division ever happens, so no
    * boundary row can flip between engines. One narrow pass, no shuffle;
    * the summary a caller would layer on top is map-side combinable.
    */
  def gopherRules(t: Tables, minWords: Int = 25, maxWords: Int = 80): DataFrame = {
    val toks = wsTokens(lower(col("text")))
    val stopArr = array(stopwords.map(lit): _*)
    t.documents
      .select(col("doc_id"),
        when(length(trim(col("text"))) === 0, 0L).otherwise(size(toks).cast("long")).as("n_words"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long").as("n_nonspace"),
        size(array_intersect(toks, stopArr)).cast("long").as("n_stop_distinct"),
        size(filter(toks, w => w.rlike("[a-z]"))).cast("long").as("n_alpha"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .withColumn("word_count_ok",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("word_len_ok",
        col("n_words") > 0 &&
          lit(3) * col("n_words") <= col("n_nonspace") &&
          col("n_nonspace") <= lit(10) * col("n_words"))
      .withColumn("stop_ok", col("n_stop_distinct") >= 2)
      .withColumn("alpha_ok",
        col("n_words") > 0 && lit(5) * col("n_alpha") >= lit(4) * col("n_words"))
      .withColumn("distinct_ok",
        col("n_words") > 0 && lit(2) * col("n_distinct") >= col("n_words"))
      .withColumn("pass", col("word_count_ok") && col("word_len_ok") &&
        col("stop_ok") && col("alpha_ok") && col("distinct_ok"))
  }

  /** C25: paragraph-level exact deduplication (the RefinedWeb/Dolma
    * recipe): every paragraph is hashed on normalized content; only its
    * FIRST occurrence corpus-wide (lowest doc_id, then earliest position)
    * survives, and documents are reassembled from their surviving
    * paragraphs in original order. Catches boilerplate (headers, footers,
    * license blocks) that document-level dedup (C1) can never see.
    *
    * Shape: one shuffle keyed by paragraph hash for the first-occurrence
    * pick, one by doc_id for reassembly — both on (hash, ids) pairs
    * plus the paragraph text, never repeated scans. First-occurrence is
    * min_by over (doc_id, pos) — a PARTIAL aggregate, so a boilerplate
    * paragraph repeated 10^5 times corpus-wide collapses to one row per
    * map task before the exchange (a row_number window on the hash key
    * would funnel every hot instance through a single task — the classic
    * corpus-skew failure; SkewStressSpec plants exactly that corpus).
    * Docs whose every paragraph is a duplicate stay in the output with
    * empty text (the drop decision is a separate policy).
    */
  def paragraphDedup(t: Tables, sep: String = "\n"): DataFrame = {
    val paras = t.documents
      .select(col("doc_id"), posexplode(split(col("text"), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("para"),
        md5(lower(trim(col("para")))).as("h"))
    val kept = paras
      .groupBy(col("h"))
      .agg(min_by(struct(col("doc_id"), col("pos"), col("para")),
        struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.pos").as("pos"), col("f.para").as("para"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), sep).as("kept_text"))
    t.documents
      .select(col("doc_id"),
        size(split(col("text"), java.util.regex.Pattern.quote(sep))).cast("long").as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** C35: Okapi BM25 retrieval over the corpus for a literal query-term
    * set — the data-selection primitive of targeted corpus builds (rank
    * documents against a task/topic description and keep the head).
    * idf(t) = ln(1 + (N − df + ½)/(df + ½)), per-term weight
    * idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Scale shape: the token stream is filtered to the |q| query terms in
    * the same codegen'd scan that tokenizes, so only the query's postings
    * — not the corpus vocabulary — reach the tf shuffle; doc length rides
    * along with the postings (no second scan); N/avgdl and per-term
    * document frequencies are two broadcast-sized relations. The per-doc
    * score adds the per-term weights IN LITERAL TERM ORDER (one pivoted
    * column per query term, not a sum() over a nondeterministically
    * ordered group), so the float result is bit-stable across engines and
    * retries. Top-k is orderBy+limit → TakeOrderedAndProject: per-task
    * heaps, never a global sort.
    */
  def bm25Search(t: Tables, query: String = "spark stream filter",
                 k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "bm25Search needs at least one query term")
    bm25Scores(t, terms, k1, b)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** C67d (scan floor): exact-phrase search — docs containing the query
    * words ADJACENT and IN ORDER, ranked by occurrence count. BM25's
    * bag-of-words scoring (C35) cannot distinguish "new york" from
    * "york new"; phrase matching is the retrieval feature that needs
    * POSITIONS, and this scan-based form is the index-free floor the
    * positional index ([[phraseSearchIndexed]]) is measured against.
    *
    * The whole match runs ARRAY-SIDE in one zero-shuffle narrow scan:
    * the document's token array is already one row, so occurrence
    * counting is a codegen'd filter over candidate start offsets —
    * no explode, no self-join, no window. Counts are pure integers
    * (overlapping occurrences count — "a a a" has two "a a" hits);
    * top-k is a bounded ordered take.
    */
  def phraseSearch(t: Tables, phrase: String = "table hash", k: Int = 20): DataFrame =
    phraseSearchDocs(t.documents, phrase, k)

  private[graft] def phraseWords(phrase: String): Seq[String] = {
    val words = phrase.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    require(words.length >= 2, "phrase search needs a phrase of at least two words")
    require(words.forall(_.matches("[a-z0-9]+")),
      s"phrase words must be alphanumeric (got: $phrase)")
    words
  }

  private[graft] def phraseSearchDocs(docs: DataFrame, phrase: String, k: Int): DataFrame = {
    val words = phraseWords(phrase)
    val n = words.length
    val cond = words.zipWithIndex
      .map { case (w, j) => s"element_at(toks, i + $j) = '$w'" }
      .mkString(" AND ")
    // cheap conjunctive prefilter BEFORE the tokenize: a doc containing
    // the phrase necessarily contains every word as a substring of
    // lower(text) (tokens are substrings of the text), so contains() is
    // a strict superset test — docs failing it skip the tokenizer and
    // the offset scan entirely. Pure per-row substring search, still one
    // zero-shuffle narrow scan.
    docs
      .filter(words.map(w => lower(col("text")).contains(lit(w))).reduce(_ && _))
      .withColumn("toks", wsTokens(lower(col("text"))))
      .withColumn("n_hits",
        when(size(col("toks")) >= n,
          expr(s"size(filter(sequence(1, size(toks) - ${n - 1}), i -> $cond))").cast("long"))
          .otherwise(lit(0L)))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("n_hits"))
      .orderBy(col("n_hits").desc, col("doc_id"))
      .limit(k)
  }

  /** C67d: positional index build — postings (doc_id, term, positions)
    * under C67's bucket partitioning (`pmod(xxhash64(term), nBuckets)`),
    * positions 1-based into the shared whitespace token array. ONE
    * corpus tokenize scan + one map-side-combinable (doc, term)
    * aggregate; the positions array per (doc, term) is tf-sized.
    */
  def buildPhraseIndex(t: Tables, dir: String, nBuckets: Int = 64): Unit =
    buildPhraseIndexDocs(t.documents, dir, nBuckets)

  private[graft] def buildPhraseIndexDocs(docs: DataFrame, dir: String, nBuckets: Int): Unit = {
    val bucket = pmod(xxhash64(col("term")), lit(nBuckets.toLong))
    docs
      .select(col("doc_id"), posexplode(wsTokens(lower(col("text")))).as(Seq("pos", "term")))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(sort_array(collect_list(col("pos") + 1)).as("positions"))
      .withColumn("bucket", bucket)
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$dir/postings")
  }

  /** C67d: phrase query answered FROM THE INDEX — the corpus is never
    * re-tokenized: ≤ |distinct words| bucket partitions are listed
    * (PartitionFilters, plan-audited), each phrase word's positions
    * array pivots onto the doc row, and the occurrence count is the
    * same integer adjacency fold the scan floor runs (q ∈ positions₀
    * with q+j ∈ positionsⱼ ∀j) — defined to be row-identical to
    * [[phraseSearch]], and held to it by the shared oracle string and
    * the parity spec. Per-query cost: index-bytes/nBuckets reads + a
    * doc-keyed pivot of the |phrase| posting lists.
    */
  def phraseSearchIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                          phrase: String = "table hash", k: Int = 20,
                          nBuckets: Int = 64): DataFrame = {
    val words = phraseWords(phrase)
    val n = words.length
    val terms = words.distinct
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    val post = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val firstAgg = first(when(col("term") === words.head, col("positions")), ignoreNulls = true).as("p_0")
    val restAggs = (1 until n).map(j =>
      first(when(col("term") === words(j), col("positions")), ignoreNulls = true).as(s"p_$j"))
    val pivoted = post.groupBy(col("doc_id")).agg(firstAgg, restAggs: _*)
    val allPresent = (0 until n).map(j => col(s"p_$j").isNotNull).reduce(_ && _)
    val cond = (1 until n).map(j => s"array_contains(p_$j, q + $j)").mkString(" AND ")
    pivoted.filter(allPresent)
      .withColumn("n_hits", expr(s"size(filter(p_0, q -> $cond))").cast("long"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("n_hits"))
      .orderBy(col("n_hits").desc, col("doc_id"))
      .limit(k)
  }

  /** C67: materialize the offline inverted index for [[bm25Indexed]] —
    * postings (term, doc_id, tf, dl), per-term document frequencies,
    * and the corpus stats, with the two term-keyed relations
    * PARTITIONED by `bucket = pmod(xxhash64(term), nBuckets)`. A query
    * for q terms then reads ≤ q of the nBuckets partition directories:
    * Catalyst turns the bucket predicate into PartitionFilters and the
    * other buckets are never listed, let alone scanned — the file-layout
    * pruning that takes retrieval from C35's two-corpus-scan floor to
    * index-bytes/nBuckets per query.
    *
    * The one-off build is ONE corpus tokenize scan + the (term, doc)
    * aggregate (map-side combinable); df derives from the postings
    * relation, not a second scan. tf/dl/df/n_docs/avgdl are stored
    * EXACTLY as C35's live formulas define them, so indexed search is
    * row-identical to scan search (asserted in the spec).
    */
  /** Per-doc token length column shared by every index writer — one
    * definition so segments can never disagree on dl.
    */
  private def indexDl: Column = when(length(trim(col("text"))) === 0, 0L)
    .otherwise(size(wsTokens(lower(col("text")))).cast("long"))

  /** The (doc_id, term, tf, dl) postings relation of a document set —
    * shared by the base build and every delta segment.
    */
  private def postingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), indexDl.as("dl"),
        explode(filter(wsTokens(lower(col("text"))), tk => length(tk) > 0)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"), max(col("dl")).as("dl"))

  def buildInvertedIndex(t: Tables, dir: String, nBuckets: Int = 64): Unit =
    buildInvertedIndexDocs(t.documents, dir, nBuckets)

  private[graft] def buildInvertedIndexDocs(documents: DataFrame, dir: String,
                                            nBuckets: Int = 64): Unit = {
    val bucket = pmod(xxhash64(col("term")), lit(nBuckets.toLong))
    postingsOf(documents)
      .withColumn("gen", lit(0L))
      .withColumn("bucket", bucket)
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$dir/postings")
    // df reads off the landed postings (one row per (doc, term)) — no
    // second corpus scan, and the landed copy is the one queried later
    val landed = documents.sparkSession.read.parquet(s"$dir/postings")
    landed.groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
      .withColumn("bucket", bucket)
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$dir/terms")
    documents.agg(count(lit(1)).cast("long").as("n_docs"), avg(indexDl).as("avgdl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    // segment bookkeeping for the C67b incremental path: per-doc lengths
    // (so a future delta can net out the docs it supersedes WITHOUT
    // touching term-keyed data) and per-segment count/length totals
    // (exact longs — query-time avgdl is one tiny segment-sum away)
    documents.select(col("doc_id"), indexDl.as("dl"), lit(0L).as("gen"))
      .write.mode("overwrite").parquet(s"$dir/docs")
    documents.agg(lit(0L).as("gen"), count(lit(1)).cast("long").as("n_docs"),
        sum(indexDl).cast("long").as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/segstats")
  }

  /** Live rows of a generation-segmented relation: a row written at
    * `gen` g is dead iff some tombstone for its doc_id carries gen > g
    * (the Lucene segments+liveDocs rule — an updated doc's NEW rows
    * share the tombstone's gen, so only its older incarnations die).
    */
  private def liveRows(rows: DataFrame, tombs: DataFrame): DataFrame =
    rows.join(broadcast(tombs.select(col("doc_id").as("t_doc"), col("gen").as("t_gen"))),
      col("doc_id") === col("t_doc") && col("t_gen") > col("gen"), "left_anti")

  /** C67b: incremental index maintenance — apply a corpus delta
    * (changed/new docs + deleted ids) as a NEW SEGMENT instead of
    * rebuilding: delta postings land under the same bucket partitioning,
    * superseded/removed docs get tombstones, and per-segment stats keep
    * query-time n_docs/avgdl a tiny segment-sum. The base segments are
    * never rewritten — the shape that makes a 100 TB index maintainable
    * at all (a rebuild re-tokenizes the corpus; a delta re-tokenizes the
    * delta).
    *
    * Scale shape: everything is delta-sized except one broadcast
    * semi-join of the doc-length relation against the superseded ids
    * (needed to net their count/length out of the running stats — the
    * index's own bookkeeping answers it; no corpus access, no
    * term-keyed read).
    */
  def indexDelta(spark: org.apache.spark.sql.SparkSession, dir: String,
                 changed: DataFrame, removedIds: Seq[Long],
                 nBuckets: Int = 64): Unit = {
    val seg = spark.read.parquet(s"$dir/segstats")
    val gen = seg.agg(max(col("gen"))).collect().head.getLong(0) + 1L
    // A doc_id in BOTH `changed` and `removedIds` would write new
    // postings at the same gen as its tombstone; liveRows only kills
    // strictly-older gens, so the "removed" doc would stay searchable —
    // refuse the ambiguous delta instead of silently resolving it.
    if (removedIds.nonEmpty) {
      val clash = changed.select(col("doc_id"))
        .filter(col("doc_id").isin(removedIds: _*)).limit(1).collect()
      require(clash.isEmpty,
        s"indexDelta: doc_id ${clash.headOption.map(_.getLong(0)).getOrElse(-1L)} appears in both " +
          "changed and removedIds; an id must be either updated or removed in one delta, not both " +
          "(split the delta, or drop the id from removedIds if the update should win)")
    }
    val bucket = pmod(xxhash64(col("term")), lit(nBuckets.toLong))
    postingsOf(changed)
      .withColumn("gen", lit(gen))
      .withColumn("bucket", bucket)
      .write.partitionBy("bucket").mode("append").parquet(s"$dir/postings")
    val gone = changed.select(col("doc_id"))
      .unionByName(spark.createDataFrame(
        spark.sparkContext.parallelize(removedIds.map(org.apache.spark.sql.Row(_)), 1),
        new org.apache.spark.sql.types.StructType()
          .add("doc_id", org.apache.spark.sql.types.LongType)))
      .distinct()
    val tombPath = s"$dir/tombstones"
    gone.withColumn("gen", lit(gen)).write.mode("append").parquet(tombPath)
    // net out the docs this delta supersedes, using rows LIVE before it
    val docs = spark.read.parquet(s"$dir/docs")
    // the write above guarantees the dir exists; rows of THIS gen are
    // excluded so "live before this delta" is evaluated correctly
    val prevTombs = spark.read.parquet(tombPath).filter(col("gen") < gen)
    val removedStats = liveRows(docs, prevTombs)
      .join(broadcast(gone), Seq("doc_id"), "left_semi")
      .agg(coalesce(count(lit(1)), lit(0L)).as("rn"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("rsum"))
      .collect().head
    changed.select(col("doc_id"), indexDl.as("dl"), lit(gen).as("gen"))
      .write.mode("append").parquet(s"$dir/docs")
    changed.agg(lit(gen).as("gen"),
        (count(lit(1)).cast("long") - lit(removedStats.getLong(0))).as("n_docs"),
        (coalesce(sum(indexDl), lit(0L)).cast("long") - lit(removedStats.getLong(1))).as("sum_dl"))
      .coalesce(1).write.mode("append").parquet(s"$dir/segstats")
  }

  /** C67c: segment compaction — merge every segment of generation ≤
    * `upToGen` into ONE new segment at that generation, retiring the
    * tombstones they absorbed. This is the missing half of the Lucene
    * shape [[indexDelta]] set up: without it, every delta appends a
    * generation forever and the query-time tombstone anti-join grows
    * monotonically; with it, a long-lived index stays O(segments kept),
    * and after a FULL compaction (the default) the tombstone relation is
    * empty — queries pay zero anti-join.
    *
    * Generation algebra (each step preserves query row-identity):
    *   - merged postings/docs = live rows of gens ≤ g under ALL
    *     tombstones (including kept ones of gen > g — a doc updated
    *     later than g must not carry its dead incarnation forward),
    *     relabeled to gen g. A kept tombstone t > g killed exactly the
    *     rows gen < t before, and kills the same (relabeled, still < t)
    *     rows after.
    *   - merged segstats row = the ARITHMETIC SUM of the replaced rows,
    *     NOT the live count: a delta of gen d > g may have netted out a
    *     doc living in a segment ≤ g, and that netting stays in row d —
    *     summing preserves the total n_docs/sum_dl invariant.
    *   - tombstones of gen ≤ g are fully applied by the merge → retired.
    *
    * Scale shape: one bucket-partitioned shuffle-free rewrite of the
    * segments being merged (the live filter is the same broadcast
    * anti-join queries already run), never a corpus re-tokenize; file
    * surgery is per-file rename/delete (segments of gen > g keep their
    * exact files — base immutability for everything uncompacted).
    * Like Lucene's merge, compaction is an exclusive maintenance
    * operation: one writer, no concurrent readers mid-swap.
    *
    * Crash safety (two regimes, split by the `_COMMIT` marker):
    *   - crash DURING STAGING (no marker yet): the only writes live under
    *     the dot-prefixed staging dir, invisible to every query path; a
    *     rerun deletes the leftovers and recompacts from the intact
    *     visible state.
    *   - crash DURING THE SWAP (marker present): the marker records the
    *     exact file set the completed staged segment replaces, old files
    *     are deleted only AFTER every staged file is moved in, and a
    *     rerun first ROLLS THE SWAP FORWARD from the marker's list
    *     (re-moving whatever staged files remain, re-deleting whatever
    *     listed files remain — both idempotent) before compacting anew.
    *     No crash point leaves the index missing rows: until the swap's
    *     deletes run, the old files still carry every live row (the
    *     worst mid-swap state is DUPLICATED rows, which recovery — not a
    *     query — observes, under the exclusive-writer contract).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   upToGen: Long = Long.MaxValue): Unit =
    compactIndexImpl(spark, dir, upToGen, crashAfter = None)

  /** Test seam for [[compactIndex]]: `crashAfter = Some("staged")` aborts
    * right after the commit marker lands (staging complete, nothing
    * swapped); `Some("moved")` aborts after every staged file is moved in
    * but before any old file is deleted. Production calls pass None.
    */
  private[graft] class CompactionCrash(at: String)
    extends RuntimeException(s"compactIndex: simulated crash at '$at'")

  private[graft] def compactIndexImpl(spark: org.apache.spark.sql.SparkSession, dir: String,
                                      upToGen: Long, crashAfter: Option[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // complete an interrupted swap (marker present) or clear incomplete
    // staging leftovers — only then is the visible state whole and safe
    // to recompute from
    recoverCompaction(fs, dir)
    val staging = s"$dir/.compact"
    val maxGen = spark.read.parquet(s"$dir/segstats")
      .agg(max(col("gen"))).collect().head.getLong(0)
    val g = math.min(upToGen, maxGen)
    require(g >= 0L, s"compactIndex: upToGen must be >= 0, got $upToGen")
    val tombDir = new Path(s"$dir/tombstones")
    // Hadoop FS probe, NOT java.io.File — the index dir may live on any
    // Hadoop filesystem (hdfs://, s3a://), where a local-File probe would
    // silently report "no tombstones" and resurrect dead rows (r13 advice)
    val hasTombs = fs.isDirectory(tombDir)
    val tombs =
      if (hasTombs) spark.read.parquet(s"$dir/tombstones")
      else spark.emptyDataFrame.select(lit(0L).as("doc_id"), lit(0L).as("gen")).limit(0)
    // data files of the segments being merged — per-file generation
    // bounds so the later delete can never touch a gen > g row (files are
    // single-gen by construction of the base build + every delta append)
    def mergeFiles(df: DataFrame): Seq[String] = {
      val per = df.groupBy(input_file_name().as("f"))
        .agg(min(col("gen")).as("lo"), max(col("gen")).as("hi")).collect()
      per.filter(_.getLong(1) <= g).map { r =>
        require(r.getLong(2) <= g,
          s"compactIndex: mixed-generation file ${r.getString(0)} spans ${r.getLong(1)}..${r.getLong(2)} across upToGen=$g")
        r.getString(0)
      }.toSeq
    }
    val postAll = spark.read.parquet(s"$dir/postings")
    val docsAll = spark.read.parquet(s"$dir/docs")
    val segAll = spark.read.parquet(s"$dir/segstats")
    val oldPost = mergeFiles(postAll)
    val oldDocs = mergeFiles(docsAll)
    val oldSeg = mergeFiles(segAll)
    val oldTomb = if (hasTombs) mergeFiles(tombs) else Seq.empty
    // stage the merged segment (dot-dir: invisible to all query paths)
    liveRows(postAll.filter(col("gen") <= g), tombs)
      .select(col("doc_id"), col("term"), col("tf"), col("dl"),
        lit(g).as("gen"), col("bucket"))
      .write.partitionBy("bucket").parquet(s"$staging/postings")
    liveRows(docsAll.filter(col("gen") <= g), tombs)
      .select(col("doc_id"), col("dl"), lit(g).as("gen"))
      .write.parquet(s"$staging/docs")
    segAll.filter(col("gen") <= g)
      .agg(lit(g).as("gen"), sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_dl")).cast("long").as("sum_dl"))
      .coalesce(1).write.parquet(s"$staging/segstats")
    // commit point: staging is complete and durable; persist the exact
    // file set it replaces so a crashed swap is re-runnable from this
    // list instead of from a mid-swap (mixed) tree
    val old = oldPost ++ oldDocs ++ oldSeg ++ oldTomb
    writeCommitMarker(fs, staging, g, old)
    if (crashAfter.contains("staged")) throw new CompactionCrash("staged")
    // swap, roll-forward order: staged files in FIRST, old files deleted
    // only once every replacement row is already visible
    idxMoveIn(fs, s"$staging/postings", s"$dir/postings")
    idxMoveIn(fs, s"$staging/docs", s"$dir/docs")
    idxMoveIn(fs, s"$staging/segstats", s"$dir/segstats")
    if (crashAfter.contains("moved")) throw new CompactionCrash("moved")
    old.foreach(f => fs.delete(new Path(f), false))
    dropTombDirIfEmpty(fs, dir)
    fs.delete(new Path(staging), true)
  }

  /** Recursive data files under `root` — `_`/`.`-prefixed names (commit
    * markers, parquet `_SUCCESS`, hidden staging) excluded.
    */
  private def idxDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(root)) Seq.empty
    else {
      val it = fs.listFiles(root, true)
      val out = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
      while (it.hasNext) {
        val f = it.next().getPath
        if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) out += f
      }
      out.toSeq
    }

  /** Move every staged data file under the live root, preserving the
    * bucket=<b> partition component. Idempotent across reruns: a file
    * already moved is simply absent from the staging listing.
    */
  private def idxMoveIn(fs: org.apache.hadoop.fs.FileSystem,
                        stagedRoot: String, liveRoot: String): Unit = {
    import org.apache.hadoop.fs.Path
    idxDataFiles(fs, new Path(stagedRoot)).foreach { f =>
      val sub = f.getParent.getName match {
        case p if p.startsWith("bucket=") => p + Path.SEPARATOR + f.getName
        case _ => f.getName
      }
      val dst = new Path(liveRoot, sub)
      fs.mkdirs(dst.getParent)
      require(fs.rename(f, dst), s"compactIndex: rename $f -> $dst failed")
    }
  }

  /** A fully-retired tombstone set leaves queries the clean no-dir fast
    * path (an empty parquet dir would fail schema inference).
    */
  private def dropTombDirIfEmpty(fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val tomb = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    if (fs.isDirectory(tomb) && idxDataFiles(fs, tomb).isEmpty) fs.delete(tomb, true)
  }

  private def writeCommitMarker(fs: org.apache.hadoop.fs.FileSystem, staging: String,
                                g: Long, oldFiles: Seq[String]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$staging/_COMMIT"), true)
    try out.write((s"g=$g" +: oldFiles).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Complete or discard an interrupted compaction before anything reads
    * the index tree. Marker present ⇒ staging finished and the swap may
    * have partially run: roll it FORWARD (move remaining staged files in,
    * delete remaining listed old files — both idempotent, so recovery
    * itself may crash and rerun). No marker ⇒ staging never completed:
    * the dot-dir leftovers are invisible and simply deleted.
    */
  private def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val staging = s"$dir/.compact"
    val marker = new Path(s"$staging/_COMMIT")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val listed = try {
        scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      } finally in.close()
      idxMoveIn(fs, s"$staging/postings", s"$dir/postings")
      idxMoveIn(fs, s"$staging/docs", s"$dir/docs")
      idxMoveIn(fs, s"$staging/segstats", s"$dir/segstats")
      listed.drop(1).filter(_.nonEmpty).foreach(f => fs.delete(new Path(f), false))
      dropTombDirIfEmpty(fs, dir)
    }
    fs.delete(new Path(staging), true)
  }

  /** C67b: BM25 over the segmented index — [[bm25Indexed]]'s
    * bucket-pruned read plus the liveDocs rule: postings from ALL
    * segments of the query's buckets, tombstoned rows anti-joined out
    * (tombstones are broadcast — they are delta-sized), per-term df
    * derived from the kept postings (bucket-local work; the stored
    * terms relation is the full-rebuild fast path), n_docs/avgdl from
    * the per-segment running totals. Defined to be row-identical to a
    * fresh [[bm25Search]] over the post-delta corpus — the spec and the
    * shared C35 oracle string hold it to that.
    */
  def bm25IndexedInc(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                     query: String = "spark stream filter", k: Int = 20,
                     k1: Double = 1.2, b: Double = 0.75, nBuckets: Int = 64): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "bm25IndexedInc needs at least one query term")
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    // Hadoop FS probe, NOT java.io.File: on hdfs:// or s3a:// a local-File
    // probe is always false, so tombstoned rows would silently resurrect
    // (r13 advice)
    val tombPath = new org.apache.hadoop.fs.Path(s"$indexDir/tombstones")
    val hasTombs = tombPath.getFileSystem(spark.sessionState.newHadoopConf())
      .isDirectory(tombPath)
    val matched = spark.read.parquet(s"$indexDir/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    // a fully-compacted index has NO tombstone relation at all — the
    // generation-rule anti-join drops out of the plan entirely, which is
    // the query-side payoff compactIndex exists for (plan-audited)
    val tf = (if (hasTombs)
        liveRows(matched, spark.read.parquet(s"$indexDir/tombstones"))
      else matched)
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
    val stats = spark.read.parquet(s"$indexDir/segstats")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        (sum(col("sum_dl")).cast("double") / sum(col("n_docs")).cast("double")).as("avgdl"))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val wTerm = idf * (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl")))
    val weighted = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), wTerm.as("w"))
    val pivoted = weighted.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        terms.map(tm => max(when(col("term") === tm, col("w"))).as(s"w_$tm")): _*)
    val score = terms.map(tm => coalesce(col(s"w_$tm"), lit(0.0))).reduce(_ + _)
    pivoted.select(col("doc_id"), col("n_terms"), roundHalfUp(score, 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Driver-side xxhash64 of a literal term — the SAME function the
    * index writer's bucket column evaluates, so query-time bucket ids
    * always agree with the layout.
    */
  private def termBucket(term: String, nBuckets: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.StringType
    // seed 42L is the default the Column-API xxhash64(...) uses
    val h = XxHash64(Seq(Literal.create(term, StringType)), 42L).eval(null).asInstanceOf[Long]
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  /** C67: BM25 over the materialized index — reads ONLY the query
    * terms' partition buckets (PartitionFilters, plan-audited), joins
    * the bucket-pruned df relation broadcast, and scores with C35's
    * exact formulas/fold order, so results are row-identical to
    * [[bm25Search]] while touching index-bytes/nBuckets instead of two
    * corpus scans.
    */
  def bm25Indexed(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                  query: String = "spark stream filter", k: Int = 20,
                  k1: Double = 1.2, b: Double = 0.75, nBuckets: Int = 64): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "bm25Indexed needs at least one query term")
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    val tf = spark.read.parquet(s"$indexDir/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val df = spark.read.parquet(s"$indexDir/terms")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("term"), col("df"))
    val stats = spark.read.parquet(s"$indexDir/stats")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val wTerm = idf * (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl")))
    val weighted = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), wTerm.as("w"))
    val pivoted = weighted.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        terms.map(tm => max(when(col("term") === tm, col("w"))).as(s"w_$tm")): _*)
    val score = terms.map(tm => coalesce(col(s"w_$tm"), lit(0.0))).reduce(_ + _)
    pivoted.select(col("doc_id"), col("n_terms"), roundHalfUp(score, 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Index cache for the driver-contract [[bm25IndexedQuery]]: the index
    * is a materialized artifact in production — building it per query
    * would bench the build, not the retrieval path.
    */
  private val indexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** C67 driver query: index-backed BM25 over the corpus dir (index
    * built once per dir and memoized; the oracle string is SHARED with
    * C35 because the results are defined to be row-identical).
    */
  def bm25IndexedQuery(t: Tables, sfDir: String): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = indexCache.computeIfAbsent(sfDir, { _ =>
      val d = java.nio.file.Files.createTempDirectory("bm25idx").toString
      buildInvertedIndex(t, d)
      d
    })
    bm25Indexed(spark, dir)
  }

  private val phraseIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** C67d driver query: index-backed phrase search over the corpus dir
    * (positional index built once per dir and memoized; the oracle
    * string is SHARED with the scan-floor `phrase_search` because the
    * results are defined to be row-identical).
    */
  def phraseIndexedQuery(t: Tables, sfDir: String): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = phraseIndexCache.computeIfAbsent(sfDir, { _ =>
      val d = java.nio.file.Files.createTempDirectory("phraseidx").toString
      buildPhraseIndex(t, d)
      d
    })
    phraseSearchIndexed(spark, dir)
  }

  private val deltaIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** C67b driver query: the corpus lands as a base segment MINUS every
    * 97th doc, then those docs arrive as a DELTA segment — so the
    * segmented read exercises real tombstone/stat merging while the
    * queryable state equals the full corpus, which is why the oracle
    * string is SHARED with C35/C67 (results are defined row-identical).
    */
  def bm25DeltaQuery(t: Tables, sfDir: String): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = deltaIndexCache.computeIfAbsent(sfDir, { _ =>
      val d = java.nio.file.Files.createTempDirectory("bm25idxd").toString
      buildInvertedIndexDocs(t.documents.filter(col("doc_id") % 97 =!= 0), d)
      indexDelta(spark, d,
        t.documents.filter(col("doc_id") % 97 === 0).select(col("doc_id"), col("text")),
        removedIds = Seq.empty)
      d
    })
    bm25IndexedInc(spark, dir)
  }

  private val compactIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** C67c driver query: the corpus lands as base-minus-every-97th, the
    * missing docs arrive as TWO delta segments, one early doc is removed
    * by a delta and re-added verbatim by the next (a full
    * tombstone-supersede cycle), and then the index is FULLY compacted —
    * one segment, zero tombstones. The queryable state still equals the
    * full corpus, so the oracle string is SHARED with C35/C67/C67b:
    * compaction is held to exact row-identity by the same hash compare.
    */
  def bm25CompactQuery(t: Tables, sfDir: String): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = compactIndexCache.computeIfAbsent(sfDir, { _ =>
      val d = java.nio.file.Files.createTempDirectory("bm25idxc").toString
      val docs = t.documents.select(col("doc_id"), col("text"))
      buildInvertedIndexDocs(docs.filter(col("doc_id") % 97 =!= 0), d)
      indexDelta(spark, d, docs.filter(col("doc_id") % 194 === 0), removedIds = Seq.empty)
      indexDelta(spark, d,
        docs.filter(col("doc_id") % 97 === 0 && col("doc_id") % 194 =!= 0),
        removedIds = Seq(1L))
      indexDelta(spark, d, docs.filter(col("doc_id") === 1L), removedIds = Seq.empty)
      compactIndex(spark, d)
      d
    })
    bm25IndexedInc(spark, dir)
  }

  /** Tokens of a document as an array column, lowercased, empties
    * dropped — shared by the n-gram LM pair (C37/C37b). Stays a
    * higher-order array op so bigram construction below never needs a
    * per-document window (no doc_id exchange, no per-doc sort).
    */
  private def lmTokenArr: Column =
    filter(wsTokens(lower(col("text"))), tk => length(tk) > 0)

  /** Adjacent-bigram stream (doc_id, w1, w2) with vocabulary mapping:
    * tokens outside the top-`vocabSize` vocabulary become "<unk>"; each
    * document's first token is paired with the "<s>" begin marker (so
    * every non-empty document emits exactly one bigram per token).
    *
    * Shape, in corpus-scan order: (1) vocabulary = one tokenize scan +
    * map-side-combinable count + bounded TakeOrdered (ties broken by
    * token, so the vocabulary is deterministic); (2) bigram pairing is
    * done INSIDE the token array with `zip_with` against a null-shifted
    * copy — the pair stream leaves the scan already formed, with no
    * window, no self-join and no doc-keyed exchange; (3) OOV mapping is
    * two broadcast hash joins against the vocabSize-bounded vocabulary
    * (never a shuffle). The injected begin marker is represented as a
    * NULL previous-token until after mapping, so a literal "<s>" token
    * in the text still goes through vocabulary mapping like any other
    * token — the DuckDB oracle (map first, then coalesce(lag(m),'<s>'))
    * agrees on that corner by construction.
    */
  private def lmPairs(t: Tables, vocabSize: Int): DataFrame = {
    val vocab = t.documents
      .select(explode(lmTokenArr).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(vocabSize)
      .select("token")
    // tokens NAMED before the generator (the ngramCounts finding): a
    // generator expression gets no subexpression elimination, and the
    // inline form re-ran the tokenizer for each of the ~4 references
    // (the empty guard, zip_with's current side, the shifted slice and
    // its bound) per row — per pair-stream consumer
    val arr = col("toks")
    // prev array [null, a0 .. a_{n-2}]: zip_with pairs each token with
    // its predecessor; the n==0 guard avoids zip_with null-padding the
    // empty token array against [null]
    val prev = concat(array(lit(null).cast("string")),
      slice(arr, lit(1), greatest(size(arr) - 1, lit(0))))
    val prs = when(size(arr) === 0, array().cast("array<struct<w1raw:string,w2raw:string>>"))
      .otherwise(zip_with(prev, arr,
        (p, c) => struct(p.as("w1raw"), c.as("w2raw"))))
    val raw = t.documents
      .select(col("doc_id"), lmTokenArr.as("toks"))
      .select(col("doc_id"), explode(prs).as("pr"))
      .select(col("doc_id"), col("pr.w1raw").as("w1raw"), col("pr.w2raw").as("w2raw"))
    val v1 = broadcast(vocab.withColumnRenamed("token", "w1raw").withColumn("in1", lit(1)))
    val v2 = broadcast(vocab.withColumnRenamed("token", "w2raw").withColumn("in2", lit(1)))
    raw.join(v1, Seq("w1raw"), "left").join(v2, Seq("w2raw"), "left")
      .select(col("doc_id"),
        when(col("w1raw").isNull, lit("<s>"))
          .when(col("in1").isNotNull, col("w1raw")).otherwise(lit("<unk>")).as("w1"),
        when(col("in2").isNotNull, col("w2raw")).otherwise(lit("<unk>")).as("w2"))
  }

  /** C37: bigram language-model training with add-k smoothing — the
    * model behind perplexity-based corpus filtering (Wenzek et al.
    * 2020's CCNet selects training data by LM perplexity; this is that
    * pipeline's train step re-expressed relationally). Emits the
    * observed-bigram relation (w1, w2, cnt, ctx, logp) over the
    * top-`vocabSize` vocabulary + "<unk>", logp = ln((cnt + k) /
    * (ctx + k·(V+1))) with the (V+1)-outcome event space (vocabulary
    * plus the OOV bucket; "<s>" is context-only).
    *
    * Scale shape: two corpus scans (vocabulary, pairing — the same
    * two-scan floor as index-free BM25), then everything is bounded:
    * the bigram aggregation is map-side combinable on (w1, w2) keys
    * whose cardinality is ≤ min(corpus bigrams, (V+1)²), and context
    * totals derive from the aggregated LM relation, not a third corpus
    * pass. No window, no sort wider than the bounded output ORDER BY.
    */
  def ngramLm(t: Tables, vocabSize: Int = 256, k: Double = 0.5): DataFrame = {
    val pairs = lmPairs(t, vocabSize)
    // persist: the bigram-count relation is (V+1)²-BOUNDED (≤ 66k rows at
    // V=256) but feeds two consumers (the context rollup and the join) —
    // without the cache each consumer re-runs the corpus-sized pair
    // explode + vocabulary joins. Tiny entry, saves a full corpus pass.
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cnt")).persist()
    val ctx = big.groupBy("w1").agg(sum(col("cnt")).as("ctx"))
    big.join(ctx, Seq("w1"))
      .select(col("w1"), col("w2"), col("cnt"), col("ctx"),
        roundHalfUp(log((col("cnt") + lit(k)) / (col("ctx") + lit(k * (vocabSize + 1)))), 3)
          .as("logp"))
      .orderBy("w1", "w2")
  }

  /** C37b: per-document LM scoring — mean bigram log-probability and
    * perplexity under the C37 model, the CCNet-style quality signal
    * (low-perplexity ≈ fluent prose, high ≈ boilerplate/garbage; both
    * tails get inspected in a real corpus build). Scoring the training
    * corpus itself, every pair hits the LM relation, but the join stays
    * a left join with the add-k unseen fallback ln(k / (ctx + k·(V+1)))
    * so held-out tables score through the same plan.
    *
    * The pair stream is corpus-sized; the LM and context relations are
    * vocabulary-bounded — the joins are declared plainly and AQE
    * broadcasts them when they fit (the common case; a (V+1)²-sized LM
    * at very large V degrades to a shuffle join, which is the right
    * plan there). n_bigrams == the document's token count (one bigram
    * per token, BOS-paired first token included) — a cross-operator
    * invariant the spec checks against token_count.
    */
  def lmScore(t: Tables, vocabSize: Int = 256, k: Double = 0.5): DataFrame = {
    val pairs = lmPairs(t, vocabSize)
    // persist: (V+1)²-bounded LM relation, two consumers (see ngramLm) —
    // saves one full corpus pair pass
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cnt")).persist()
    val ctx = big.groupBy("w1").agg(sum(col("cnt")).as("ctx"))
    val vTerm = lit(k * (vocabSize + 1))
    val lp = when(col("cnt").isNotNull,
        log((col("cnt") + lit(k)) / (col("ctx") + vTerm)))
      .otherwise(log(lit(k) / (col("ctx") + vTerm)))
    pairs.join(big, Seq("w1", "w2"), "left").join(ctx, Seq("w1"))
      .select(col("doc_id"), lp.as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), (sum(col("lp")) / count(lit(1))).as("avg_raw"))
      .select(col("doc_id"), col("n_bigrams"),
        roundHalfUp(col("avg_raw"), 3).as("avg_logp"),
        roundHalfUp(exp(-col("avg_raw")), 2).as("ppl"))
      .orderBy("doc_id")
  }

  /** C57: CCNet perplexity bucketing (Wenzek et al. 2020) — per
    * LANGUAGE, split the corpus into head/middle/tail bands at exact
    * perplexity quantiles under the C37 LM (CCNet trains per-language
    * KenLMs and keeps the low-perplexity head; a global cut would judge
    * every non-English doc "disfluent" against English statistics).
    * Returns (doc_id, lang, ppl, band) with band 0 = most fluent.
    *
    * Scale shape: scoring is [[lmScore]]'s plan (array-side pairing, no
    * window; vocabulary joins broadcast); the per-(lang, ppl) histogram
    * is map-side combinable and bounded — ppl is ROUNDED to 2 decimals
    * upstream, so distinct (lang, bucket) pairs are structurally capped
    * far below corpus rows (`maxDistinct` gate with named remedy, the
    * C51 precedent); band assignment is a zero-shuffle literal fold
    * (value-based cutoffs → ties land deterministically on any
    * partitioning, where per-lang ntile would range-sort the corpus).
    * Docs with no scoreable bigram (empty text) are absent, as in C37b.
    */
  def pplBucket(t: Tables, nBands: Int = 3, vocabSize: Int = 256, k: Double = 0.5,
                maxDistinct: Long = 1L << 20): DataFrame = {
    val pairs = lmPairs(t, vocabSize)
    // persist: (V+1)²-bounded LM relation, two consumers (see ngramLm)
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cnt")).persist()
    val ctx = big.groupBy("w1").agg(sum(col("cnt")).as("ctx"))
    val vTerm = lit(k * (vocabSize + 1))
    val lp = when(col("cnt").isNotNull,
        log((col("cnt") + lit(k)) / (col("ctx") + vTerm)))
      .otherwise(log(lit(k) / (col("ctx") + vTerm)))
    val ds = pairs.join(big, Seq("w1", "w2"), "left").join(ctx, Seq("w1"))
      .select(col("doc_id"), lp.as("lp"))
      .groupBy("doc_id")
      .agg((sum(col("lp")) / count(lit(1))).as("avg_raw"))
      .select(col("doc_id"), roundHalfUp(exp(-col("avg_raw")), 2).as("ppl"))
    // persist: the scored-and-labeled relation feeds TWO passes — the
    // cutoff histogram below and the returned band assignment — and
    // without the cache the second pass re-runs the whole LM scoring
    // pipeline (pair explode + vocabulary joins + doc aggregation) from
    // the parquet scan. The entry is doc-cardinality × 3 narrow columns
    // (the same weight class as the operator's own output) and is
    // LRU-evictable MEMORY_AND_DISK.
    val dl = ds.join(t.documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .persist()
    // gate BEFORE materializing: limit(gate+1) bounds the driver at
    // O(gate) rows even on a degenerate corpus, so the remedy below can
    // actually print instead of the collect OOMing first
    val hist = dl.groupBy(col("lang"), col("ppl")).agg(count(lit(1)).as("cnt"))
      .limit(math.min(maxDistinct + 1, Int.MaxValue.toLong).toInt).collect()
    require(hist.length <= maxDistinct,
      s"pplBucket: distinct (lang, ppl) buckets exceed maxDistinct=$maxDistinct — " +
        "coarsen the ppl rounding before banding a corpus this heterogeneous")
    val cutsByLang: Map[Option[String], Seq[Double]] =
      hist.groupBy(r => Option(r.getString(0))).map { case (l, rows) =>
        val sorted = rows.map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
        val n = sorted.map(_._2).sum
        val cum = sorted.map(_._2).scanLeft(0L)(_ + _).tail
        val cuts = (1 until nBands).map { i =>
          val target = (i * n + nBands - 1) / nBands
          sorted(cum.indexWhere(_ >= target))._1
        }.distinct
        l -> cuts
      }
    val bandCol = cutsByLang.foldLeft(lit(null).cast("long")) { case (acc, (l, cuts)) =>
      val b = cuts.foldLeft(lit(0L)) { (a, c) =>
        a + when(col("ppl") > c, 1L).otherwise(0L)
      }
      when(col("lang") <=> lit(l.orNull).cast("string"), b).otherwise(acc)
    }
    dl.select(col("doc_id"), col("lang"), col("ppl"), bandCol.as("band"))
  }

  /** (doc_id, source, n_tokens, quality) — the C9 quality score with the
    * grouping columns budget-style curation needs; shares C9's exact
    * rounded formula so the two surfaces can never drift.
    */
  private[operators] def qualityScored(t: Tables): DataFrame = {
    val toks = wsTokens(col("text"))
    val nWords = when(length(trim(col("text"))) === 0, 0L).otherwise(size(toks).cast("long"))
    val nStop = expr(s"element_at(graft_stopword_hits(text, '${stopwords.mkString(",")}'), 1)")
    val nPunct = regexp_count(col("text"), lit("[.!?,;:]")).cast("long")
    t.documents
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n_chars"),
        nWords.as("n_words"), nStop.as("n_stop"), nPunct.as("n_punct"))
      .withColumn("stop_ratio",
        when(col("n_words") === 0, 0.0)
          .otherwise(roundHalfUp(col("n_stop").cast("double") / col("n_words"), 4)))
      .withColumn("punct_ratio",
        when(col("n_chars") === 0, 0.0)
          .otherwise(roundHalfUp(col("n_punct").cast("double") / col("n_chars"), 4)))
      .withColumn("quality",
        roundHalfUp(lit(0.4) * least(col("n_words").cast("double") / 100.0, lit(1.0))
          + lit(0.3) * col("stop_ratio") * 5.0
          + lit(0.3) * (lit(1.0) - col("punct_ratio")), 4))
      .select(col("doc_id"), col("source"), col("n_words").as("n_tokens"), col("quality"))
  }

  /** Hashed n-gram feature buckets of a document — unigrams then
    * bigrams, each polynomial-rolling-hashed (base 31 mod 1e9+7, the
    * engine's shared cross-engine string hash) into `b` buckets. Order
    * inside the array is positional (all unigrams, then all bigrams),
    * which fixes the float fold order of [[dsirWeights]]' score — the
    * DuckDB oracle folds the identically-constructed list, so the sums
    * are bit-stable across engines, not just close.
    */
  /** One-pass native featurization (tokenize + hash + bucket in a single
    * string scan, no bigram strings materialized); [[dsirFeatsHof]] is
    * the independent parity reference.
    */
  private def dsirFeats(b: Int): Column =
    expr(s"graft_dsir_feats(text, ${b}L)")

  private[graft] def dsirFeatsHof(b: Int): Column = {
    val arr = filter(wsTokens(lower(col("text"))), tk => length(tk) > 0)
    val bigs = zip_with(
      slice(arr, lit(1), greatest(size(arr) - 1, lit(0))),
      slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
      (a, c) => concat_ws(" ", a, c))
    // rolling hash ∈ [0, 1e9+7), so % b is already non-negative
    transform(concat(arr, bigs),
      tk => graft.functions.native.rolling_hash(tk) % lit(b.toLong))
  }

  /** C38: DSIR importance weights (Xie et al., NeurIPS 2023 — Data
    * Selection via Importance Resampling). Documents are featurized as
    * hashed n-gram counts (unigrams + bigrams into `b` buckets); a
    * target distribution p is estimated from the documents matching
    * `targetExpr`, the raw distribution q from the whole corpus, both
    * add-α smoothed; a document's importance weight is
    * logw = Σ_feats (ln p_bucket − ln q_bucket) — high where the doc
    * looks more like the target than like the corpus at large.
    *
    * Scale shape: ONE stats scan (explode buckets → B-bounded
    * map-side-combinable aggregate with conditional target counts →
    * bounded collect of ≤ `b` rows), then scoring is a SINGLE narrow
    * zero-shuffle codegen scan — the bucket→weight table folds back as
    * one literal map Column (the A21 literal-fold pattern; plan size
    * O(1) in b via the reference-object Literal), and the per-doc score
    * is an in-array left fold, never an exploded join + regroup. At
    * 100 TB the scoring pass is pure map work with no doc-keyed
    * exchange at all.
    */
  /** A fitted C38 model: hashed-bucket importance weights plus the
    * unseen-bucket fallback. Bounded (≤ b entries), so it ships inside
    * plans as a literal map Column — batch and streaming scoring are
    * the same zero-shuffle narrow projection.
    */
  case class DsirModel(b: Int, weights: Map[Long, Double], wUnseen: Double) {
    /** Bucket-indexed weight table (unseen fallback pre-filled) for the
      * fused scoring kernel, built once per model: every scoring
      * projection of the model passes this one array, so its kernel
      * calls compare equal.
      */
    private[TextAnalysis] lazy val table: Array[Double] = {
      val w = Array.fill(b)(wUnseen)
      weights.foreach { case (bk, v) => w(bk.toInt) = v }
      w
    }
  }

  /** The C38 stats pass alone: fit the bucket→weight model from one
    * B-bounded aggregate scan (map-side combinable, ≤ b-row collect).
    */
  def dsirFit(t: Tables, targetExpr: String = "lang = 'en'",
              b: Int = 1024, alpha: Double = 0.5): DsirModel = {
    require(b > 0 && b <= 65536, s"dsir bucket count must be in (0, 65536], got $b")
    val cnts = t.documents
      .select(explode(dsirFeats(b)).as("bk"), expr(targetExpr).as("is_t"))
      .groupBy("bk")
      .agg(count(lit(1)).as("cA"), sum(when(col("is_t"), 1L).otherwise(0L)).as("cT"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val totA = cnts.map(_._2).sum.toDouble
    val totT = cnts.map(_._3).sum.toDouble
    val denomT = totT + alpha * b
    val denomA = totA + alpha * b
    val w: Map[Long, Double] = cnts.map { case (bk, cA, cT) =>
      bk -> (math.log((cT + alpha) / denomT) - math.log((cA + alpha) / denomA))
    }.toMap
    // a bucket absent from the whole corpus (held-out or streaming
    // scoring) gets the all-smoothing weight; for in-corpus docs every
    // lookup hits (map element_at nulls on miss even under ANSI)
    DsirModel(b, w, math.log(alpha / denomT) - math.log(alpha / denomA))
  }

  /** Fused featurize-and-score through the native kernel — one string
    * scan per document, fold in feature order (bit-identical to the
    * HOF/oracle). The struct is shared by score and n_feats projections,
    * so codegen's subexpression elimination evaluates it once per row.
    */
  private def dsirScored(m: DsirModel): Column = dsirScoreKernel(m.table, m.b.toLong)

  /** struct<n_feats, score> of `text` against the bucket-indexed weight
    * table `w` (one constant table for the kernel).
    */
  private def dsirScoreKernel(w: Array[Double], b: Long): Column = {
    require(w.length == b, s"dsir score table: ${w.length} != $b")
    KernelCall.column("dsirScore", StructType(Seq(
      StructField("n_feats", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))), col("text"), w, b)
  }

  private[graft] def dsirScoreCol(m: DsirModel): Column =
    dsirScored(m).getField("score")

  /** HOF parity reference for the fused scoring kernel (DsirSpec). */
  private[graft] def dsirScoreColHof(m: DsirModel): Column = {
    val wOf = (bk: Column) => coalesce(element_at(typedLit(m.weights), bk), lit(m.wUnseen))
    aggregate(dsirFeatsHof(m.b), lit(0.0d), (acc, bk) => acc + wOf(bk))
  }

  private[graft] def dsirNFeats(m: DsirModel): Column =
    dsirScored(m).getField("n_feats")

  def dsirWeights(t: Tables, targetExpr: String = "lang = 'en'",
                  b: Int = 1024, alpha: Double = 0.5): DataFrame = {
    val m = dsirFit(t, targetExpr, b, alpha)
    t.documents
      .select(col("doc_id"), expr(targetExpr).cast("long").as("in_target"),
        dsirNFeats(m).as("n_feats"),
        roundHalfUp(dsirScoreCol(m), 3).as("logw"))
  }

  /** C38b: DSIR selection — sample `k` documents without replacement
    * with probability ∝ exp(logw / tau) via the Gumbel-top-k trick,
    * made DETERMINISTIC by deriving each document's uniform from the
    * engine's multiplicative id hash instead of rand(): membership is a
    * pure function of (corpus, doc_id), so the selection reproduces
    * across runs, engines and speculative retries — the same no-rand()
    * rule as C16/C19b, which is what makes the resample auditable.
    *
    * key = logw/tau + g,  g = −ln(−ln(u)),
    * u = ((pmod(doc_id, P)·2654435761) mod P + 0.5) / P ∈ (0, 1).
    *
    * Top-k = TakeOrderedAndProject over the zero-shuffle scoring scan:
    * the whole operator is one stats scan + one narrow scan + a bounded
    * ordered take. The key ranks on the ROUNDED logw (bit-identical
    * across engines by construction, so the only cross-engine ordering
    * risk is a float tie in the Gumbel term — broken by doc_id).
    */
  def dsirSelect(t: Tables, k: Int = 200, tau: Double = 1.0,
                 targetExpr: String = "lang = 'en'",
                 b: Int = 1024, alpha: Double = 0.5): DataFrame = {
    val P = 1000000007L
    val scored = dsirWeights(t, targetExpr, b, alpha)
    val u = (expr(s"((doc_id % ${P}L + ${P}L) % ${P}L * 2654435761L) % ${P}L")
      .cast("double") + lit(0.5)) / lit(P.toDouble)
    val key = col("logw") / lit(tau) - log(-log(u))
    scored
      .withColumn("gumbel_key", key)
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("in_target"), col("logw"),
        roundHalfUp(col("gumbel_key"), 3).as("gumbel_key"))
  }

  /** C44: fasttext-style quality classifier (Joulin et al. 2017 — the
    * canonical LLM-corpus quality filter: GPT-3/LLaMA-style "looks like
    * the reference corpus" gating). Logistic regression over the SAME
    * hashed n-gram features as C38 (uni+bigram buckets), trained by
    * batch gradient descent against `labelExpr` as the positive class.
    *
    * Scale shape per iteration (the kmeans/C18 pattern): the logit is
    * the fused C38 scoring kernel (ONE narrow string-scan per doc — the
    * current weight table rides as a bucket-indexed reference object),
    * the gradient is one explode → b-bounded map-side-combinable
    * aggregate (≤ b rows collected to update the driver-held weights),
    * so driver work is O(b·iters) and data passes are `iters` scans.
    * Float-sum association order in the gradient aggregate makes
    * trained weights run-stable only to ~ulp — like C18 this is
    * rows-only for the driver oracle, with planted separable-corpus
    * ScalaTests; [[classifierScore]] is the oracle-checked twin.
    */
  def classifierTrain(t: Tables, labelExpr: String = "lang = 'en'",
                      b: Int = 1024, iters: Int = 8, lr: Double = 0.5): (Array[Double], Double) = {
    require(b > 0 && b <= 65536, s"classifier bucket count must be in (0, 65536], got $b")
    var w = new Array[Double](b)
    var bias = 0.0
    val n = t.documents.count().toDouble
    val y = expr(labelExpr).cast("double")
    for (_ <- 0 until iters) {
      val z = dsirScoreKernel(w, b.toLong).getField("score") + lit(bias)
      val resid = (lit(1.0) / (lit(1.0) + exp(-z)) - y).as("resid")
      val scored = t.documents.select(dsirFeats(b).as("feats"), resid)
      // ONE corpus pass per iteration: a sentinel bucket −1 appended to
      // every doc's feature list carries the bias gradient (Σ resid, one
      // addend per document) through the same explode→aggregate job that
      // sums the per-bucket gradients — the old second full scan for
      // biasGrad is gone (8 GD iterations: 16 corpus scans → 8)
      val grads = scored
        .select(explode(concat(col("feats"), array(lit(-1L)))).as("bk"), col("resid"))
        .groupBy("bk").agg(sum(col("resid")).as("g"))
        .collect().map(r => (r.getLong(0).toInt, r.getDouble(1)))
      val biasGrad = grads.collectFirst { case (-1, g) => g }.getOrElse(0.0)
      // float32-round the updated weights per iteration (the kmeans
      // oracle precedent, r17): gradient sums are float-order-sensitive
      // (partition order here, scan order in an oracle engine) to ~ulp;
      // rounding each iteration's weights to REAL absorbs that and the
      // engines' exp() last-ulp differences, making the whole GD
      // trajectory — and therefore the final logits — bit-reproducible
      // and SQL-oracle-checkable (quality_classifier was rows-only).
      val w2 = w.clone()
      grads.foreach { case (bk, g) => if (bk >= 0) w2(bk) = (w2(bk) - lr * g / n).toFloat.toDouble }
      w = w2
      bias = (bias - lr * biasGrad / n).toFloat.toDouble
    }
    (w, bias)
  }

  /** C44 applied: train then classify the corpus — (doc_id, label,
    * logit, keep). Rows-only driver check (see [[classifierTrain]]).
    */
  def qualityClassifier(t: Tables, labelExpr: String = "lang = 'en'",
                        b: Int = 1024, iters: Int = 8, lr: Double = 0.5): DataFrame = {
    val (w, bias) = classifierTrain(t, labelExpr, b, iters, lr)
    val z = dsirScoreKernel(w, b.toLong).getField("score") + lit(bias)
    t.documents.select(col("doc_id"), expr(labelExpr).cast("long").as("label"),
      roundHalfUp(z, 4).as("logit"), (z >= 0).as("keep"))
  }

  /** C44b: the classifier SCORING pass in isolation, oracle-checkable —
    * weights come from a deterministic pseudo-random rule both engines
    * compute exactly (w[bk] = ((bk·2654435761) mod 1000 − 500)/1000, a
    * rational with an exact /1000 double), the logit folds them in
    * feature order through the same fused kernel, and `keep = logit ≥ 0`
    * needs no transcendentals — the whole output is bit-stable across
    * engines. This is the shape a DEPLOYED classifier runs (weights are
    * a frozen artifact; scoring is the 100 TB pass): one zero-shuffle
    * narrow scan, no join, no exchange.
    */
  def classifierScore(t: Tables, b: Int = 1024): DataFrame = {
    val w = Array.tabulate(b)(bk => ((bk.toLong * 2654435761L) % 1000L - 500L).toDouble / 1000.0)
    val s = dsirScoreKernel(w, b.toLong)
    t.documents.select(col("doc_id"),
      s.getField("n_feats").as("n_feats"),
      roundHalfUp(s.getField("score"), 4).as("logit"),
      (s.getField("score") >= 0).as("keep"))
  }

  /** C40: intra-document segment deduplication — drop repeated
    * lines/paragraphs/sentences WITHIN each document, keeping the first
    * occurrence in original order (the FineWeb/CCNet "remove duplicated
    * lines" cleanup; the cross-document twin is C25 paragraph_dedup).
    * Segments compare on the C25 normalization (lower + trim); the
    * surviving text is reassembled with the same separator.
    *
    * Scale shape: the whole operator is ONE zero-shuffle narrow codegen
    * scan — the segment split, the first-occurrence test and the
    * reassembly are all higher-order array ops inside the row, so there
    * is no explode, no per-doc window, no doc_id exchange at any corpus
    * size (C25 needs its paragraph-hash shuffle because its dedup scope
    * is corpus-wide; this one's scope is the document, which Spark
    * already holds in one row). The first-occurrence test is
    * `array_position(normalized, x) == own index` — quadratic in
    * SEGMENTS PER DOCUMENT (bounded by document length, not corpus
    * size), linear in documents.
    *
    * `sep` defaults to "\n" (line granularity); the driver query uses
    * " " so the synthetic single-line corpus still exercises the
    * keep-first/reassemble semantics on real repeats.
    */
  def lineDedup(t: Tables, sep: String = "\n"): DataFrame = {
    val segs = split(col("text"), java.util.regex.Pattern.quote(sep))
    // native one-pass kernel: O(segments) per doc where the HOF
    // array_position formulation is O(segments²). lineDedupHof is the
    // parity twin; the sf10 payoff is recorded in SURVEY round-12 notes.
    t.documents
      .withColumn("segs", segs)
      .withColumn("kept", expr("graft_keep_first(segs)"))
      .select(col("doc_id"),
        size(col("segs")).cast("long").as("n_segs"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), sep).as("kept_text"))
  }

  /** The higher-order-function formulation of [[lineDedup]] — kept as the
    * independent parity reference for the `graft_keep_first` kernel
    * (`array_position(normalized, x) == own index`, quadratic per doc).
    */
  private[graft] def lineDedupHof(t: Tables, sep: String = "\n"): DataFrame = {
    val segs = split(col("text"), java.util.regex.Pattern.quote(sep))
    val normed = transform(col("segs"), s => lower(trim(s)))
    // array_position is 1-based; filter's index is 0-based
    val kept = filter(col("segs"),
      (s, i) => array_position(col("nm"), lower(trim(s))) === i.cast("long") + 1L)
    t.documents
      .withColumn("segs", segs)
      .withColumn("nm", normed)
      .withColumn("kept", kept)
      .select(col("doc_id"),
        size(col("segs")).cast("long").as("n_segs"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), sep).as("kept_text"))
  }

  /** Unbounded BM25 document scores for [[bm25Search]] and the C41 RRF
    * fusion — (doc_id, n_terms, score) with the fixed-order pivoted
    * summation (see bm25Search's Scaladoc for the scale shape).
    */
  private def bm25Scores(t: Tables, terms: Seq[String],
                         k1: Double, b: Double): DataFrame = {
    val dl = when(length(trim(col("text"))) === 0, 0L)
      .otherwise(size(wsTokens(lower(col("text")))).cast("long"))
    val stats = t.documents.agg(
      count(lit(1)).cast("long").as("n_docs"),
      avg(dl).as("avgdl"))
    // the term filter runs INSIDE the token array, before the generator:
    // Generate emits only matching postings (≤ a handful per doc), not
    // the corpus's full token stream — explode-then-filter would push 60+
    // rows per doc through the generator to drop nearly all of them
    val postings = t.documents
      .select(col("doc_id"), dl.as("dl"),
        explode(filter(wsTokens(lower(col("text"))),
          tk => tk.isin(terms: _*))).as("term"))
    val tf = postings.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"), max(col("dl")).as("dl"))
    // tf's key set is the distinct (doc, term) postings — df reads off it
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val wTerm = idf * (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl")))
    val weighted = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), wTerm.as("w"))
    // fixed-order pivot: one column per literal term, added left to right
    val pivoted = weighted.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        terms.map(tm => max(when(col("term") === tm, col("w"))).as(s"w_$tm")): _*)
    val score = terms.map(tm => coalesce(col(s"w_$tm"), lit(0.0))).reduce(_ + _)
    pivoted.select(col("doc_id"), col("n_terms"), roundHalfUp(score, 4).as("score"))
  }

  /** C41: hybrid retrieval — reciprocal-rank fusion (RRF, Cormack et al.
    * SIGIR 2009) of the BM25 lexical ranking (C35) and the dense cosine
    * ranking (C6) for the same information need:
    *
    *   rrf(d) = Σ_r 1 / (kf + rank_r(d))   over the rankings d appears in.
    *
    * Rank fusion needs no score calibration between the two retrievers —
    * exactly why it is the default hybrid combiner in modern RAG /
    * data-selection stacks.
    *
    * Scale shape: each arm runs its own already-audited plan (BM25 =
    * postings-filtered scan + broadcast stats + bounded top-n; dense =
    * one narrow scoring scan + bounded top-n) and hands fusion a ≤ n-row
    * relation. Fusion itself — the ranks, the full-outer join, the final
    * top-k — therefore runs on two bounded inputs: the rank windows sort
    * n rows, not the corpus, and the join is trivially in-memory. The
    * fused score adds the two reciprocal terms in FIXED order (BM25 then
    * dense), so the float is bit-stable across engines.
    *
    * The two id spaces (doc_id, vec_id) are unified by id — the corpus
    * convention that embeddings row i embeds document i.
    */
  def rrfFusion(t: Tables, query: String = "spark stream filter",
                queryVecId: Long = 0L, n: Int = 50, k: Int = 20,
                kf: Int = 60, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "rrfFusion needs at least one query term")
    // both arms: deterministic total order, bounded take, THEN ranks —
    // the row_number windows below see ≤ n rows, never the corpus
    val bmTop = bm25Scores(t, terms, k1, b)
      .orderBy(col("score").desc, col("doc_id")).limit(n)
    val bmRanked = bmTop.withColumn("bm25_rank",
      row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("bm25_rank"))
    val dnTop = Similarity.annTopK(t, queryVecId, n)
    val dnRanked = dnTop.withColumn("dense_rank",
      row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    val rrf = coalesce(lit(1.0) / (lit(kf.toDouble) + col("bm25_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(kf.toDouble) + col("dense_rank")), lit(0.0))
    bmRanked.join(dnRanked, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rank"), col("dense_rank"),
        roundHalfUp(rrf, 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .select(col("rk"), col("doc_id"), col("bm25_rank"), col("dense_rank"), col("rrf"))
  }

  /** C48: sliding-window text chunking — split each document into
    * `window`-token chunks every `stride` tokens (overlap = window −
    * stride), the corpus-prep step for RAG indexing and long-document
    * training: each chunk becomes an embedding/indexing unit. Chunk
    * starts are the multiples of `stride` below the token count, so
    * every token belongs to ≥ 1 chunk, tail chunks run short, and an
    * empty document emits no chunks. Emits (doc_id, chunk_id,
    * n_tokens, chunk_text).
    *
    * Scale shape: ONE zero-shuffle narrow scan + the chunk explode —
    * chunking scope is the document, which the row already holds, so
    * there is no join, no window, no exchange at any corpus size
    * (plan-audited); all arithmetic is integer, so the oracle compare
    * is exact. Output size ≈ corpus × window/stride — the explode is
    * the point (downstream embeds each chunk), not overhead.
    */
  def chunkText(t: Tables, window: Int = 64, stride: Int = 48): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"chunkText needs 0 < stride <= window, got window=$window stride=$stride")
    // tokens NAMED before the generator: a generator expression gets no
    // subexpression elimination, and `arr` is referenced by size twice
    // and by the slice INSIDE the per-chunk lambda — the inline form
    // re-ran the regex tokenizer per chunk per row (the ngramCounts
    // finding; guide §1.2 step 2)
    val arr = col("toks")
    val n = size(arr)
    // chunk starts: 0, stride, 2·stride, ... < n  (ceil(n/stride) chunks;
    // Column `/` is true division — cast truncates, exact for n ≥ 1)
    val nChunks = when(n === 0, lit(0))
      .otherwise(((n - 1) / lit(stride)).cast("int") + 1)
    val chunks = when(n === 0, array().cast("array<struct<cid:int,toks:array<string>>>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1), i =>
        struct(i.cast("int").as("cid"),
          slice(arr, i * lit(stride) + 1, lit(window)).as("toks"))))
    t.documents
      .select(col("doc_id"),
        filter(wsTokens(lower(col("text"))), tk => length(tk) > 0).as("toks"))
      .select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.cid").cast("long").as("chunk_id"),
        size(col("c.toks")).cast("long").as("n_tokens"),
        array_join(col("c.toks"), " ").as("chunk_text"))
  }

  /** C46: PMI collocation mining — the top-k adjacent token pairs by
    * pointwise mutual information, pmi = ln(c(a,b)·N / (cl(a)·cr(b)))
    * with a min-count floor (Church & Hanks, CL 1990). The phrase-mining
    * signal behind tokenizer/vocabulary curation and boilerplate
    * discovery: high-PMI pairs are multi-word units ("new york"),
    * high-count/low-PMI pairs are incidental adjacency.
    *
    * Scale shape: ONE tokenize scan — the pair stream leaves the scan
    * already formed (the C37 `zip_with` shape: no per-doc window, no
    * doc-keyed exchange) into a map-side-combinable (w1, w2) count whose
    * key space is the corpus's distinct-bigram relation; left/right
    * marginals and the grand total all DERIVE from that aggregated
    * relation (no second corpus scan), and the marginal joins attach to
    * the bounded pair relation, broadcast when AQE sees they fit. Top-k
    * is a bounded ordered take on the ROUNDED pmi (ties broken by the
    * pair), so the cut is deterministic cross-engine.
    */
  def pmiTop(t: Tables, minCount: Long = 5L, k: Int = 50): DataFrame = {
    // tokens NAMED before the generator (the ngramCounts finding): the
    // inline form re-ran the tokenizer for each of the ~5 references
    // (size + both slices and their bounds) per row
    val arr = col("toks")
    val prs = when(size(arr) < 2,
        array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(zip_with(
        slice(arr, lit(1), greatest(size(arr) - 1, lit(0))),
        slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
    val pc = t.documents
      .select(filter(wsTokens(lower(col("text"))), tk => length(tk) > 0).as("toks"))
      .select(explode(prs).as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val left = pc.groupBy("w1").agg(sum(col("cnt")).as("cl"))
    val right = pc.groupBy("w2").agg(sum(col("cnt")).as("cr"))
    val tot = pc.agg(sum(col("cnt")).as("tot"))
    // double-domain ratio (cnt·N up to ~1e26 at corpus scale would
    // overflow BIGINT; the double product is exact enough and the
    // formula string is identical on both engines)
    val pmi = log((col("cnt").cast("double") * col("tot")) /
      (col("cl").cast("double") * col("cr")))
    pc.filter(col("cnt") >= minCount)
      .join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("cnt"), col("cl"), col("cr"),
        roundHalfUp(pmi, 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** C59: character-entropy quality signal — codepoint Shannon entropy
    * (nats) with codepoint/distinct counts. Near-zero entropy flags
    * degenerate repetition (aaaa…, padding); implausibly high entropy
    * flags binary-in-text/mojibake — both tails are dropped or reviewed
    * in web-corpus builds where word-level heuristics (C9/C27) miss
    * byte-level garbage.
    *
    * ONE zero-shuffle narrow scan through the native `graft_char_entropy`
    * kernel (sort + run-length in one pass; the HOF formulation would
    * re-scan the text per distinct char). The -p·ln(p) terms fold in
    * ascending-codepoint order — the oracle folds the identically
    * ordered list, so the float sum is bit-identical cross-engine.
    */
  def entropyScore(t: Tables): DataFrame =
    t.documents
      .withColumn("e", expr("graft_char_entropy(text)"))
      .select(col("doc_id"), col("e.n").as("n_cps"), col("e.k").as("n_distinct"),
        roundHalfUp(col("e.h"), 4).as("entropy"))

  /** C60: per-source unigram KL divergence vs the corpus mixture — the
    * domain-shift audit run before adding a new provider/dump: KL(source
    * ‖ corpus) ≈ 0 means the source looks like everything else;
    * a large value flags a distribution the mixture weights (C19) and
    * importance resampling (C38) should know about. Tokens outside the
    * top-`vocabSize` vocabulary fold into `<unk>` (the C37 vocabulary
    * rule), which also bounds every post-tokenize relation.
    *
    * Scale shape: corpus-sized work is the two tokenize scans (vocab
    * build + mapping — C37's cost class, vocabulary joins broadcast);
    * everything past the (source, token) count is (sources × (V+1))-
    * bounded — the corpus marginals DERIVE from that bounded relation
    * rather than a third scan. The KL sum folds over a sort_array'd
    * collect_list (bounded at V+1 per source), fixing the float add
    * order to ascending token — the oracle's list(ORDER BY) fold —
    * so the divergence is bit-stable cross-engine. KL(p‖q) needs no
    * smoothing: p(w)=0 terms vanish and q(w)>0 whenever any source
    * carries w.
    */
  def sourceKl(t: Tables, vocabSize: Int = 256): DataFrame = {
    val tok = t.documents.select(col("source"),
      explode(filter(wsTokens(lower(col("text"))), x => length(x) > 0)).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabSize)
      .select(col("w"), lit(1).as("inv"))
    val mapped = tok.join(broadcast(vocab), Seq("w"), "left")
      .select(col("source"),
        when(col("inv").isNotNull, col("w")).otherwise(lit("<unk>")).as("w"))
    val sc = mapped.groupBy("source", "w").agg(count(lit(1)).as("cnt"))
    val ns = sc.groupBy("source").agg(sum(col("cnt")).as("n"))
    val cw = sc.groupBy("w").agg(sum(col("cnt")).as("c"))
    val nn = sc.agg(sum(col("cnt")).as("tot"))
    val p = col("cnt").cast("double") / col("n")
    val q = col("c").cast("double") / col("tot")
    val term = sc.join(ns, Seq("source")).join(cw, Seq("w"))
      .crossJoin(broadcast(nn))
      .select(col("source"), col("w"), (p * log(p / q)).as("kt"))
    term.groupBy(col("source"))
      .agg(collect_list(struct(col("w"), col("kt"))).as("terms"))
      .join(ns, Seq("source"))
      .select(col("source"), col("n").as("n_tokens"),
        roundHalfUp(aggregate(sort_array(col("terms")), lit(0.0),
          (a, x) => a + x.getField("kt")), 4).as("kl"))
  }

  /** C54: canonical selection — per exact-content cluster, pick ONE
    * survivor by source priority (curated sources beat crawl dumps when
    * the same text arrives from several providers), tie-broken by
    * doc_id, and emit the per-document mapping every downstream filter
    * consumes: (doc_id, content_hash, keep_doc_id, n_copies,
    * is_canonical). C1 (dedup_exact) answers "which copy is first";
    * this answers "which copy do we KEEP" when first-by-id is the wrong
    * policy.
    *
    * Scale shape: text collapses to md5 at the scan (the shuffle moves
    * 16-byte hashes, never documents); the survivor pick is a single
    * `min(struct(priority, doc_id))` — lexicographic struct min is a
    * partial aggregate, so hot clusters (the same boilerplate page
    * crawled a million times) combine map-side instead of funneling
    * through one task the way a row_number window would. The map-back
    * join is keyed on the same hash as the aggregate, so AQE reuses the
    * exchange rather than shuffling twice.
    */
  def canonicalSelect(t: Tables,
                      preferred: Seq[String] = Seq("src3", "src7", "src11")): DataFrame = {
    val pri = preferred.zipWithIndex.foldRight(lit(preferred.length.toLong)) {
      case ((s, i), acc) => when(col("source") === s, lit(i.toLong)).otherwise(acc)
    }
    val scored = t.documents.select(col("doc_id"),
      md5(norm).as("content_hash"), pri.as("pri"))
    val best = scored.groupBy(col("content_hash"))
      .agg(min(struct(col("pri").as("p"), col("doc_id").as("d"))).as("best"),
        count(lit(1)).as("n_copies"))
      .select(col("content_hash"), col("best.d").as("keep_doc_id"), col("n_copies"))
    scored.join(best, Seq("content_hash"))
      .select(col("doc_id"), col("content_hash"), col("keep_doc_id"), col("n_copies"),
        (col("doc_id") === col("keep_doc_id")).as("is_canonical"))
  }

  /** C55: boilerplate segment removal (RefinedWeb-style line-wise
    * filtering, Penedo et al. 2023 §G) — segments whose document
    * frequency reaches `minDfPermille`/1000 of the corpus are navigation
    * chrome / cookie banners / license headers, and EVERY occurrence is
    * dropped (C25/C40 keep a first occurrence; boilerplate has no
    * first occurrence worth keeping). Returns (doc_id, n_segs, n_kept,
    * kept_text) with surviving segments reassembled in order.
    *
    * Scale shape: pass 1 aggregates per-doc-DISTINCT normalized segments
    * to document frequencies (map-side combinable; the threshold bounds
    * the surviving set at total-occurrences/minDf, so a 0.1 % floor on a
    * 100-billion-segment corpus caps it structurally). Pass 2 is a
    * zero-shuffle narrow scan: the boilerplate set rides into the filter
    * as ONE literal array column (the A21/C38 literal-fold precedent),
    * gated at `maxBoiler` entries — past the gate the honest fallback is
    * the explode + broadcast-anti + reassemble shuffle, which this
    * raises loudly instead of silently planning.
    *
    * The threshold is integer permille arithmetic ((n·minDfPermille +
    * 999) div 1000) so no float boundary can flip a segment between
    * engines.
    */
  def boilerplateSegs(t: Tables, sep: String = " ", minDfPermille: Int = 300,
                      maxBoiler: Int = 1 << 16): DataFrame = {
    val segs = split(col("text"), java.util.regex.Pattern.quote(sep))
    val docs = t.documents.select(col("doc_id"), col("text"))
    val distinctSegs = array_distinct(transform(segs, s => lower(trim(s))))
    val df = docs.select(explode(distinctSegs).as("seg"))
      .filter(length(col("seg")) > 0)
      .groupBy(col("seg")).agg(count(lit(1)).as("df"))
    val n = docs.count()
    val minDf = (n * minDfPermille + 999L) / 1000L
    // gate BEFORE materializing: limit(gate+1) bounds the driver at
    // O(gate) segments even when the df threshold degenerates, so the
    // remedy below prints instead of the collect OOMing first
    val boiler = df.filter(col("df") >= minDf)
      .select(col("seg")).limit(maxBoiler + 1).collect().map(_.getString(0)).sorted
    require(boiler.length <= maxBoiler,
      s"boilerplateSegs: boilerplate segments exceed maxBoiler=$maxBoiler — " +
        "raise the df threshold or switch to the explode + broadcast-anti reassembly path")
    val blArr = array(boiler.map(lit(_)): _*)
    val kept = filter(col("segs"), s => !array_contains(blArr, lower(trim(s))))
    docs
      .withColumn("segs", segs)
      .withColumn("kept", kept)
      .select(col("doc_id"),
        size(col("segs")).cast("long").as("n_segs"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), sep).as("kept_text"))
  }

  /** C56: corpus n-gram profile (WIMBD-style "what's in my big data"
    * audit, Elazar et al. 2024) — the `topK` most frequent word
    * `n`-grams with term and document frequency. vocab_topk (C26) is
    * the unigram special case; contamination and memorization audits
    * want the n≥3 head.
    *
    * Scale shape: n-grams assemble ARRAY-SIDE inside the scan row
    * (transform over an index sequence — no token explode, no per-doc
    * window), then one map-side-combinable (gram) aggregation; the
    * top-k is TakeOrderedAndProject (bounded k, no global sort). The
    * shuffle carries one row per distinct gram — the same weight class
    * as any corpus count — and df's distinct-rewrite shuffles
    * (gram, doc_id) pairs exactly like C26.
    *
    * The token array is NAMED (a projected column, not an inline
    * expression): a generator expression gets NO subexpression
    * elimination, so the previous inline form re-ran the regex
    * tokenizer for every reference inside the gram CASE — size, the
    * short-doc join, the sequence bound and the slice, 4-5 evaluations
    * per row; measured 3x of this query's wall (guide §1.2 step 2).
    */
  def ngramCounts(t: Tables, n: Int = 3, topK: Int = 20,
                  maxDistinctGrams: Long = 50000000L): DataFrame = {
    val toks = col("toks")
    val grams = when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
    val exploded = t.documents
      .select(col("doc_id"), wsTokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), explode(grams).as("gram"))
      .filter(length(col("gram")) > 0)
    gateDistinctVolume(exploded, "gram", maxDistinctGrams, "ngramCounts",
      instanceBound = Some(charBound(t)))
    exploded
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("gram"))
      .limit(topK)
  }

  /** A whitespace-separated token (hence also any word n-gram) needs at
    * least one character plus a separator, so ⌈len/2⌉ summed over the
    * corpus upper-bounds the token/gram instance count — and therefore
    * the DISTINCT count — with NO tokenization, NO regex, NO explode:
    * the gate's cheap tier is one column-pruned length scan.
    */
  private def charBound(t: Tables): DataFrame =
    t.documents.agg(coalesce(sum(((length(col("text")) + 1) / 2).cast("long")), lit(0L)))

  /** Distinct-volume gate for the exact-df operators (C26/C56): refuse a
    * vocabulary explosion BEFORE the expand shuffle, with the sketch
    * remedies named (the C75 loud-refusal style). Two tiers bound the
    * gate's own cost: `instanceBound` ([[charBound]]) is one
    * column-pruned length scan — no tokenization, no gram assembly —
    * whose value UPPER-BOUNDS the distinct count; when it already fits
    * the cap, no further work. Only a corpus whose character volume
    * exceeds the cap pays the HLL sketch pass (one map-side-combinable
    * aggregation, 4 KiB per task across the exchange, ±~2 % at p=12) —
    * exactly the corpora the gate exists to scrutinize. Runs at
    * CONSTRUCTION time and can throw there (the documented C75
    * contract); `maxDistinct <= 0` = no gate, no job.
    */
  private def gateDistinctVolume(rel: DataFrame, keyCol: String,
                                 maxDistinct: Long, op: String,
                                 instanceBound: Option[DataFrame] = None): Unit =
    if (maxDistinct > 0) {
      val cheap = instanceBound.map(_.head().getLong(0))
      if (!cheap.exists(_ <= maxDistinct)) {
        val est = rel.agg(expr(s"graft_hll($keyCol, 12)")).head().getLong(0)
        require(est <= maxDistinct,
          s"$op: ~$est distinct ${keyCol}s (HLL estimate, ±~2%) exceed " +
            s"maxDistinct=$maxDistinct — the exact-df expand would shuffle every " +
            s"distinct ($keyCol, doc) pair. Use heavy_hitters (Misra-Gries frequency " +
            "head) or hll_distinct (cardinality audit) at this scale, or raise the " +
            "cap with shuffle capacity provisioned.")
      }
    }

  /** C65: sketched per-source distinct-token counts — the vocabulary-size
    * audit at a scale where exact distinct is the bottleneck: the native
    * `graft_hll` TypedImperativeAggregate reduces each map task to one
    * 2^p-byte register array before the exchange (4 KiB at p=12,
    * ±1.6 % standard error), where the exact `count(distinct)` rewrite
    * this replaces shuffles EVERY distinct token. Sketch merge is
    * pointwise register max — associative/commutative/IDEMPOTENT, so
    * partitioning, AQE re-plans and task retries cannot move the
    * estimate (HllSpec asserts partition-layout invariance exactly).
    *
    * Rows-only driver check by documented design (DuckDB's
    * approx_count_distinct is a different HLL — cross-engine equality is
    * not defined); the spec pins the error bound against exact distinct
    * at two scales plus the merge-invariance property.
    */
  def hllDistinct(t: Tables, p: Int = 12): DataFrame =
    t.documents
      .select(col("source"),
        explode(filter(wsTokens(lower(col("text"))), tk => length(tk) > 0)).as("token"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"), expr(s"graft_hll(token, $p)").as("est_distinct"))

  /** C61: HTML/markup strip — the extraction step every web-crawl corpus
    * runs before any text heuristic (trafilatura-lite): drop tags, unescape
    * the five XML entities plus nbsp, collapse whitespace. A document that
    * loses most of its length to markup is boilerplate-dominated — the
    * `markup_frac` output feeds the C24 curation gates.
    *
    * ONE zero-shuffle narrow scan; every replace is a codegen'd built-in
    * with RE2-compatible patterns, so the oracle applies the literally
    * identical chain (DuckDB needs the 'g' flag to match Java's
    * replace-all default).
    */
  def htmlStrip(t: Tables): DataFrame = {
    val noTags = regexp_replace(col("text"), "<[^>]*>", " ")
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    // count columns cast to long explicitly: Spark's length() is int32
    // while the DuckDB oracle's is int64 — the sf1 sweep WARNed on the
    // width wobble (r15 verdict nit), and every other count column in
    // the codebase is already long
    t.documents.select(
      col("doc_id"),
      trim(regexp_replace(unescaped, "\\s+", " ")).as("clean"),
      length(col("text")).cast("long").as("raw_len"))
      .withColumn("clean_len", length(col("clean")).cast("long"))
      .withColumn("markup_frac", roundHalfUp(
        (col("raw_len") - col("clean_len")).cast("double") /
          greatest(col("raw_len"), lit(1)).cast("double"), 4))
  }

  /** C62: n-gram diversity (distinct-n) per source — the memorization /
    * templating audit: a source whose bigram distinct-ratio is far below
    * its peers is template-generated or heavily duplicated even when
    * no single document repeats (C13 is per-doc; this is the corpus-level
    * complement).
    *
    * Scale shape: unigram and bigram streams are array-side assembled
    * (no self-join), then ONE map-side-combinable (source, n, gram)
    * count collapses the corpus; everything after is
    * (sources × 2)-bounded. Ratios are exact integer quotients rounded
    * at the boundary.
    */
  def ngramDiversity(t: Tables): DataFrame = {
    // tokens NAMED before the generator (the ngramCounts finding): the
    // inline form re-ran the tokenizer for each of the ~6 references
    // (unigram transform + size/slice bounds of the bigram zip) per row
    val toks = col("toks")
    val bi = when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b)))
    val grams = t.documents
      .select(col("source"),
        filter(wsTokens(lower(col("text"))), tk => length(tk) > 0).as("toks"))
      .select(col("source"),
        explode(concat(
          transform(toks, tk => struct(lit(1).as("n"), tk.as("gram"))),
          transform(bi, g => struct(lit(2).as("n"), g.as("gram"))))).as("g"))
      .select(col("source"), col("g.n").as("n"), col("g.gram").as("gram"))
    grams.groupBy(col("source"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"), col("n"))
      .agg(sum(col("c")).as("total"), count(lit(1)).as("distinct_grams"))
      .withColumn("diversity", roundHalfUp(
        col("distinct_grams").cast("double") / col("total").cast("double"), 4))
  }

  /** C63: windowed co-occurrence mining (the SGNS/word2vec pair-prep):
    * directional (center, context) pairs at offsets 1..`window`, weighted
    * 1/distance. Weights are integer HALF-units (offset 1 → 2, offset 2
    * → 1), so the distributed sum is exact long arithmetic — no float
    * ordering anywhere — and `weight` divides back out at the boundary.
    *
    * Scale shape: pairs assemble ARRAY-SIDE per document (one zip_with
    * per offset — no explode-join, no window function), then one
    * map-side-combinable (w1, w2) count; top-k is
    * TakeOrderedAndProject. The shuffle carries one row per distinct
    * ordered pair — C45's (pmi_top) cost class with the window
    * generalized past adjacency.
    */
  def cooccurTop(t: Tables, window: Int = 2, k: Int = 50): DataFrame = {
    require(window >= 1 && window <= 8, s"window out of range: $window")
    // weight 1/d in exact integer units of 1/L, L = lcm(1..window)
    val L = (1 to window).foldLeft(1L) { (a, d) =>
      @annotation.tailrec def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
      a / gcd(a, d.toLong) * d
    }
    // tokens NAMED before the generator (the ngramCounts finding): the
    // inline form re-ran the tokenizer ~5 times per row per offset
    val toks = col("toks")
    val pairs = (1 to window).map { d =>
      when(size(toks) <= d, array().cast("array<struct<w1:string,w2:string,u:bigint>>"))
        .otherwise(zip_with(
          slice(toks, lit(1), greatest(size(toks) - d, lit(0))),
          slice(toks, lit(d + 1), greatest(size(toks) - d, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2"), lit(L / d).as("u"))))
    }
    t.documents
      .select(filter(wsTokens(lower(col("text"))), tk => length(tk) > 0).as("toks"))
      .select(explode(concat(pairs: _*)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.u").as("u"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"), sum(col("u")).cast("long").as("units"))
      .withColumn("weight", roundHalfUp(col("units").cast("double") / L.toDouble, 4))
      .orderBy(col("units").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** C64: Zipf-exponent fit — OLS slope of ln(count) on ln(rank) over the
    * top-`v` tokens. Natural corpora sit near slope ≈ −1; a flat slope
    * flags synthetic/templated text, a cliff flags a degenerate
    * vocabulary. Run as a per-source/per-dump admission check next to
    * C60's KL drift.
    *
    * Scale shape: ONE map-side-combinable token count collapses the
    * corpus; the top-`v` take is bounded; ranks and the five OLS sums
    * live on a ≤v-row relation folded in ascending-rank order through a
    * sorted collect_list, so the float arithmetic is bit-identical to
    * the oracle's list(ORDER BY) fold. No window over corpus data, no
    * driver arithmetic.
    */
  def zipfFit(t: Tables, v: Int = 128): DataFrame = {
    val counts = t.documents
      .select(explode(filter(wsTokens(lower(col("text"))), tk => length(tk) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(v)
    // rank via sorted fold: collect (-c, w) keys; ascending sort = count-desc
    // order with token tie-break, so zip position i is rank i+1
    val agg = counts
      .agg(sort_array(collect_list(struct((-col("c")).as("nc"), col("w"), col("c")))).as("xs"))
      .select(size(col("xs")).as("n_terms"),
        aggregate(
          zip_with(col("xs"), sequence(lit(1), size(col("xs"))),
            (s, r) => struct(log(r.cast("double")).as("x"), log(s.getField("c").cast("double")).as("y"))),
          struct(lit(0.0).as("sx"), lit(0.0).as("sy"), lit(0.0).as("sxx"), lit(0.0).as("sxy")),
          (acc, p) => struct(
            (acc.getField("sx") + p.getField("x")).as("sx"),
            (acc.getField("sy") + p.getField("y")).as("sy"),
            (acc.getField("sxx") + p.getField("x") * p.getField("x")).as("sxx"),
            (acc.getField("sxy") + p.getField("x") * p.getField("y")).as("sxy"))).as("s"))
    agg
      .filter(col("n_terms") >= 2)
      .withColumn("slope_raw",
        (col("s.sxy") * col("n_terms") - col("s.sx") * col("s.sy")) /
          (col("s.sxx") * col("n_terms") - col("s.sx") * col("s.sx")))
      .select(col("n_terms"),
        roundHalfUp(col("slope_raw"), 4).as("slope"),
        roundHalfUp((col("s.sy") - col("slope_raw") * col("s.sx")) / col("n_terms"), 4)
          .as("intercept"))
  }

  /** C71: per-doc n-gram novelty against a trusted reference slice — the
    * regurgitation/memorization audit: novelty(doc) = fraction of the
    * doc's distinct word-k-gram hashes ABSENT from the reference set.
    * Synthetic-data pipelines run exactly this gate on generated text
    * (novelty ≈ 0 → the generator replayed its sources; curation keeps
    * the middle band), and it generalizes C23's boolean decontamination
    * to a graded score. Reference docs themselves score 0 by
    * construction — their shingles are subsets of the set.
    *
    * Shares C2/C4's shingle kernel (`graft_shingle_hashes`, distinct
    * hashes in one pass, bit-identical to the oracle's CTE chain). The
    * join is HASH-ONLY — text never travels past the kernel: explode to
    * (doc_id, h), left-join the distinct reference hash set on h, count
    * hits per doc with map-side partial aggregation. At 100 TB the
    * shuffle carries 8-byte hashes keyed on h (uniform by construction,
    * no skew), and the doc-side re-aggregation is doc-cardinality. When
    * the reference fits a filter budget, C23b's broadcast-bloom shape
    * drops the shuffle entirely at the price of FP-rate novelty
    * underestimates — this exact-join form is the oracle-checkable
    * ground truth that path is measured against.
    */
  def noveltyScore(t: Tables, k: Int = 3,
      refExpr: String = "source IN ('src0','src1','src2','src3')"): DataFrame = {
    val sh = t.documents
      .select(col("doc_id"), expr(refExpr).as("is_ref"),
        explode(expr(s"graft_shingle_hashes(text, $k)")).as("h"))
    val ref = sh.filter(col("is_ref")).select(col("h")).distinct()
    sh.join(ref.withColumn("known", lit(1L)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("known"), lit(0L))).as("nk"))
      .select(col("doc_id"), col("n_shingles"),
        roundHalfUp(lit(1.0) - col("nk").cast("double") / col("n_shingles"), 4)
          .as("novelty"))
  }
}
