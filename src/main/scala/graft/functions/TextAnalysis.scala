package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-pipeline curation over the `documents`
  * table (north-star scope; no reference analog — the reference's only
  * string op is a filename substring match, main.py:216-218).
  *
  * Everything here is built-in Catalyst expressions (regexp/length/split
  * arithmetic) — codegen'd, no UDFs — and every formula is written
  * identically in the DuckDB oracle SQL (same operation order, so the
  * double arithmetic is bit-identical). Per-row map-side work only: at
  * 100 TB these ops pipeline inside the scan stage with zero shuffles.
  */
object TextAnalysis {

  /** Canonical normalization: lowercase, trim, collapse whitespace.
    * The whitespace class is EXPLICIT, not `\s`: Java's `\s` includes
    * vertical tab (U+000B) while DuckDB's RE2 `\s` is [\t\n\f\r ] — a
    * text containing U+000B would normalize differently per engine and
    * silently break every downstream hash-compared fingerprint. Both
    * sides now use the identical five-char class (OracleSql.norm).
    */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "[ \\t\\n\\f\\r]+", " ")

  /** Whitespace tokens of the normalized text ("" → empty, not [""]). */
  def tokens(c: Column): Column =
    when(length(normText(c)) === 0, array().cast("array<string>"))
      .otherwise(split(normText(c), " "))

  /** Stopword lists for the language-ID heuristic (tiny n-gram-free
    * variant: count language-specific function words).
    */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "(the|and|of|to|in|is|that|it|for|with)",
    "de" -> "(der|die|das|und|ist|nicht|mit|ein|zu|den)",
    "es" -> "(el|la|que|y|en|un|es|se|no|los)",
    "fr" -> "(le|les|et|des|une|est|dans|pour|qui|sur)")

  private def markerCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(normText(c), lit("\\b" + pattern + "\\b"), lit(1)))

  /** Scale-adaptive scan widen for the tokenize/regex/digest pipelines
    * in this module — every one of them runs its per-row CPU inside the
    * scan stage, whose parallelism is split-bound (1 task on the
    * single-row-group driver fixtures). See [[graft.Tables.widenCpu]]:
    * inserts a round-robin exchange only when the source is provably too
    * small for the scan to reach the session's slots; a no-op at
    * production scale. All nine uses pay at 4 cores (the table there).
    */
  private def wide(docs: DataFrame): DataFrame = graft.Tables.widenCpu(docs)

  /** Token/char statistics per document. */
  def tokenStats(docs: DataFrame): DataFrame =
    wide(docs).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      size(array_distinct(tokens(col("text")))).cast("long")
        .as("n_distinct_tokens"))

  /** BPE-ish subword pre-tokenization count — the standard LLM-budget
    * estimator when the real tokenizer isn't in the pipeline: split the
    * normalized text into letter runs, digit runs, and single
    * non-alphanumeric marks (the GPT-2 pre-tokenizer shape without the
    * contraction special cases). The regex is simple enough to behave
    * identically under Java regex and DuckDB's engine, so the count is
    * oracle-checkable; ratio to whitespace tokens ≈ subwords-per-word.
    */
  def bpeTokenEstimate(docs: DataFrame): DataFrame =
    wide(docs).select(col("doc_id"), normText(col("text")).as("n"),
      size(tokens(col("text"))).cast("long").as("n_words"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("n"),
          lit("([a-z]+|[0-9]+|[^a-z0-9 ])"), lit(1))).cast("long")
          .as("n_subwords"),
        col("n_words"))

  /** The quality expression over a raw text column — exposed separately
    * so pipelines (curation) can fuse it with other per-doc columns in
    * ONE projection instead of semi-joining a quality table. Repeated
    * subtrees (tokens, normText) collapse under whole-stage codegen's
    * common-subexpression elimination.
    */
  def qualityCol(text: Column): Column = {
    val toks = size(tokens(text)).cast("double")
    // count of chars outside [a-z0-9 ]: translate DELETES the 37 allowed
    // chars and the remaining length IS the count — a pure char-map pass,
    // measured 20× faster than the equivalent regexp_extract_all at 1M
    // docs (1.6 s vs 34 s) with an identical value (both count code
    // points outside the allowed set; the DuckDB oracle keeps its regex
    // form — values, not expressions, are what hash-compare)
    val punct = length(translate(normText(text),
      "abcdefghijklmnopqrstuvwxyz0123456789 ", "")).cast("double")
    val stops = markerCount(text, langMarkers.head._2).cast("double")
    val distinct = size(array_distinct(tokens(text))).cast("double")
    round(
      lit(0.3) * least(lit(1.0), toks / lit(50.0)) +
      lit(0.2) * (lit(1.0) - least(lit(1.0),
        punct / greatest(length(normText(text)).cast("double"), lit(1.0)) * lit(5.0))) +
      lit(0.2) * least(lit(1.0), stops * lit(10.0) / greatest(toks, lit(1.0))) +
      lit(0.3) * (distinct / greatest(toks, lit(1.0))), 6)
  }

  /** Heuristic quality score in [0,1]: length signal, punctuation penalty,
    * English-stopword signal, type-token ratio. Weights sum to 1; the
    * exact expression (including evaluation order) is mirrored in SQL.
    */
  def qualityScore(docs: DataFrame): DataFrame =
    wide(docs).select(col("doc_id"), qualityCol(col("text")).as("quality"))

  /** Language ID by marker-word counts with a fixed priority tie-break
    * (en > de > es > fr), written as the same CASE chain in SQL.
    */
  def languageId(docs: DataFrame): DataFrame = {
    val counts = langMarkers.map { case (l, p) =>
      l -> markerCount(col("text"), p)
    }
    val Seq(en, de, es, fr) = counts.map(_._2)
    wide(docs).select(
      col("doc_id"), col("lang").as("lang_declared"),
      // NULL text predicts NULL, not 'fr': with NULL marker counts every
      // >= condition is NULL (skipped) and the chain would fall through
      // to the tie-break default — a confident wrong prediction for a
      // doc that has no text. NULL-propagation is the module convention
      // (qualityScore/tokenStats/fingerprint all yield NULL here); the
      // oracle CASE chain mirrors this guard.
      when(col("text").isNull, lit(null).cast("string"))
        .when(en >= de && en >= es && en >= fr, "en")
        .when(de >= es && de >= fr, "de")
        .when(es >= fr, "es")
        .otherwise("fr").as("lang_pred"))
  }

  /** Deterministic train/validation split: bucket = md5(doc_id) mod 100,
    * train iff bucket < trainPct. Content-independent, reproducible on any
    * engine and any partitioning — the sharding primitive for dataset
    * versioning (no RNG, no sampleBy seed drift across runs).
    */
  def trainValSplit(docs: DataFrame, trainPct: Int = 90): DataFrame = {
    // md5_base60 ≡ conv(substring(md5(s),1,15),16,10) fused (SimHash
    // .scala) — value-identical, so the oracle keeps the chained form
    val bucket =
      call_function("md5_base60", col("doc_id").cast("string")) % 100
    docs.select(col("doc_id"), col("lang"),
      when(bucket < trainPct, "train").otherwise("val").as("split"))
  }

  /** Stable 128-bit content fingerprint of the normalized text (md5 is
    * identical across engines, so this doubles as the exact-dedup key).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(normText(col("text"))).as("fingerprint"),
      substring(md5(normText(col("text"))), 1, 8).as("bucket8"))

  /** Top terms per document under a LINEAR-idf TF-IDF variant:
    * score = tf · N/(1+df) instead of the standard tf · ln(N/(1+df)).
    * NOTE this is a deliberate variant, not a reimplementation: log is
    * monotone in the idf FACTOR but not in the tf·idf PRODUCT, so the
    * top-k can diverge from ln-based TF-IDF (e.g. N=100: (tf=5, df=9)
    * vs (tf=2, df=1) rank oppositely under linear vs log idf) — the
    * linear form weights rarity more aggressively. The payoff is exact
    * cross-engine reproducibility: `/` is IEEE correctly rounded while
    * libm `log` is not, so the scores (and the oracle) are bit-identical.
    * Three shuffles at scale:
    * (doc, term) partial-count aggregate, the term→df join (the df side is
    * vocabulary-sized — AQE broadcasts it when small), and the per-doc
    * top-k window. The corpus size N joins in as a broadcast single row.
    */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 3): DataFrame = {
    // NOT widened (r18): measured 0.79 → 1.15 s with the scan widen —
    // the tokenize pass is one explode feeding a (doc, term) aggregate,
    // and the added exchange costs more than the parallelism buys here
    // (same verdict as vocabEncode/bigramCollocations; the map-dominated
    // pipelines are where widening wins)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("raw").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") *
          (col("n_docs").cast("double") /
            (lit(1.0) + col("df").cast("double")))).as("raw"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"),
        round(col("raw"), 6).as("score"))
  }

  /** Deterministic stratified sampling: keep a document iff
    * md5("strat:" ‖ doc_id) mod 100 < rate(lang), with per-language rates
    * (downsample the dominant language, keep the tail) — the
    * class-balancing primitive for training-data mixes. Pure per-row
    * projection + filter (no RNG, no shuffle); reproducible on any engine
    * and any partitioning, and independent of [[trainValSplit]]'s hash
    * because of the salt.
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int],
      defaultPct: Int): DataFrame = {
    val bucket = call_function("md5_base60",
      concat(lit("strat:"), col("doc_id").cast("string"))) % 100
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (lang, pct)) => when(col("lang") === lang, lit(pct)).otherwise(acc)
    }
    docs.filter(bucket < rate)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** PII scrubbing: mask emails, then phone-shaped digit/punct runs, then
    * any remaining run of ≥4 digits (IDs, SSN-ish fragments). The email
    * pattern is case-insensitive (`(?i)` — identical inline-flag semantics
    * in Java regex and RE2) and runs against the RAW text so the masked
    * output preserves the original casing of everything around the mask.
    * The patterns use only char classes and bounded repetition — semantics
    * identical under Java regex (Spark) and RE2 (DuckDB with the 'g' flag).
    * Map-side only; composes into scan-stage projections at scale.
    */
  def scrubPii(c: Column): Column = {
    val email = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "\\+?[0-9][0-9() -]{6,}[0-9]"
    val idRun = "[0-9]{4,}"
    regexp_replace(
      regexp_replace(
        regexp_replace(c, email, "<email>"),
        phone, "<phone>"),
      idRun, "<id>")
  }

  /** POSITIONAL word n-grams (duplicates kept) from a materialized token
    * array column — the repetition-analysis sibling of
    * [[graft.operators.Dedup.shinglesFromTokens]] (which dedups). Docs
    * shorter than n words yield an empty array (no full n-gram exists —
    * unlike shingling, where the whole text still carries dedup signal).
    */
  def ngramsFromTokens(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))

  private def dupFrac(g: Column): Column =
    when(size(g) === 0, lit(0.0))
      .otherwise(round(lit(1.0) -
        size(array_distinct(g)).cast("double") / size(g).cast("double"), 6))

  /** Repetition signals per document (the Gopher-family quality filters):
    * fraction of positional 2-grams / 3-grams that are duplicates of an
    * earlier occurrence — high values mark boilerplate loops, keyboard
    * mash, and template spam that survive simple length/punctuation
    * gates. Pure per-row array math (token stage materialized first so
    * lambda bodies never re-evaluate the tokenizer): zero shuffles,
    * scan-stage pipelined at any scale.
    */
  def repetitionStats(docs: DataFrame): DataFrame =
    wide(docs).select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        ngramsFromTokens(col("w"), 2).as("g2"),
        ngramsFromTokens(col("w"), 3).as("g3"))
      .select(col("doc_id"),
        size(col("g2")).cast("long").as("n_2grams"),
        dupFrac(col("g2")).as("dup2_frac"),
        size(col("g3")).cast("long").as("n_3grams"),
        dupFrac(col("g3")).as("dup3_frac"))

  /** Corpus collocations ranked by LIFT — the log-free PMI variant
    * (precedent: the linear-idf TF-IDF above): lift(a,b) =
    * N·c(ab) / (c(a)·c(b)) over positional bigrams, N = total bigram
    * count. Monotone in PMI's argument, so the ranking matches PMI up to
    * the log's tie structure, while `/` stays IEEE-exact cross-engine
    * (libm log is not). `minCount` floors away one-off pairs (classic
    * PMI noise); global top-k runs as TakeOrderedAndProject (sort-free
    * per-partition top-k + tiny driver merge), never a one-partition
    * window. Three aggregates (bigram, unigram, N) + two vocabulary-sized
    * joins (AQE broadcasts them when small).
    */
  def bigramCollocations(docs: DataFrame, minCount: Long = 3,
      topK: Int = 20): DataFrame = {
    // NOT widened (r18): measured 0.72 → 0.93 s with the scan widen —
    // see tfidfTopTerms. Second session also tried tokenize-BEFORE-the-
    // widen (single-task tokenize once, token-array exchange reused by
    // all three branches): the skewed single-task stages did disappear
    // (StageProbe: 0.68 + 0.52 s single-task → 0.33 s tokenize + three
    // 32-wide branch stages) but the bench was FLAT (0.88 → 0.85
    // min-of-5, same window) — branch scheduling overhead eats the
    // parallel gain at this size, and above the widen threshold the
    // form is identical to this one. Reverted; three scan passes stay.
    val bg = docs.select(tokens(col("text")).as("w"))
      .select(ngramsFromTokens(col("w"), 2).as("g"))
      .select(explode(col("g")).as("bigram"))
    val uni = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val n = bg.agg(count(lit(1)).as("n_bigrams"))
    val cb = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .select(split(col("bigram"), " ")(0).as("term_a"),
        split(col("bigram"), " ")(1).as("term_b"), col("c_ab"))
    cb
      .join(uni.select(col("term").as("term_a"), col("c").as("c_a")),
        Seq("term_a"))
      .join(uni.select(col("term").as("term_b"), col("c").as("c_b")),
        Seq("term_b"))
      .crossJoin(broadcast(n))
      .select(col("term_a"), col("term_b"), col("c_ab"),
        round(col("n_bigrams").cast("double") * col("c_ab").cast("double") /
          (col("c_a").cast("double") * col("c_b").cast("double")), 6)
          .as("lift"))
      .orderBy(col("lift").desc, col("term_a"), col("term_b"))
      .limit(topK)
  }

  /** Reference-LM coverage score — the log-free stand-in for the CCNet
    * perplexity filter. The "language model" is a bigram table floored at
    * `minCount` (trained here on the corpus itself; a curated reference
    * corpus would simply swap the training DataFrame); a document's score
    * is the fraction of its positional bigram OCCURRENCES found in the
    * reference table. Clean prose re-uses common word transitions and
    * scores high; gibberish, keyboard mash, and wrong-language text score
    * low — the same separation CCNet's KenLM perplexity gate provides,
    * expressed as integer counts + ONE final double division per doc
    * (libm-free, so the oracle is bit-identical; precedent: linear-idf
    * TF-IDF and log-free PMI above).
    *
    * Scale shape: bigrams travel as 60-bit md5 int64 keys, never strings.
    * Three stages: (1) one hash-agg builds the reference table (map-side
    * partials), (2) one equi-join of doc-bigram occurrences against it —
    * a shuffle join by design, since a 100 TB corpus's floored bigram
    * table is itself large (raise `minCount` to shrink it into broadcast
    * range), (3) one per-doc count agg. Docs with no full bigram (< 2
    * tokens) score 0 by convention (no evidence of fluency).
    */
  def lmCoverage(docs: DataFrame, minCount: Long = 3): DataFrame = {
    val bg = wide(docs).select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), ngramsFromTokens(col("w"), 2).as("g"))
      .select(col("doc_id"), explode_outer(col("g")).as("bigram"))
      .select(col("doc_id"),
        call_function("md5_base60", col("bigram")).as("bkey"))
    val lm = bg.filter(col("bkey").isNotNull)
      .groupBy(col("bkey")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select(col("bkey"), lit(1).as("known"))
    bg.join(lm, Seq("bkey"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(col("bkey")).as("n_bigrams"),
        coalesce(sum(col("known")), lit(0)).cast("long").as("known_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("known_bigrams"),
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(round(col("known_bigrams").cast("double") /
            col("n_bigrams").cast("double"), 6)).as("lm_coverage"))
  }

  /** Concat-and-chunk sequence packing: the pretraining step that turns a
    * document stream into fixed-budget training sequences. Documents are
    * concatenated in deterministic (doc_id) order within a (lang, shard)
    * stream and chunked every `budgetTokens`; a doc's sequence id is the
    * chunk its FIRST token lands in ((cumsum − n_tokens) div budget).
    * Output: one row per (lang, shard, seq_id) with doc/token counts.
    *
    * The shard key (salted md5 of doc_id, mod `nShards`) is the scale
    * design, not a convenience: packing is inherently sequential within a
    * stream (a running sum), so the parallelism unit must be an
    * independent stream — lang alone would put an entire language's corpus
    * through ONE window partition (the classic skew trap: 'en' at 100 TB
    * is one task). Sharding by hash makes streams executor-sized and
    * keeps the result deterministic on any partitioning; training runs
    * shuffle shards anyway.
    */
  def packSequences(docs: DataFrame, budgetTokens: Long = 512,
      nShards: Int = 4): DataFrame = {
    val shard = call_function("md5_base60",
      concat(lit("pack:"), col("doc_id").cast("string"))) % nShards
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs.select(col("doc_id"), col("lang"), shard.as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_id", expr(s"(cum - n_tokens) div $budgetTokens"))
      .groupBy(col("lang"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }

  /** Per-source corpus report — the dataset-card aggregate every training
    * mix decision reads: document count, mean quality (DECIMAL
    * accumulation, one final divide), token-count median and p90
    * (Spark `percentile` ≡ DuckDB `quantile_cont` — both linear
    * interpolation on the sorted values), and total tokens. One
    * source-keyed hash aggregate; the percentile state is per-group
    * sorted token counts, bounded by group row count.
    */
  def corpusStatsBySource(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), qualityCol(col("text")).as("q"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("q").cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("avg_quality"),
        round(percentile(col("n_tok"), lit(0.5)), 6).as("p50_tokens"),
        round(percentile(col("n_tok"), lit(0.9)), 6).as("p90_tokens"),
        sum(col("n_tok")).as("total_tokens"))

  /** Per-source sampling rates that flatten the corpus toward a UNIFORM
    * source mixture under a total token budget — the mixture-reweighting
    * step of training-data curation (DoReMi-lite: the target weights here
    * are uniform; a learned weight vector would just replace
    * `budget / n_sources`). rate_s = min(1, (budget/n_sources) / tokens_s),
    * so under-budget sources keep everything and over-represented sources
    * downsample toward the per-source allowance.
    *
    * One source-keyed hash aggregate + one broadcast single-row total —
    * integer token counts, two single double divisions (libm-free,
    * oracle-exact). The output is |sources|-sized: the table a sampler
    * (e.g. [[trainValSplit]]'s hash gate reused per-source) consumes.
    */
  def domainMixture(docs: DataFrame, budgetTokens: Long): DataFrame = {
    val per = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("corpus_tokens"),
      count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("corpus_tokens").cast("double"), 6).as("corpus_share"),
        round(least(lit(1.0), lit(budgetTokens).cast("double") /
          (col("n_sources") * col("n_tokens")).cast("double")), 6)
          .as("sample_rate"))
  }

  /** Deterministic negative sampling for contrastive training: for each
    * document, `k` pseudo-random "negative" partner docs drawn via the
    * md5-60bit hash family. The corpus is bucketed by hash of doc_id
    * (`nBuckets` buckets, representative = min doc_id per bucket); draw j
    * for doc d lands in bucket md5(d ‖ ':' ‖ j) mod nBuckets. The bucket
    * table is |nBuckets| rows → a BROADCAST join: sampling is map-side
    * over the corpus scan, no corpus shuffle, fully reproducible on any
    * partitioning (no RNG state). Self-pairs are dropped (a doc drawn as
    * its own negative), so a doc can yield < k rows — standard practice
    * is to oversample k by one.
    */
  def negativeSamples(docs: DataFrame, k: Int = 4,
      nBuckets: Int = 64): DataFrame = {
    // sequence(0, k-1) AUTO-REVERSES when k-1 < 0 (step -1), so k = 0
    // would silently emit draws {0, -1} instead of none
    require(k >= 1, s"k ($k) must be >= 1")
    require(nBuckets >= 1, s"nBuckets ($nBuckets) must be >= 1")
    val reps = docs
      .select((call_function("md5_base60", col("doc_id").cast("string"))
        % nBuckets).as("bucket"), col("doc_id"))
      .groupBy(col("bucket")).agg(min(col("doc_id")).as("neg_doc_id"))
    docs.select(col("doc_id"), explode(sequence(lit(0), lit(k - 1))).as("j"))
      .withColumn("bucket",
        call_function("md5_base60",
          concat(col("doc_id").cast("string"), lit(":"),
            col("j").cast("string"))) % nBuckets)
      .join(broadcast(reps), Seq("bucket"))
      .filter(col("neg_doc_id") =!= col("doc_id"))
      .select(col("doc_id"), col("j"), col("neg_doc_id"))
  }

  /** Winnowing fingerprints (the MOSS rolling-hash scheme): hash every
    * POSITIONAL token k-gram (duplicates kept — winnowing is positional,
    * unlike the distinct shingle sets in Dedup), then keep the minimum
    * hash of each sliding window of `w` consecutive k-grams; the distinct
    * mins are the doc's fingerprints. Guarantees every match of length
    * ≥ w+k−1 tokens shares a fingerprint, with density 2/(w+1) — the
    * sublinear fingerprint set plagiarism/overlap detectors key on.
    *
    * ZERO shuffles: grams, hashes, rolling mins, and per-doc dedup are all
    * per-row array computations (higher-order functions), so the operator
    * is embarrassingly parallel at any scale — no window sort, no global
    * distinct exchange (the round-2 window/distinct form cost 3 wide
    * stages over every gram row). The trade-off is PER-ROW memory: the
    * gram strings (~k× text size) plus the hash array materialize inside
    * one row, so a pathologically large document (say 100 MB of text)
    * holds ~k·100 MB in a single row buffer — fine for web/doc corpora
    * (rows ≤ a few MB), but for huge-document corpora cap document size
    * upstream or fall back to the exploded window form above a
    * token-count threshold. Hashes are the engine-neutral md5-60bit
    * family, so the DuckDB oracle reproduces them exactly.
    * Docs shorter than k tokens contribute their whole text as a single
    * k-gram; the slice()'s natural tail truncation covers nGrams < w.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val grams = when(size(col("t")) >= k,
      transform(sequence(lit(0), size(col("t")) - k),
        i => concat_ws(" ", slice(col("t"), i + lit(1), lit(k)))))
      .otherwise(array(concat_ws(" ", col("t"))))
    // staged projections: each lambda body references only the previous
    // stage's column (subtrees inside a lambda re-evaluate per element)
    wide(docs).select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), grams.as("g"))
      .select(col("doc_id"),
        transform(col("g"),
          g => call_function("md5_base60", g)).as("h"))
      // window start positions 0 .. max(n_grams - w, 0); min of each
      // w-window (shrinking tail when n_grams < w via slice truncation)
      .select(col("doc_id"),
        array_distinct(transform(
          sequence(lit(0), greatest(size(col("h")) - w, lit(0))),
          i => array_min(slice(col("h"), i + lit(1), lit(w))))).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fingerprint"))
  }

  /** Inverted index (the corpus-search primitive): per normalized token,
    * the exact document frequency plus a sorted posting list, emitted
    * only for tokens with df ≤ `maxDf` (stop words keep their exact df
    * but an empty posting string — at 100 TB a stop word's postings ARE
    * the corpus, so materializing them is never right). The cap is FUSED
    * into the aggregate via [[graft.functions.CappedDocList]] (exact
    * count, at most `maxDf` members retained, O(maxDf) memory per
    * group) — one distinct + one hash-agg, both map-side partial; the
    * posting list is joined to a comma string so the row stays flat for
    * any engine.
    */
  def invertedIndex(docs: DataFrame, maxDf: Int = 20): DataFrame = {
    // NOT widened (r18): measured 0.49 → 0.67 s with the scan widen —
    // the tokenize explode feeds straight into the distinct exchange,
    // so the extra repartition buys nothing (see tfidfTopTerms)
    val posting = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
    val collected = udaf(new CappedDocList(maxDf))
      .apply(col("doc_id"), lit(0))
    posting.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), array_sort(collected).as("ds"))
      .select(col("term"), col("df"),
        concat_ws(",",
          transform(col("ds"), x => x.getField("doc_id").cast("string")))
          .as("postings"))
  }

  /** Deterministic per-epoch training-order shuffle — how a data loader
    * re-orders the corpus each epoch WITHOUT an RNG: the sort key is
    * md5(epoch ':' doc_id), so every epoch is a different but fully
    * reproducible permutation (same corpus + epoch → same order on any
    * engine, any partitioning, any rerun). Docs are first hashed into
    * `nShards` loader shards; position is assigned WITHIN (epoch,
    * shard) — exactly the sharded-file layout real training loaders
    * consume, and the reason there is no global sort anywhere: the only
    * window runs per (epoch, shard), never over the corpus.
    */
  def epochShuffle(docs: DataFrame, epochs: Int = 2,
      nShards: Int = 8): DataFrame = {
    // same sequence auto-reverse footgun as negativeSamples: epochs = 0
    // would emit phantom epochs {0, -1}
    require(epochs >= 1, s"epochs ($epochs) must be >= 1")
    require(nShards >= 1, s"nShards ($nShards) must be >= 1")
    val keyed = docs
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .withColumn("skey", md5(concat(col("epoch").cast("string"), lit(":"),
        col("doc_id").cast("string"))))
      .withColumn("shard",
        conv(substring(col("skey"), 1, 15), 16, 10).cast("long") % nShards)
    keyed.select(col("epoch"), col("shard"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("epoch"), col("shard"))
        .orderBy(col("skey"), col("doc_id"))).as("pos"),
      col("doc_id"))
  }

  /** Exact-quota stratified sample — `cap` documents per stratum
    * (`source`), selected deterministically by hash order. The QUOTA
    * complement of the rate-based [[stratifiedSample]]: Bernoulli rates
    * only hit a target in expectation, but a training mixture spec
    * ("exactly 100k docs of source X per epoch") needs the exact
    * count, reproducibly.
    * Selection key is md5 of the doc id — a fixed pseudo-random but
    * engine-independent order, so the same corpus always yields the
    * same sample (and the DuckDB oracle the same rows). Emits
    * (source, pos, doc_id), pos = 1..cap within the stratum.
    *
    * Scale: a per-stratum `row_number` LOOKS like the celebrity-degree
    * problem (one task gathers a whole stratum), but the declared form
    * is exactly what Catalyst's rank-limit pushdown (WindowGroupLimit,
    * SPARK-37099) optimizes: a PARTIAL top-`cap`-per-stratum filter
    * runs inside every input partition BEFORE the exchange, so the
    * stratum-keyed shuffle carries ≤ cap·P rows per stratum, never the
    * stratum. Hand-building the same two-phase shape with a
    * `spark_partition_id` pre-window was measured to only ADD an
    * exchange — the optimizer's version needs one. PlanShapeSpec pins
    * the Partial WindowGroupLimit so a regression fails tests.
    */
  def quotaSample(docs: DataFrame, cap: Int = 400): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    docs
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= cap)
      .select(col("source"), col("pos").cast("long").as("pos"),
        col("doc_id"))
  }

  /** Token-BUDGET prefix sample — the third member of the mixing family
    * (rate: [[stratifiedSample]], doc quota: [[quotaSample]], token
    * budget: this): per stratum (`source`), walk documents in
    * deterministic md5 order and keep each doc whose running token
    * total stays within `budgetTokens` — "give me exactly the first
    * N-tokens' worth of source X", the unit mixture specs are actually
    * written in. Emits (source, doc_id, n_tok, cum_tok); the running
    * totals are monotone, so the kept set is a true prefix. Scale
    * shape: the shared [[runningTokenTotals]] two-level prefix sum —
    * no stratum-wide window.
    */
  def tokenBudgetSample(docs: DataFrame, budgetTokens: Long): DataFrame =
    runningTokenTotals(docs)
      .filter(col("cum_tok") <= budgetTokens)
      .select(col("source"), col("doc_id"), col("n_tok"), col("cum_tok"))

  /** Systematic probability-proportional-to-size sample — one document
    * per `stepTokens` of cumulative token mass, per stratum: doc i is
    * selected iff its token span [cum−n_tok, cum) crosses a multiple of
    * the step, so P(selected) ∝ n_tok exactly (classic πps/systematic
    * sampling with the deterministic md5 walk as the random order, and
    * BIGINT floor division — `div` ≡ DuckDB `//` — instead of an RNG).
    * Where [[tokenBudgetSample]] truncates a prefix, this thins the
    * WHOLE stratum token-proportionally: the survey op behind "estimate
    * corpus statistics from 1/K of the tokens, weight-free".
    * Zero-token docs span nothing and are never selected; a doc LARGER
    * than the step spans several pick points and carries them as
    * `n_picks` multiplicity (true with-replacement πps — dropping the
    * multiplicity would under-weight exactly the biggest docs), so
    * Σ n_picks per stratum = ⌊stratum tokens / step⌋ EXACTLY, the
    * closed-form invariant PropertiesSpec checks on generated corpora.
    * Emits (source, doc_id, n_tok, cum_tok, n_picks); scale shape
    * identical to the budget sampler (shared [[runningTokenTotals]]
    * core).
    */
  def ppsSampleSystematic(docs: DataFrame, stepTokens: Long): DataFrame =
    runningTokenTotals(docs)
      .withColumn("n_picks",
        expr(s"cum_tok div $stepTokens") -
          expr(s"(cum_tok - n_tok) div $stepTokens"))
      .filter(col("n_picks") > 0)
      .select(col("source"), col("doc_id"), col("n_tok"), col("cum_tok"),
        col("n_picks"))

  /** The two-level prefix-sum core shared by the token-mass samplers:
    * per-stratum running token totals in deterministic md5 order,
    * WITHOUT a stratum-wide window. Bucket docs by the first hash byte
    * (256 buckets — order-preserving, the bucket is a prefix of the
    * sort key), aggregate per-bucket subtotals (corpus-sized map-side
    * combine → a 256-rows-per-stratum table), window THAT metadata
    * table for each bucket's prior-buckets total, join it back, and
    * run the per-doc running sum per (stratum, bucket) — 256-way
    * spread, so no task ever holds a stratum; SUM windows get no
    * rank-limit pushdown, so unlike [[quotaSample]] the decomposition
    * must be built by hand. prior + within-bucket running sum IS the
    * global prefix sum, exactly (BIGINT adds); the DuckDB oracles
    * compute the naive single-window form and must match row-for-row.
    */
  private def runningTokenTotals(docs: DataFrame): DataFrame = {
    val base = docs.select(
      col("source"), col("doc_id"),
      md5(col("doc_id").cast("string")).as("h"),
      size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("bucket", substring(col("h"), 1, 2))
    val bucketTot = base.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_tok")).as("btok"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val priors = bucketTot.withColumn("prior",
      coalesce(sum(col("btok")).over(wb), lit(0L)))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    base.join(priors.select(col("source"), col("bucket"), col("prior")),
        Seq("source", "bucket"))
      .withColumn("cum_tok", col("prior") + sum(col("n_tok")).over(wc))
  }

  /** Tokenizer-vocabulary build + id encoding — the step between curation
    * and training: rank corpus tokens with count ≥ `minCount` by
    * (count DESC, token) into dense ids (deterministic — no hash
    * collisions, no RNG), then encode every document as its token-id
    * sequence; out-of-vocab tokens map to id 0 (<unk>). Emits per doc the
    * id string plus token/unk counts.
    *
    * Scale: the only global ORDER BY runs on the AGGREGATED vocabulary —
    * |V| is dimension-sized (bounded by the token distribution, not the
    * corpus), which is why every real tokenizer pipeline can sort it on
    * one node. The token stream itself sees one hash-agg (vocab counts),
    * one broadcast join (encode), and one doc-keyed exchange
    * (reassembly) — never a global sort.
    */
  def vocabEncode(docs: DataFrame, minCount: Long = 3): DataFrame = {
    // posexplode_OUTER: a zero-token doc (empty/NULL text) keeps one
    // (NULL pos, NULL tok) row so the per-doc aggregate emits it with
    // n_tokens = 0 and ids = '' — the 'encode EVERY document' contract,
    // and the explode_outer convention lmCoverage/dsirWeights already
    // follow; plain posexplode would silently drop the doc and make
    // doc counts disagree with tokenStats on the same corpus
    // NOT widened (r18): measured 0.75 → 0.92 s with the scan widen —
    // see tfidfTopTerms
    val toks = docs.select(col("doc_id"),
      posexplode_outer(tokens(col("text"))).as(Seq("pos", "tok")))
    // the NULL-tok placeholder rows stay out of the vocabulary: a NULL
    // group could pass minCount and shift every real tok_id rank by one
    val vocab = toks.filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .withColumn("tok_id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("tok"))))
      .select(col("tok").as("vtok"), col("tok_id"))
    toks.join(broadcast(vocab), col("tok") === col("vtok"), "left")
      .select(col("doc_id"), col("pos"), col("tok"),
        coalesce(col("tok_id"), lit(0)).as("tid"))
      .groupBy(col("doc_id"))
      .agg(count(col("tok")).as("n_tokens"),
        sum(when(col("tok").isNotNull && col("tid") === 0, 1L)
          .otherwise(0L)).as("n_unk"),
        array_join(transform(
          array_sort(collect_list(when(col("tok").isNotNull,
            struct(col("pos"), col("tid"))))),
          s => s.getField("tid").cast("string")), " ").as("ids"))
  }

  /** BM25 top-k retrieval over the corpus for a fixed query set — the
    * ranking half of the retrieval stack [[invertedIndex]] builds the
    * index half of. Okapi parameters k1 = 1.2, b = 0.75, with the
    * log-free rational idf  (N − df + ½)/(df + ½)  (the same monotone
    * df-damping as Robertson's log idf, minus the transcendental): every
    * per-term score is then a ratio of INTEGER products,
    *
    *   score = (2N−2df+1)·22·tf·avgl / [(2df+1)·(10·tf·avgl + 3·avgl + 9·len)]
    *
    * (avgl = total_len div N), which this operator evaluates in
    * fixed-point micros via BIGINT floor division — Spark `div` ≡ DuckDB
    * `//`, the exactness contract PageRank established. Per-doc scores
    * are SUMS OF INT64s: order-independent, bit-identical on any
    * engine/partitioning (a double-sum would tie the result to shuffle
    * order, which is why no query in this repo ever sums doubles).
    *
    * Scale: the broadcast query-term list prunes the exploded token
    * stream BEFORE the tf aggregate, so the only shuffle carries
    * (doc, query-term) rows — everything else (df, corpus stats) is
    * dimension-sized and broadcast. The final top-k window partitions by
    * query_id; at 100 TB with huge candidate sets, swap in annTopK's
    * two-phase per-partition pre-top-k. Int64 headroom: the scaled
    * numerator is ~(2N)·22·tf·avgl·10⁶ — at N ≥ ~10⁹ docs move the
    * products to DECIMAL(38,0) (Spark IntegralDivide accepts decimals).
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(String, Seq[String])],
      topK: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val qdf = spark.createDataFrame(
      queries.flatMap { case (q, ts) => ts.map(t => (q, t)) })
      .toDF("query_id", "term")
    // one widened base for both tokenize passes (corpus stats + the
    // exploded token stream) — identical exchanges, AQE materializes once
    val d = wide(docs)
    val corpus = d
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("total_len"))
    val exploded = d.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("len"),
      explode(tokens(col("text"))).as("term"))
    val tf = exploded
      .join(broadcast(qdf.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("len")).as("len"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .join(broadcast(qdf), Seq("term"))
      .crossJoin(broadcast(corpus))
      .withColumn("avgl", expr("total_len div n_docs"))
      .withColumn("s_micros", expr(
        """((2*n_docs - 2*df + 1) * 22 * tf * avgl * 1000000) div
          |((2*df + 1) * (10*tf*avgl + 3*avgl + 9*len))""".stripMargin))
    scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s_micros")).as("score_micros"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score_micros").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rank"),
        col("score_micros"))
  }

  /** Sliding-window token chunking with overlap — the RAG/embedding-prep
    * step that turns documents into fixed-size retrieval units: chunks of
    * `size` tokens starting every `size − overlap` tokens, the last chunk
    * truncated at the document end — UNLESS that tail sits entirely
    * inside the previous chunk's overlap region (`n − start ≤ overlap`),
    * in which case it is dropped: every one of its tokens is already in
    * the previous chunk, so it would be a fully redundant retrieval unit.
    * Docs with zero tokens yield zero chunks.
    *
    * Pure per-row array math: the token array materializes once per doc,
    * start positions are a `sequence`, and each chunk is a `slice` +
    * `array_join` — no shuffle anywhere, so the operator pipelines inside
    * the scan stage at any scale (same zero-exchange story as
    * [[winnowFingerprints]], and the same per-row memory caveat: a chunk
    * fan-out of a pathologically huge doc stays inside one row buffer
    * until the explode).
    */
  def chunkDocuments(docs: DataFrame, size: Int = 64,
      overlap: Int = 16): DataFrame = {
    require(size > overlap && overlap >= 0,
      s"need size > overlap >= 0, got size=$size overlap=$overlap")
    val stride = size - overlap
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size_(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(0), size_(col("t")) - 1, lit(stride)))
          .as(Seq("chunk_idx", "start")))
      // a trailing start inside the previous chunk's overlap region
      // (n − start ≤ overlap) would emit a chunk whose every token the
      // previous chunk already covers — a fully redundant retrieval
      // unit. The condition is monotone in start, so only a tail suffix
      // drops and chunk_idx stays consecutive.
      .filter(col("start") === 0 ||
        size_(col("t")) - col("start") > overlap)
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_token"),
        size_(slice(col("t"), col("start") + 1, lit(size))).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("t"), col("start") + 1, lit(size)), " ")
          .as("chunk_text"))
  }

  // local alias: `size` the function vs `size` the parameter above
  private def size_(c: Column): Column = size(c)

  /** DSIR-lite importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023, done log-free): hash every positional
    * bigram into `nBuckets` buckets, estimate the target distribution from
    * the in-domain slice (here `lang = 'en'` stands in for the curated
    * reference corpus) and the source distribution from the whole corpus,
    * and score each document by the MEAN per-occurrence bucket ratio
    * (tc+1)/(sc+1) (add-one smoothing). True DSIR multiplies ratios
    * (i.e. sums logs); the per-occurrence mean is the libm-free surrogate
    * with the same high-is-in-domain ordering signal, and it stays
    * integer-exact: each ratio is evaluated in fixed-point micros via
    * BIGINT floor division (the BM25/PageRank exactness contract), and
    * per-doc totals are int64 sums — order-independent on any
    * partitioning. The constant S/T normalization factor is omitted: it is
    * identical for every doc (pure rank-preserving) and keeping it would
    * push the integer products past int64 headroom.
    *
    * Scale: the bucket tables are `nBuckets` rows → both the target/source
    * stats and the per-occurrence scoring join are BROADCAST; the only
    * corpus-wide shuffle is the final doc-keyed aggregate (map-side
    * partials). Docs with < 2 tokens (no bigram) score 0 by convention.
    */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
      nBuckets: Int = 256): DataFrame = {
    val bg = wide(docs)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("lang"), ngramsFromTokens(col("w"), 2).as("g"))
      .select(col("doc_id"), col("lang"), explode_outer(col("g")).as("bigram"))
      .select(col("doc_id"), col("lang"),
        (call_function("md5_base60", col("bigram")) % nBuckets).as("bucket"))
    // source AND target bucket counts in ONE corpus pass (a conditional
    // sum, not a second aggregate): the bigram Generate pipeline would
    // otherwise re-run per stats consumer — plan-verified 3 Generates → 2
    val rates = bg.filter(col("bucket").isNotNull)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("sc"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("tc"))
      .select(col("bucket"),
        expr("((tc + 1) * 1000000) div (sc + 1)").as("r_micros"))
    bg.join(broadcast(rates), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("bucket")).as("n_bigrams"),
        sum(col("r_micros")).as("tot"))
      .select(col("doc_id"), col("n_bigrams"),
        when(col("n_bigrams") === 0, lit(0L))
          .otherwise(expr("tot div n_bigrams")).as("weight_micros"))
  }
}
