package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable._

/** Text-analysis operators for training-data curation (SURVEY.md §7.5):
  * language id, quality scoring, token counting, fingerprinting. All
  * integer/string outputs from built-in expressions so the DuckDB oracles
  * compare exactly (no float drift).
  */
object TextAnalysis {

  /** Stopword marker lists per language (tiny, deterministic — the n-gram
    * heuristic: count hits of high-frequency function words).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " a ", " is "),
    "de" -> Seq(" der ", " und ", " die ", " das ", " ist "),
    "fr" -> Seq(" le ", " et ", " la ", " les ", " est "),
    "es" -> Seq(" el ", " y ", " la ", " los ", " es "),
    "zh" -> Seq(" de5 ", " shi4 ", " le5 ", " zai4 ", " he2 "))

  /** Per-language marker-hit counts + argmax prediction (deterministic
    * tie-break: list order). Output: (id, <lang>_hits..., predicted_lang).
    */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val padded = concat(lit(" "), lower(col(textCol)), lit(" "))
    val withScores = langMarkers.foldLeft(
        df.select(col(idCol), padded.as("_t"))) { case (d, (lang, markers)) =>
      d.withColumn(s"${lang}_hits", markers.map(m => occurrences(col("_t"), m)).reduce(_ + _))
    }
    // argmax with first-wins tie-break, as a fold over the language list
    val predicted = langMarkers.map(_._1).foldRight(lit("und"): Column) { (lang, acc) =>
      val isMax = langMarkers.map(_._1).filter(_ != lang)
        .map(o => col(s"${lang}_hits") >= col(s"${o}_hits"))
        .reduce(_ && _)
      when(col(s"${lang}_hits") > 0 && isMax, lit(lang)).otherwise(acc)
    }
    withScores.withColumn("predicted_lang", predicted).drop("_t")
  }

  /** Quality metrics, all exact integers:
    * chars, words, avg word length ×100 (integer div), digit count,
    * punctuation count, uppercase count, distinct-word count.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      length(t).as("chars"),
      size(tokens(t)).as("words"),
      expr(s"div(100 * length(replace($textCol, ' ', '')), " +
        s"greatest(size(split(lower($textCol), '\\\\s+')), 1))").as("avg_word_len_x100"),
      (length(t) - length(regexp_replace(t, "[0-9]", ""))).as("digits"),
      (length(t) - length(regexp_replace(t, "[.,!?;:]", ""))).as("punct"),
      (length(t) - length(regexp_replace(t, "[A-Z]", ""))).as("uppercase"),
      size(array_distinct(tokens(t))).as("distinct_words"))
  }

  /** Composite quality gate — the canonical training-data keep/drop
    * decision: length bounds, minimum word count, digit/punctuation ratio
    * caps. All thresholds integer-percent so the decision is exact in any
    * engine. Returns the metrics plus ratio columns and the `keep` flag;
    * callers filter on `keep` (kept separate so drop REASONS stay
    * inspectable — the thing a curation pipeline audits).
    */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
      minChars: Int = 50, maxChars: Int = 100000, minWords: Int = 5,
      maxDigitRatioPct: Int = 30, maxPunctRatioPct: Int = 20): DataFrame =
    qualityScore(df, idCol, textCol)
      .withColumn("digit_ratio_pct",
        expr("div(100 * digits, greatest(chars, 1))"))
      .withColumn("punct_ratio_pct",
        expr("div(100 * punct, greatest(chars, 1))"))
      .withColumn("keep",
        col("chars") >= minChars && col("chars") <= maxChars &&
          col("words") >= minWords &&
          col("digit_ratio_pct") <= maxDigitRatioPct &&
          col("punct_ratio_pct") <= maxPunctRatioPct)

  /** Default weights for `modelQualityScore` — sign and rough magnitude
    * follow what trained fasttext-style quality classifiers learn on web
    * corpora: reward lexical diversity and moderate word length, penalize
    * digit/punctuation/uppercase density. Fixed-point integers; a Seq (not
    * a Map) so feature/column order is deterministic.
    */
  val defaultQualityWeights: Seq[(String, Long)] = Seq(
    "avg_word_len_x100" -> 2L,
    "distinct_ratio_pct" -> 30L,
    "digit_ratio_pct" -> -40L,
    "punct_ratio_pct" -> -25L,
    "upper_ratio_pct" -> -10L,
    "words" -> 1L)

  /** Model-based quality scoring — the "classifier filtering" stage of a
    * real curation pipeline, as a fixed-point linear model over the
    * engineered `qualityScore` signals: score = bias + Σ wᵢ·fᵢ where every
    * feature is an exact integer (ratios are ×100 integer-divided) and
    * every weight an integer — so the score, and the keep decision at
    * `threshold`, are bit-identical in any engine (the same determinism
    * discipline that kept distinctiveTerms off `ln()`). Swapping in
    * weights exported from a real trained linear probe changes nothing
    * structurally. Map-only projection: no shuffle, chains into the scan.
    */
  def modelQualityScore(df: DataFrame, idCol: String, textCol: String,
      weights: Seq[(String, Long)] = defaultQualityWeights, bias: Long = 0L,
      threshold: Long = 0L): DataFrame = {
    val featured = qualityScore(df, idCol, textCol)
      .withColumn("distinct_ratio_pct",
        expr("div(100 * distinct_words, greatest(words, 1))"))
      .withColumn("digit_ratio_pct", expr("div(100 * digits, greatest(chars, 1))"))
      .withColumn("punct_ratio_pct", expr("div(100 * punct, greatest(chars, 1))"))
      .withColumn("upper_ratio_pct", expr("div(100 * uppercase, greatest(chars, 1))"))
    val unknown = weights.map(_._1).filterNot(featured.columns.contains)
    require(unknown.isEmpty, s"modelQualityScore: unknown features ${unknown.mkString(", ")}")
    featured
      .withColumn("score", weights.foldLeft(lit(bias).cast("long")) {
        case (acc, (f, w)) => acc + col(f).cast("long") * lit(w)
      })
      .withColumn("keep", col("score") >= threshold)
  }

  /** Token counts: whitespace tokens and a BPE-ish lexer regex
    * (letter runs | digit runs | single non-alnum), plus chars-per-token
    * ×100 — the usual tokens≈chars/4 estimator, exact integer math.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      size(tokens(t)).as("ws_tokens"),
      regexp_count(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("bpe_ish_tokens"),
      expr(s"div(100 * length($textCol), " +
        s"greatest(regexp_count($textCol, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]'), 1))")
        .as("chars_per_token_x100"))
  }

  /** Corpus bigram table — adjacent-token pair frequencies, the
    * tokenizer-training primitive (a BPE merge step picks the top pair and
    * fuses it; n-gram LMs and collocation mining consume the same table).
    * Returns the top `k` pairs as (tok_a, tok_b, pair_count), ties broken
    * lexicographically so the cut is deterministic.
    *
    * Scale: the pair explode is map-only and bounded by corpus token
    * count; frequencies are ONE (tok_a, tok_b)-keyed shuffle with
    * map-side partial counts; the top-k cut is TakeOrderedAndProject —
    * each task keeps k rows, never a full frequency sort.
    */
  def bigramTable(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val t = tokens(col(textCol))
    val n = size(t)
    val pairs = df.select(explode(
      zip_with(slice(t, lit(1), greatest(n - 1, lit(0))),
        slice(t, lit(2), greatest(n - 1, lit(0))),
        (a, b) => struct(a.as("tok_a"), b.as("tok_b")))).as("p"))
    pairs.select(col("p.tok_a"), col("p.tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("tok_a"), col("tok_b"))
      .limit(k)
  }

  /** Corpus-LM surprise scoring — the "perplexity filter" stage of a
    * curation pipeline, kept oracle-exact: train bigram statistics on the
    * corpus itself, then score each document by how SURPRISING its token
    * transitions are under that model. Per bigram (a,b) the surprise
    * proxy is the inverse conditional probability
    * `div(10⁶ · count(a,·), count(a,b))` (= 10⁶/P(b|a), monotone in
    * −log P exactly as rank order needs, with no floating log); a doc's
    * score is the mean over its bigrams (`surprise_x1e6` — higher =
    * less predictable text; boilerplate scores ≈ 10⁶·1, gibberish high).
    * Output: (doc, n_bigrams, surprise_x1e6), docs with ≥ 2 tokens.
    *
    * Scale: pair explode is map-only; the bigram-count table is one
    * (a,b)-keyed shuffle with map-side partials; prefix counts regroup
    * that (vocab²-bounded) table, never the corpus; scoring joins the
    * corpus pair stream against the scored bigram table on (a,b) — an
    * equi-shuffle on bigram keys, the same partitioning the count table
    * already has, so the exchange is reused.
    */
  def lmSurprise(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    val n = size(t)
    val docPairs = df.select(col(idCol).as("doc"), explode(
        zip_with(slice(t, lit(1), greatest(n - 1, lit(0))),
          slice(t, lit(2), greatest(n - 1, lit(0))),
          (a, b) => struct(a.as("tok_a"), b.as("tok_b")))).as("p"))
      .select(col("doc"), col("p.tok_a"), col("p.tok_b"))
    val pairCounts = docPairs.groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("pc"))
    val prefixCounts = pairCounts.groupBy("tok_a").agg(sum(col("pc")).as("ac"))
    val scored = pairCounts.join(prefixCounts, Seq("tok_a"))
      .select(col("tok_a"), col("tok_b"), expr("div(1000000 * ac, pc)").as("sup"))
    docPairs.join(scored, Seq("tok_a", "tok_b"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("sup")).as("__ssum"))
      .select(col("doc"), col("n_bigrams"),
        expr("div(__ssum, n_bigrams)").as("surprise_x1e6"))
  }

  /** Collocation mining — bigrams ranked by fixed-point LIFT, the
    * PMI-without-log association measure: how much more often (a,b)
    * occurs than independence predicts,
    *   lift_x1e6 = div(10⁶ · pc · T₂, ca · cb)
    * with pc the bigram count, T₂ the total bigram count, ca/cb the
    * counts of a as a bigram PREFIX and b as a bigram SUFFIX. Monotone in
    * PMI (log is monotone), so ranking order matches, with no floating
    * log — the same trick as BM25's rational idf. `minCount` prunes the
    * hapax noise PMI is notorious for. Both the 10⁶·pc·T₂ numerator and
    * the ca·cb denominator are evaluated in decimal(38,0): each factor is
    * bounded by T₂, so int64 would overflow the highest-frequency pairs
    * first (ca·cb breaks once both marginals pass ~3·10⁹ — exactly the
    * "of the"-class bigrams the ranking exists to compare), while the
    * decimal products stay exact to T₂ ≈ 10¹⁶ bigrams (~400× a 100 TB
    * text corpus).
    * Output: top `k` by (lift desc, a, b) — (tok_a, tok_b, pair_count,
    * lift_x1e6).
    *
    * Scale: one (a,b)-keyed count shuffle with map-side partials;
    * prefix/suffix tables regroup the vocab²-bounded pair table, never
    * the corpus; the top-k cut is TakeOrderedAndProject.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5L,
      k: Int = 100): DataFrame = {
    require(minCount >= 1, "collocations: minCount must be >= 1")
    require(k >= 1, "collocations: k must be >= 1")
    val t = tokens(col(textCol))
    val n = size(t)
    val pairs = df.select(explode(
      zip_with(slice(t, lit(1), greatest(n - 1, lit(0))),
        slice(t, lit(2), greatest(n - 1, lit(0))),
        (a, b) => struct(a.as("tok_a"), b.as("tok_b")))).as("p"))
      .select(col("p.tok_a"), col("p.tok_b"))
    val pc = pairs.groupBy("tok_a", "tok_b").agg(count(lit(1)).as("pc"))
    val ca = pc.groupBy("tok_a").agg(sum(col("pc")).as("ca"))
    val cb = pc.groupBy("tok_b").agg(sum(col("pc")).as("cb"))
    val t2 = pc.agg(sum(col("pc")).as("t2"))
    pc.filter(col("pc") >= minCount)
      .join(ca, Seq("tok_a")).join(cb, Seq("tok_b"))
      .crossJoin(broadcast(t2))
      .select(col("tok_a"), col("tok_b"), col("pc").as("pair_count"),
        expr("div(cast(1000000 as decimal(38,0)) * pc * t2, " +
          "cast(ca as decimal(38,0)) * cb)").as("lift_x1e6"))
      .orderBy(col("lift_x1e6").desc, col("tok_a"), col("tok_b"))
      .limit(k)
  }

  /** Positional skip-gram table — forward co-occurrence counts tagged
    * with their token distance (1..window): the word2vec-style training-
    * pair generator and the positional-collocation statistic in one
    * table. `bigramTable` is the distance-1 slice. Top-k cut is
    * deterministic (count desc, then pair, then distance).
    *
    * Scale: same discipline as the bigram table — the pair generation is
    * a map-only flatten of `window` zipped slices (output rows ≤ window ×
    * corpus tokens), one keyed shuffle with partial counts, TakeOrdered.
    */
  def skipGramTable(df: DataFrame, textCol: String, window: Int, k: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val t = tokens(col(textCol))
    val n = size(t)
    val pairs = df.select(explode(flatten(
      transform(sequence(lit(1), lit(window)), o =>
        zip_with(slice(t, lit(1), greatest(n - o, lit(0))),
          slice(t, o + 1, greatest(n - o, lit(0))),
          (a, b) => struct(a.as("tok_a"), b.as("tok_b"), o.as("distance")))))).as("p"))
    pairs.select(col("p.tok_a"), col("p.tok_b"), col("p.distance"))
      .groupBy("tok_a", "tok_b", "distance").agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("tok_a"), col("tok_b"), col("distance"))
      .limit(k)
  }

  /** Within-doc line dedup — remove REPEATED lines inside each document,
    * keeping the first occurrence in order (the terminal-style scrub for
    * per-doc boilerplate: repeated headers, nav bars, signature blocks —
    * the within-doc complement of corpus-level `Dedup.paragraphDedup`).
    * Returns (id, line_count, dup_lines, deduped_text).
    *
    * Scale: map-only — one projection of array HOFs (split, filter by
    * first-occurrence index, concat), no shuffle at all; per-row cost is
    * O(lines²) string compares bounded by document length, inside
    * whole-stage codegen.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    require(!Set("line_count", "dup_lines", "deduped_text").contains(idCol),
      s"dedupLines: id column '$idCol' collides with a reserved output column")
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, (x, i) => array_position(lines, x) === (i + 1))
    df.select(col(idCol),
      size(lines).cast("long").as("line_count"),
      (size(lines) - size(kept)).cast("long").as("dup_lines"),
      array_join(kept, "\n").as("deduped_text"))
  }

  /** Vocabulary coverage — build the top-`vocabSize` token vocabulary by
    * corpus frequency (ties → lexicographically smaller token, so the
    * vocab is deterministic) and score every document's out-of-vocabulary
    * rate against it. The tokenizer-fit signal real pipelines gate on:
    * a high OOV rate means the tokenizer will shred the document into
    * bytes. Returns (id, total_tokens, oov_tokens, oov_x1m) with the rate
    * in exact fixed point (floor(oov·1e6 / total)).
    *
    * Scale: token frequencies are ONE token-keyed shuffle with map-side
    * partial counts; the top-V cut is TakeOrderedAndProject (each task
    * keeps V rows — never a full sort); the vocab (V rows) broadcasts to
    * the per-token membership probe; the per-doc fold is one id-keyed
    * aggregate. Nothing is ever corpus × vocab.
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val reserved = Set("tok", "vtok", "total_tokens", "oov_tokens", "oov_x1m")
    require(!reserved.contains(idCol),
      s"vocabCoverage: id column '$idCol' collides with a reserved output/internal column")
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(vocabSize)
      .select(col("tok").as("vtok"))
    toks.join(broadcast(vocab), col("tok") === col("vtok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("total_tokens"),
        sum(when(col("vtok").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_x1m", expr("div(oov_tokens * 1000000, total_tokens)"))
  }

  /** Document fingerprints:
    *  - `fingerprint`: md5 of the normalized text (lower, collapsed spaces);
    *  - `rolling_hash`: word-level polynomial rolling hash
    *    acc := (acc*31 + hash56(word) mod P) mod P — a sequential fold,
    *    reproduced exactly by the oracle's list_reduce.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    df.select(
      col(idCol),
      md5(norm).as("fingerprint"),
      aggregate(
        transform(tokens(col(textCol)), w => hash56(w) % lit(P)),
        lit(0L),
        (acc, h) => (acc * 31 + h) % lit(P)).as("rolling_hash"))
  }

  /** Deterministic hash sampling: keep a row iff
    * hash56(id) mod `outOf` < `keep` — the seedless, engine-portable way to
    * subsample a corpus. Unlike rand()-based sampling it is stable across
    * reruns, executors, partitionings, and engines (the md5-derived hash
    * has an exact DuckDB twin), so a 1% dev slice of a 100 TB corpus is
    * THE SAME 1% every time — reproducible experiments, joinable slices.
    * Pure filter: pushes to the scan, no shuffle.
    */
  def deterministicSample(df: DataFrame, idCol: String,
      keep: Int, outOf: Int = 100): DataFrame = {
    require(keep >= 0 && keep <= outOf, s"keep must be in [0, $outOf]")
    df.filter(hash56(col(idCol).cast("string")) % outOf < keep)
  }

  /** Text cleaning for training-data curation: strip markup-like tags,
    * collapse whitespace runs, trim — the normalization pass that runs
    * before dedup/quality so near-identical scraped pages hash together.
    * Pure codegen'd regexp/string expressions, one projection, no shuffle.
    */
  def clean(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cleaned = trim(regexp_replace(
      regexp_replace(col(textCol), "<[^>]*>", " "), "\\s+", " "))
    df.select(col(idCol), cleaned.as("cleaned"), length(cleaned).as("cleaned_len"))
  }

  /** Sliding-window document chunking — the context-length prep step of an
    * LLM training pipeline: each doc becomes ceil-many overlapping chunks
    * of `window` tokens advancing by `stride` (< window ⇒ overlap of
    * window − stride tokens). Chunk identity is (doc id, chunk_idx) —
    * deterministic, so chunk tables from different runs join.
    *
    * Plan shape: tokenize once, generate chunk indices per row
    * (`sequence` + `transform`, bounded by doc length), explode — pure
    * per-row expansion, NO shuffle; output rows ≈ docs × n/stride. At
    * 100 TB this is a map-only stage that chains straight into the dedup/
    * quality operators downstream.
    *
    * Chunk count: 1 if n ≤ window, else 1 + ⌈(n−window)/stride⌉ — the
    * final chunk may be shorter than `window` but is never empty, and no
    * chunk starts past the text.
    */
  /** Iterative BPE merge training — the first `steps` merges of a
    * byte-pair-encoding vocabulary learned from the corpus, each step
    * emitting (step, left_sym, right_sym, pair_count). x71's bigram table
    * is ONE merge step's candidate list; this is the loop that actually
    * trains a tokenizer vocabulary.
    *
    * Scale design — the three decisions that make this viable at 100 TB:
    *  1. Everything after the first aggregate operates on the DISTINCT
    *     word vocabulary: the corpus contributes only `(word, freq)`
    *     through one groupBy pass, and every merge iteration touches
    *     vocabulary-sized data (Σ word lengths over distinct words) no
    *     matter how large the corpus is.
    *  2. The chosen merge stays IN-PLAN: the 1-row best-pair table is
    *     broadcast-joined into the next iteration's expressions — no
    *     driver collect per step (the Pregel discipline, like
    *     Graph.pageRank).
    *  3. Greedy left-to-right merge application is RELATIONAL, not a
    *     per-row fold: matched adjacent positions are grouped into
    *     consecutive runs (pos − row_number), and every odd-ranked match
    *     in a run is accepted — exactly BPE's non-overlapping greedy
    *     scan, because a run of chained matches can only exist when
    *     left = right (e.g. 'aaaa' under (a,a) → accept offsets 1 and 3),
    *     while for left ≠ right every match is its own run. Windows
    *     partition by word — executor-local sorts, no global sort.
    *
    * Symbol state is `localCheckpoint`ed per iteration by default
    * (lineage O(1) across steps, same as the PageRank supersteps);
    * `checkpoint = false` keeps the whole loop declarative — identical
    * result, used by the plan tests to pin the per-word window /
    * no-corpus-join shape that materialization otherwise hides. Tokens
    * are restricted to `[a-z]+` so character positions agree across
    * engines (multi-byte grapheme counting is where SQL dialects drift).
    * Deterministic tie-break: pair_count DESC, then (left, right) ASC.
    */
  def bpeMergeSteps(df: DataFrame, textCol: String, steps: Int,
      checkpoint: Boolean = true): DataFrame =
    bpeLoop(df, textCol, steps, checkpoint, applyLast = false)._1
      .reduce(_ unionByName _).orderBy("step")

  /** Apply the corpus-learned BPE vocabulary back to the corpus — the
    * ENCODE half of the trainer pair: run `steps` merges (identical loop
    * to [[bpeMergeSteps]], with the final merge also APPLIED), then count
    * symbols per word and roll up per document. Output: (id, words,
    * bpe_tokens, avg_symbols_x100) — `words` counts the `[a-z]+` tokens
    * the vocabulary covers, `bpe_tokens` their total encoded length, and
    * the ratio ×100 is the fertility metric (x100's chars-per-token,
    * here symbols-per-word) that measures how much the learned merges
    * compressed the corpus. Docs with no `[a-z]+` tokens report
    * (0, 0, 0).
    *
    * Scale: the encode join attaches the vocab-sized per-word length
    * table to the corpus token stream — one equi-join on the word plus
    * one per-doc aggregate; the training loop itself never touches
    * corpus-sized data (see [[bpeMergeSteps]]).
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String, steps: Int,
      checkpoint: Boolean = true): DataFrame = {
    val syms = bpeLoop(df, textCol, steps, checkpoint, applyLast = true)._2
    val wlen = syms.groupBy("w").agg(count(lit(1)).as("sym_count"))
    bpeEncodeReport(df, idCol, textCol, wlen)
  }

  /** The per-doc encode report over a per-word encoded-length table —
    * shared by the train-and-encode path (`bpeEncode`) and the
    * stored-vocabulary consumer (`bpeEncodeFromVocab`). */
  private def bpeEncodeReport(df: DataFrame, idCol: String,
      textCol: String, wlen: DataFrame): DataFrame = {
    val docToks = df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
    val agg = docToks.join(wlen, Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("words"), sum("sym_count").as("bpe_tokens"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .na.fill(0L, Seq("words", "bpe_tokens"))
      .withColumn("avg_symbols_x100",
        expr("div(100 * bpe_tokens, greatest(words, 1))"))
  }

  /** Persist the trained BPE vocabulary — the TOKENIZER member of the
    * write-once artifact family (labels/LSH index, IVF vector index,
    * and now the merge table): train once per corpus generation, store
    * the ordered merge list (+ the step-count meta, `ArtifactStore`
    * discipline), and every later batch encodes from the STORE without
    * retraining. The merge table is steps rows — the artifact is tiny;
    * what it saves is the training loop's corpus pass per consumer.
    */
  def buildBpeVocab(df: DataFrame, textCol: String, steps: Int,
      path: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    // the root writer shared with every artifact build: a rebuild
    // replaces the previous generation whole, or leaves it live
    ArtifactStore.writeRoot(spark, path) { staging =>
      bpeLoop(df, textCol, steps, checkpoint = true, applyLast = false)._1
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$staging/merges")
      Seq(Tuple1(steps)).toDF("steps")
    }
  }

  /** Encode ANY batch with a STORED merge sequence (`buildBpeVocab`) —
    * the artifact consumer: each stored merge is applied in training
    * order to the batch's word set (the same relational greedy
    * application as the trainer, each merge a broadcast 1-row join — no
    * driver collect), so words the trainer never saw still encode
    * correctly through whatever merges apply to their character
    * sequences. Identical output contract to `bpeEncode`; on the
    * training corpus itself the two are value-identical (spec-pinned).
    */
  def bpeEncodeFromVocab(df: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame = {
    val spark = df.sparkSession
    val steps = ArtifactStore.layoutMeta(spark, path,
      "TextAnalysis.buildBpeVocab", "steps").getAs[Int]("steps")
    import org.apache.spark.sql.expressions.Window
    val wWin = Window.partitionBy("w").orderBy("pos")
    val merges = spark.read.parquet(s"$path/merges")
    // batch word set → character symbol state (freq carried as 1: the
    // merge APPLICATION is frequency-agnostic; freq only matters when
    // training picks the merges, which already happened)
    var syms = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z]+$")).distinct()
      .select(col("w"), lit(1L).as("freq"),
        posexplode(expr(
          "transform(sequence(1, length(w)), i -> substring(w, i, 1))")))
      .select(col("w"), col("freq"), (col("pos") + 1).as("pos"),
        col("col").as("sym"))
      .transform(ArtifactStore.eagerCheckpoint(_, "bpe_encode_syms"))
    (1 to steps).foreach { t =>
      val b = broadcast(merges.filter(col("step") === t)
        .select(col("left_sym").as("__a"), col("right_sym").as("__b")))
      syms = ArtifactStore.eagerCheckpoint(applyBpeMerge(syms, b, wWin), "bpe_encode_step")
    }
    bpeEncodeReport(df, idCol, textCol,
      syms.groupBy("w").agg(count(lit(1)).as("sym_count")))
  }

  /** The shared BPE training loop: returns (per-step best-pair frames,
    * final symbol state). `applyLast` controls whether the last chosen
    * merge is also applied to the symbol state (the encode path needs
    * the post-merge vocabulary; the merge-table path can skip the final
    * application).
    */
  private def bpeLoop(df: DataFrame, textCol: String, steps: Int,
      checkpoint: Boolean, applyLast: Boolean): (Seq[DataFrame], DataFrame) = {
    require(steps >= 1 && steps <= 8,
      s"bpeMergeSteps: steps must be in [1, 8], got $steps")
    import org.apache.spark.sql.expressions.Window
    def cp(d: DataFrame) = if (checkpoint) ArtifactStore.eagerCheckpoint(d, "bpe_train") else d
    val wf = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    var syms = cp(wf.select(col("w"), col("freq"),
        posexplode(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")))
      .select(col("w"), col("freq"), (col("pos") + 1).as("pos"),
        col("col").as("sym")))
    val wWin = Window.partitionBy("w").orderBy("pos")
    val out = (1 to steps).map { t =>
      val withNext = syms.withColumn("nxt", lead("sym", 1).over(wWin))
      val best = cp(withNext.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("left_sym"), col("nxt").as("right_sym"))
        .agg(sum("freq").as("pair_count"))
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(1))
      if (t < steps || applyLast) {
        val b = broadcast(best.select(col("left_sym").as("__a"),
          col("right_sym").as("__b")))
        syms = cp(applyBpeMerge(syms, b, wWin))
      }
      best.select(lit(t).as("step"), col("left_sym"), col("right_sym"),
        col("pair_count"))
    }
    (out, syms)
  }

  /** One greedy merge application over a (w, freq, pos, sym) symbol
    * state: matched adjacent positions group into consecutive runs
    * (pos − row_number) and every odd-ranked match in a run is accepted
    * — BPE's non-overlapping left-to-right scan, relationally. `b` is
    * the 1-row (__a, __b) merge-pair frame, broadcast in-plan (both the
    * trainer's per-step winner and a STORED merge row arrive this way —
    * no driver collect on either path).
    */
  private def applyBpeMerge(syms: DataFrame, b: DataFrame,
      wWin: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withNext = syms.withColumn("nxt", lead("sym", 1).over(wWin))
    val accepted = withNext.crossJoin(b)
      .filter(col("sym") === col("__a") && col("nxt") === col("__b"))
      .withColumn("rn", row_number().over(wWin))
      .withColumn("rg", row_number().over(
        Window.partitionBy(col("w"), col("pos") - col("rn")).orderBy("pos")))
      .filter(col("rg") % 2 === 1)
      .select(col("w"), col("pos"))
    syms.crossJoin(b)
      .join(accepted.withColumn("__acc", lit(true)), Seq("w", "pos"), "left")
      .join(accepted.select(col("w"), (col("pos") + 1).as("pos"))
        .withColumn("__cons", lit(true)), Seq("w", "pos"), "left")
      .filter(col("__cons").isNull)
      .select(col("w"), col("freq"),
        row_number().over(wWin).as("pos"),
        when(col("__acc"), concat(col("__a"), col("__b")))
          .otherwise(col("sym")).as("sym"))
  }

  def chunk(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"chunk: need 0 < stride <= window, got window=$window stride=$stride")
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__nc",
        when(col("__n") <= window, lit(1))
          .otherwise(lit(1) + ceil((col("__n") - window).cast("double") / stride).cast("int")))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), col("__nc") - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__toks"), col("chunk_idx") * stride + 1, lit(window)), " ")
          .as("chunk_text"),
        size(slice(col("__toks"), col("chunk_idx") * stride + 1, lit(window)))
          .cast("long").as("chunk_tokens"))
  }

  /** Rank-frequency token spectrum — the tokenizer-health report a
    * corpus team reads next to fertility (x100) and vocab coverage
    * (x65): the top-`k` tokens with their counts and the CUMULATIVE
    * share of all token occurrences they cover ("the top 100 tokens are
    * 38% of the stream" — how head-heavy the corpus is, and the direct
    * input to stopword lists and vocab-size decisions).
    *
    * Scale: one keyed count with map-side partials, a TakeOrdered
    * top-`k` cut (count desc, token asc — deterministic), a cumulative
    * window over the k-row result (k rows, single partition — bounded
    * by construction, never the vocabulary), and a one-row total
    * broadcast back. Never sorts the full token-frequency table; the
    * full-vocabulary shuffle carries (token, partial-count) rows only.
    *
    * Output: (rank, token, cnt, cum_pct_x10000), rank 1..k.
    */
  def tokenSpectrum(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, "tokenSpectrum: k must be positive")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    // limit-after-sort compiles to TakeOrderedAndProject — the top-k cut
    // never materializes a global sort of the vocabulary; the windows
    // below run over the k-row result only.
    val top = counts.orderBy(col("cnt").desc, col("token")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("token"))).cast("long"))
    val cum = Window.orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .withColumn("cum", sum(col("cnt")).over(cum))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("cnt"),
        expr("div(10000 * cum, total)").as("cum_pct_x10000"))
  }

  /** DSIR-style importance scoring: rank source documents by how much
    * their hashed-unigram profile resembles a TARGET slice (the
    * data-selection move behind "select pretraining data that looks like
    * the high-quality seed set"). Token occurrences hash into `buckets`
    * feature buckets ([[Portable.hash56]] — engine-portable); each
    * bucket's importance ratio is the smoothed target/corpus count ratio
    * in ×10⁶ fixed point (`div(10⁶·(target_cnt+1), corpus_cnt+1)` —
    * add-one smoothing keeps never-in-target buckets finite); a
    * document's score is the SUM of its token occurrences' bucket
    * ratios divided by its token count (mean ratio, ×10⁶). The ratio-SUM
    * is the exact-integer surrogate for DSIR's log-ratio sum (per-token
    * monotone transform; no ln(), whose libm rounding drifts across
    * engines — the x49 rule).
    *
    * Scale: two passes over the exploded token stream, both
    * map-side-combinable groupBys (bucket counts are bounded by
    * `buckets`, per-doc sums by the corpus), one broadcast join of the
    * `buckets`-row ratio table. Nothing is all-pairs; nothing collects.
    * `isTarget` marks the in-plan target slice (a column, so the target
    * can be a predicate, a join flag, or a sampled slice).
    * Output: (doc column, n_tokens, score_x1m) — select data by
    * `score_x1m` descending.
    */
  def importanceScores(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, "importanceScores: buckets must be >= 2")
    val toks = df.select(col(idCol).as("doc"), isTarget.as("__t"),
        explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .withColumn("b", hash56(col("token")) % buckets)
    val ratios = toks.groupBy("b")
      .agg(count(lit(1)).as("corpus_cnt"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("target_cnt"))
      .select(col("b"),
        expr("div(1000000 * (target_cnt + 1), corpus_cnt + 1)")
          .as("ratio_x1m"))
    toks.join(broadcast(ratios), Seq("b"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"), sum(col("ratio_x1m")).as("__s"))
      .select(col("doc"), col("n_tokens"),
        expr("div(__s, n_tokens)").as("score_x1m"))
  }
}
