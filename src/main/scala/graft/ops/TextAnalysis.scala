package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-only text analysis over `documents(doc_id, text, lang, ...)` —
  * language ID, quality scoring, token counting, fingerprinting. Everything
  * here is pure Catalyst Column arithmetic (no UDFs): whole-stage codegen'd
  * end to end, and independently re-computable by any ANSI SQL engine, which
  * is exactly how the oracle verifies it.
  */
object TextAnalysis {

  /** Occurrences of `marker` in ' '||text||' ' via length difference —
    * deterministic integer arithmetic, no regex dialect concerns.
    */
  def markerCount(text: Column, marker: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    (length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(marker), ""))) /
      lit(marker.length)
  }

  /** Language markers: high-frequency function words per language (the
    * n-gram-heuristic language-ID slot; marker profile, not a model).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "de" -> Seq(" der ", " die ", " und ", " das "),
    "fr" -> Seq(" le ", " la ", " et ", " les "),
    "es" -> Seq(" el ", " los ", " las ", " y "),
    "la" -> Seq(" et ", " in ", " est ", " non ")
  )

  /** Per-doc predicted language: argmax of marker counts, ties broken by the
    * fixed language order above; all-zero -> "und".
    */
  def langId(docs: DataFrame): DataFrame = {
    val withScores = LangMarkers.foldLeft(docs.select(col("doc_id"), col("lang"), col("text"))) {
      case (df, (lang, markers)) =>
        df.withColumn(
          s"score_$lang",
          markers.map(m => markerCount(col("text"), m)).reduce(_ + _))
    }
    val maxScore = greatest(LangMarkers.map { case (l, _) => col(s"score_$l") }: _*)
    val predicted = LangMarkers
      .foldRight(lit("und"): Column) { case ((lang, _), elseCol) =>
        when(col(s"score_$lang") === maxScore && maxScore > 0, lit(lang)).otherwise(elseCol)
      }
    // NB: foldRight + when-chain means the FIRST language in LangMarkers
    // order wins ties, deterministically.
    withScores
      .withColumn("predicted_lang", predicted)
      .select(
        col("doc_id") +: col("lang") +: col("predicted_lang") +:
          LangMarkers.map { case (l, _) => col(s"score_$l").cast("long").as(s"score_$l") }: _*)
  }

  /** Whitespace token count (documents are single-space tokenized). */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish subword token count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token (the GPT-2-style
    * pre-tokenizer shape, minus merges). RE2-safe character classes so an
    * ANSI engine computes the identical count.
    */
  val BpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Per-doc token counts under both tokenizers. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      tokenCount(col("text")).cast("long").as("ws_tokens"),
      bpeishTokenCount(col("text")).cast("long").as("bpeish_tokens"),
      length(col("text")).cast("long").as("n_chars"))

  private final case class QualitySignals(
      nTokens: Column,
      avgWordLen: Column,
      lengthSignal: Column,
      stopSignal: Column,
      digitSignal: Column)

  /** The quality composite's row-local signals over text column `t`.
    * Ratios divide with SQL's null-on-zero semantics (`try_divide`), not
    * ANSI's DIVIDE_BY_ZERO: an empty document has length 0, its digit
    * ratio is NULL, and `least` skips NULL, so its digit signal reads 0.0
    * exactly as in the SQL definition.
    */
  private def qualitySignals(t: Column): QualitySignals = {
    val nTokens = tokenCount(t).cast("double")
    val stopwords = Seq(" the ", " a ", " of ", " and ", " in ")
      .map(m => markerCount(t, m)).reduce(_ + _).cast("double")
    val digits =
      (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("double")
    QualitySignals(
      nTokens = nTokens,
      avgWordLen = try_divide(length(t) - (nTokens - 1), nTokens),
      lengthSignal = least(lit(1.0), nTokens / lit(100.0)),
      stopSignal = least(lit(1.0), try_divide(stopwords, nTokens) * lit(8.0)),
      digitSignal =
        lit(1.0) - least(lit(1.0), try_divide(digits, length(t).cast("double")) * lit(4.0)))
  }

  /** The [[qualityScore]] composite as a bare Column — the single
    * definition of the score so per-doc reporting and source-level
    * aggregation cannot fork. Rounded to 4 decimals (bit-identical across
    * Spark and an ANSI engine for the oracle hash compare).
    */
  def qualityScoreCol(t: Column): Column = {
    val s = qualitySignals(t)
    val wordLenSignal =
      when(s.avgWordLen >= 3.0 && s.avgWordLen <= 8.0, lit(1.0)).otherwise(lit(0.5))
    round(
      lit(0.3) * s.lengthSignal + lit(0.3) * s.stopSignal +
        lit(0.2) * s.digitSignal + lit(0.2) * wordLenSignal, 4)
  }

  /** Per-doc quality proxy signals + composite, all integer-ratio
    * arithmetic: token count, average word length, stopword rate, digit
    * rate. The composite mirrors the extraction engine's weighted-mean
    * shape (quality.py:327-342) with SQL-expressible signals.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val s = qualitySignals(col("text"))
    val score = qualityScoreCol(col("text"))
    docs.select(
      col("doc_id"),
      s.nTokens.cast("long").as("n_tokens"),
      round(s.avgWordLen, 4).as("avg_word_len"),
      round(s.stopSignal, 4).as("stop_signal"),
      round(s.digitSignal, 4).as("digit_signal"),
      score.as("quality_score"),
      (score < 0.5).as("flagged"))
  }

  /** Token totals per language (the corpus rollup a data pipeline reports). */
  def tokenStats(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).as("total_tokens"),
        sum(length(col("text"))).as("total_chars"),
        round(avg(tokenCount(col("text"))), 4).as("avg_tokens"))

  /** Per-document repetition statistics — the Gopher/RefinedWeb-style
    * repetition signals (Rae et al. 2021 §A1.1; repetitious documents are
    * low-quality training data):
    *
    *   - `n_lines`          non-empty lines,
    *   - `dup_line_frac`    fraction of non-empty lines whose content occurs
    *                        more than once IN THIS DOC (every occurrence of
    *                        a repeated line counts),
    *   - `dup_line_char_frac` same, weighted by line characters,
    *   - `top_bigram_frac`  occurrences of the doc's most frequent token
    *                        bigram x 2 / token count (token-based variant of
    *                        Gopher's most-common-n-gram character fraction).
    *
    * Fully distributed: explode -> two-level partial-aggregated groupBy per
    * (doc, line) / (doc, bigram), rolled up per doc — the within-doc analogue
    * of [[Dedup.passageDupStats]]'s cross-doc form, and like it never
    * materializes per-doc lists.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val lines = docs
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .filter(col("line") =!= "")
    val perLine = lines.groupBy(col("doc_id"), col("line"))
      .agg(count(lit(1)).as("cnt"), length(col("line")).as("len"))
    val lineStats = perLine.groupBy(col("doc_id")).agg(
      sum(col("cnt")).as("n_lines"),
      sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_lines"),
      sum(col("cnt") * col("len")).as("line_chars"),
      sum(when(col("cnt") > 1, col("cnt") * col("len")).otherwise(0L)).as("dup_line_chars"))

    // non-empty tokens only (consecutive separators yield no empties), and
    // the explode range is guarded by n_tokens >= 2 — Spark's sequence(1, 0)
    // would count DOWN, not come back empty
    val toks = docs.select(
      col("doc_id"),
      regexp_extract_all(col("text"), lit(WsTokenPattern), lit(0)).as("t"))
    val bigrams = toks
      .select(col("doc_id"), size(col("t")).as("n_tokens"), col("t"))
      .filter(col("n_tokens") >= 2)
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(1), col("n_tokens") - 1)).as("i"), col("t"))
      .select(col("doc_id"), col("n_tokens"),
        array_join(slice(col("t"), col("i"), lit(2)), " ").as("bg"))
    val perBigram = bigrams.groupBy(col("doc_id"), col("n_tokens"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
    val bigramStats = perBigram.groupBy(col("doc_id"), col("n_tokens")).agg(
      max(col("cnt")).as("top_bigram_cnt"))

    // anchored on the full docs table: a doc with NO non-empty line (empty /
    // whitespace-only text) must still emit a row (n_lines 0, fractions 0.0)
    // — dropping it from the output would silently lose the doc from any
    // pipeline that joins the stats back to gate on them
    docs.select(col("doc_id"))
      .join(lineStats, Seq("doc_id"), "left")
      .join(bigramStats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        round(coalesce(col("dup_lines").cast("double") / col("n_lines"), lit(0.0)), 4)
          .as("dup_line_frac"),
        round(
          coalesce(col("dup_line_chars").cast("double") / col("line_chars"), lit(0.0)), 4)
          .as("dup_line_char_frac"),
        round(
          coalesce(col("top_bigram_cnt") * 2.0 / col("n_tokens"), lit(0.0)), 4)
          .as("top_bigram_frac"))
  }

  /** Gopher document-filter rules (Rae et al. 2021, Table A1) re-expressed
    * as pure Column arithmetic — the standard pre-training quality gate a
    * web pipeline applies after extraction. Per doc: the individual rule
    * booleans plus the conjunction `keep`. Token = non-empty run of
    * non-space/non-newline chars (matches the corpus tokenization);
    * thresholds are the published ones.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val cols = gopherColumns(col("text"))
    docs.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
  }

  /** Just the gopher `keep` conjunction over a text column — the fused
    * single-pass pipeline ([[Pipeline.prepare]]) composes this into one
    * projection with the dedup key and split so the corpus is scanned
    * once. Derives from the same builder as [[gopherRules]], so the two
    * entry points cannot drift.
    */
  def gopherKeep(textCol: Column): Column =
    gopherColumns(textCol)
      .collectFirst { case ("keep", c) => c }
      .getOrElse(throw new IllegalStateException("gopherColumns lost its keep column"))

  /** All gopher output columns (name -> column, `keep` last) from a text
    * column. null text reads as empty: every count is 0, r_word_count is
    * false, so keep is false (never null — three-valued logic would
    * otherwise leak nulls through the conjunction and a filter(keep) would
    * drop the row silently rather than explicitly rejecting it).
    */
  private def gopherColumns(textCol: Column): Seq[(String, Column)] = {
    val t = coalesce(textCol, lit(""))
    val flat = regexp_replace(t, "\n", " ")
    val words = regexp_extract_all(t, lit("[^ \n]+"), lit(0))
    val wordCount = size(words)
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val charCount = length(regexp_replace(t, "[ \n]", ""))
    val lines = filter(split(t, "\n"), l => l =!= "")
    val nLines = size(lines)
    val bulletLines = size(filter(lines, l => l.startsWith("- ") || l.startsWith("• ")))
    val ellipsisLines = size(filter(lines, l => l.endsWith("...") || l.endsWith("…")))
    // markerCount's space padding cannot create occurrences of these
    // markers, so it counts them exactly (and keeps one counting idiom)
    val hashCount = markerCount(flat, "#")
    val ellipsisCount = markerCount(flat, "...") + markerCount(flat, "…")
    // ANSI-safe ratios: an empty/null doc has wordCount/nLines 0, and under
    // Spark's default ANSI mode a zero divisor THROWS rather than nulling —
    // ratios read 0.0 there and the word-count rule rejects the doc
    def perWord(c: Column) =
      when(wordCount > 0, c.cast("double") / wordCount).otherwise(lit(0.0))
    val symbolRatio = perWord(hashCount + ellipsisCount)
    val meanWordLen = perWord(charCount)
    def perLine(c: Column) =
      when(nLines > 0, c.cast("double") / nLines).otherwise(lit(0.0))
    val stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val padded = concat(lit(" "), lower(flat), lit(" "))
    val stopHits = stopwords
      .map(w => when(padded.contains(s" $w "), 1).otherwise(0))
      .reduce(_ + _)

    val rWordCount = wordCount.between(50, 100000)
    val rMeanLen = meanWordLen.between(3.0, 10.0)
    val rSymbol = symbolRatio < 0.1
    val rBullet = perLine(bulletLines) <= 0.9
    val rEllipsis = perLine(ellipsisLines) <= 0.3
    val rAlpha = perWord(alphaWords) >= 0.8
    val rStop = stopHits >= 2

    Seq(
      "word_count" -> wordCount.cast("long"),
      "mean_word_len" -> round(meanWordLen, 4),
      "symbol_ratio" -> round(symbolRatio, 4),
      "alpha_word_frac" -> round(perWord(alphaWords), 4),
      "stop_hits" -> stopHits.cast("int"),
      "r_word_count" -> rWordCount,
      "r_mean_word_len" -> rMeanLen,
      "r_symbol_ratio" -> rSymbol,
      "r_bullet_lines" -> rBullet,
      "r_ellipsis_lines" -> rEllipsis,
      "r_alpha_words" -> rAlpha,
      "r_stopwords" -> rStop,
      "keep" ->
        (rWordCount && rMeanLen && rSymbol && rBullet && rEllipsis && rAlpha && rStop)
    )
  }

  /** Corpus top-k token frequency, fully distributed — the formulation to
    * reach for on raw web text, where the distinct-token count (numbers,
    * urls, typos) grows with corpus size: explode -> partial-aggregated
    * groupBy(token) -> global top-k. The final ordering compiles to
    * TakeOrderedAndProject (each partition ships only its own top k rows),
    * so no task ever holds a vocab-sized structure — unlike the typed
    * [[Aggregators.TopKTokens]] Aggregator, whose single vocab-sized merge
    * is the right tool only when the vocabulary genuinely is bounded.
    * Deterministic tie-break: (count desc, token asc).
    */
  def topKTokensDistributed(docs: DataFrame, k: Int = 20): DataFrame = {
    val counts = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)
    // rank WITHOUT a window: an empty-partition window fires a "No
    // Partition Defined" WARN per execution (dozens per bench run, burying
    // real driver-log signal), and a constant partitionBy(lit(0)) is
    // folded away by the optimizer, bringing the warning straight back.
    // Instead the k already-selected rows are coalesced to one partition,
    // re-sorted there, and ranked by position: monotonically_increasing_id
    // on partition 0 is 0..n-1 in row order, so over a single sorted
    // partition it IS the (deterministic) dense row number.
    counts
      .coalesce(1)
      .sortWithinPartitions(col("cnt").desc, col("token").asc)
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("int"))
      .select(col("rank"), col("token"), col("cnt"))
  }

  /** Content fingerprint: md5 of the normalized text (lowercase, trimmed) —
    * the document-fingerprinting slot; cheap, exact, engine-independent.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(lower(trim(col("text")))).as("fingerprint"),
      length(col("text")).cast("long").as("n_chars"))

  /** C4-style line filtering (Raffel et al. 2020 §2.2, the other standard
    * web-corpus gate next to [[gopherRules]]). Per line (split on '\n',
    * right-trimmed): keep iff it has >= 5 whitespace words, ends in
    * terminal punctuation (. ! ? " '), and does not contain "javascript"
    * (case-insensitive). Per doc: `clean_text` = kept lines joined with
    * '\n', and `keep` = at least 3 kept lines AND the raw text contains
    * neither '{' nor "lorem ipsum" (case-insensitive). Pure Column
    * arithmetic (higher-order functions over the split array — one narrow
    * codegen'd pass, nothing shuffles), RE2-compatible so a DuckDB oracle
    * reproduces it exactly. Null text = empty: zero kept lines, keep false.
    */
  def c4LineFilter(docs: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    // right-trim includes \r (lines of CRLF text keep a trailing \r after
    // the \n split), and BOTH Java patterns anchor with \z, not $: Java's
    // '$' also matches before a final line terminator (\r, U+0085, U+2028,
    // U+2029) while RE2's '$' means end-of-string only — '\z' is the
    // Java spelling of RE2's '$', keeping the oracle exact
    val lines = transform(split(t, "\n"), l => regexp_replace(l, "[ \\t\\r]+\\z", ""))
    val keptLines = filter(
      lines,
      l =>
        size(filter(split(l, " "), w => w =!= "")) >= 5 &&
          l.rlike("[.!?\"']\\z") &&
          !lower(l).contains("javascript"))
    val nKept = size(keptLines)
    val docKeep = nKept >= 3 &&
      !t.contains("{") &&
      !lower(t).contains("lorem ipsum")
    docs.select(
      col("doc_id"),
      size(lines).cast("int").as("n_lines"),
      nKept.cast("int").as("kept_lines"),
      docKeep.as("keep"),
      when(docKeep, array_join(keptLines, "\n")).otherwise(lit("")).as("clean_text"))
  }

  /** PII scrubbing — counts and masks emails, North-American-style phone
    * numbers and IPv4 addresses (the minimum a public-web corpus scrubs
    * before training). Patterns are deliberately RE2-compatible (no
    * lookaround) so the DuckDB oracle applies the IDENTICAL regexes;
    * replacement order (email -> phone -> ip) is part of the contract
    * since masks must not create new matches. One narrow codegen'd pass.
    */
  private val EmailRe = "[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def piiScrub(docs: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    def countOf(c: Column, re: String): Column =
      size(regexp_extract_all(c, lit(re), lit(0))).cast("int")
    val emails = countOf(t, EmailRe)
    val afterEmail = regexp_replace(t, EmailRe, "<EMAIL>")
    val phones = countOf(afterEmail, PhoneRe)
    val afterPhone = regexp_replace(afterEmail, PhoneRe, "<PHONE>")
    val ips = countOf(afterPhone, Ipv4Re)
    val scrubbed = regexp_replace(afterPhone, Ipv4Re, "<IP>")
    docs.select(
      col("doc_id"),
      emails.as("emails"),
      phones.as("phones"),
      ips.as("ips"),
      md5(scrubbed).as("scrubbed_md5"))
  }

  /** The ONE whitespace-token pattern for corpus-statistics ops
    * ([[tokenRarity]], [[vocabStats]], [[repetitionStats]]): space- and
    * newline-separated runs. A space-only class would glue
    * line-boundary-adjacent words ("sat.\nThe") into near-unique fake
    * tokens, inflating hapax/rarity mass on ordinary multi-line prose.
    */
  private val WsTokenPattern = "[^ \n]+"

  /** Per-(doc, token) occurrence counts — ONE explode, immediately
    * partial-aggregated so every downstream shuffle is sized by DISTINCT
    * (doc, token) pairs, never raw token occurrences (a boilerplate
    * token's occurrences within a doc collapse map-side). The shared
    * input of [[tokenRarity]] and [[vocabStats]].
    */
  private def docTokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(WsTokenPattern), lit(0))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("k"))

  /** Corpus-frequency token rarity — the self-contained analogue of
    * CCNet-style LM filtering (Wenzek et al. 2020: docs whose tokens a
    * corpus-level model finds improbable are noise): per doc,
    *
    *   - `n_tokens`    whitespace tokens,
    *   - `rare_tokens` occurrences of tokens whose corpus DOCUMENT
    *                   frequency is <= `rareMax` (tokens almost no other
    *                   doc uses: OCR garbage, mangled encodings, random
    *                   ids). Document frequency — not term frequency — so
    *                   a doc repeating its own junk ("zzqx zzqx") cannot
    *                   whitewash it past the gate,
    *   - `rare_frac`   rare_tokens / n_tokens,
    *   - `avg_count`   mean corpus occurrence count of the doc's tokens
    *                   (low = the doc lives in the corpus's long tail).
    *
    * All signals are INTEGER sums with one terminal division — no
    * floating accumulation, so results are bit-deterministic under any
    * partitioning and reproducible by an ANSI engine (the log-probability
    * formulation would hash-diverge on last-ulp libm differences).
    *
    * Scale shape: ONE explode collapsed to (doc, token, k) counts
    * ([[docTokenCounts]]); the vocabulary (term count + doc frequency per
    * token) is a partial-aggregated groupBy over those, the join back is
    * keyed and sized by distinct (doc, token) pairs, and the per-doc
    * rollup is integer sums. No window, no driver collect, no per-doc
    * list.
    */
  def tokenRarity(docs: DataFrame, rareMax: Long = 1L): DataFrame = {
    // materialized once: the vocab build and the join-back both consume
    // it — without truncation the corpus is exploded and pre-aggregated
    // TWICE (same discipline as the shingle postings in ngramJaccardPairs)
    val docTok = Dedup.truncateLineage(docTokenCounts(docs))
    val vocab = docTok.groupBy(col("tok")).agg(
      sum(col("k")).as("c"),
      count(lit(1)).as("df"))
    val perDoc = docTok
      .join(vocab, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("k")).as("n_tokens"),
        sum(when(col("df") <= rareMax, col("k")).otherwise(0L)).as("rare_tokens"),
        sum(col("k") * col("c")).as("count_sum"))
    // anchored on the full docs table: an empty/null-text doc still emits
    // a row (0 tokens, 0.0 fractions) instead of silently vanishing from
    // a pipeline that gates on the stats
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("rare_tokens"), lit(0L)).as("rare_tokens"),
        round(coalesce(col("rare_tokens").cast("double") / col("n_tokens"), lit(0.0)), 4)
          .as("rare_frac"),
        round(coalesce(col("count_sum").cast("double") / col("n_tokens"), lit(0.0)), 4)
          .as("avg_count"))
  }

  /** Corpus vocabulary statistics — the Zipf sanity panel a pipeline
    * reports before training a tokenizer: vocabulary size, hapax count
    * (tokens occurring exactly once — high hapax mass flags OCR noise),
    * total token mass, and the corpus share covered by the `k` most
    * frequent tokens. Built over [[docTokenCounts]] (one explode,
    * partial-aggregated); the top-k side ships only each partition's
    * local top k (TakeOrdered), never the vocabulary through one task.
    * All outputs are 0-anchored: an empty corpus reports zeros, not
    * nulls.
    *
    * Construction is EAGER (the vocabulary is lineage-truncated for its
    * two consumers) and inherits the [[Dedup.truncateLineage]] retention
    * contract: with a checkpoint dir set, each call writes a reliable
    * checkpoint that is not auto-removed — point the dir at a per-job
    * location in long-lived sessions.
    */
  def vocabStats(docs: DataFrame, k: Int = 100): DataFrame = {
    // materialized once: totals and the top-k mass both consume the
    // vocabulary (same discipline as tokenRarity's doc-token counts)
    val vocab = Dedup.truncateLineage(
      docTokenCounts(docs).groupBy(col("tok")).agg(sum(col("k")).as("c")))
    val totals = vocab.agg(
      count(lit(1)).as("vocab_size"),
      coalesce(sum(when(col("c") === 1L, 1L).otherwise(0L)), lit(0L))
        .as("hapax_tokens"),
      coalesce(sum(col("c")), lit(0L)).as("total_tokens"))
    val topMass = vocab
      .orderBy(col("c").desc, col("tok"))
      .limit(k)
      .agg(coalesce(sum(col("c")), lit(0L)).as("topk_mass"))
    totals.crossJoin(topMass).select(
      col("vocab_size"),
      col("hapax_tokens"),
      col("total_tokens"),
      round(
        when(col("total_tokens") === 0L, lit(0.0))
          .otherwise(col("topk_mass").cast("double") / col("total_tokens")), 4)
        .as(s"top${k}_coverage"))
  }

  /** TF-IDF keyword extraction: the `k` highest-scoring terms per
    * document, score = tf × ⌊log2(N/df)⌋ — tf weighted by the BINNED
    * idf (the power-of-two bin index of the inverse document frequency).
    * Like log-idf (and unlike a raw tf×N/df, which ranks high-tf
    * stopwords first), a corpus-universal term (df = N) weighs ZERO and
    * rarity is damped logarithmically. The binning is coarse at the
    * bottom — every term in MORE than half the corpus lands in bin 0 —
    * and creates cross-bin score ties (2×bin3 = 3×bin2), so the sort is
    * (score desc, tf desc, term): among equal scores the REPEATED term
    * wins, never the alphabetical accident. The binning keeps the score
    * an exact INTEGER across engines: Spark's log2 is
    * StrictMath.log(x)/log(2) (no edge-exactness by construction), but
    * it floors correctly at every binary-power edge for k ≤ 62
    * (verified empirically on JDK 17 fdlibm), and a non-edge integer
    * ratio sits ~1/(N·ln2) from an edge — 2^-13 at 10^4 docs, still
    * ≥ 2^-45 at 10^12, above the ~2^-50 absolute error of the log
    * quotient — so the floor never straddles at any realistic corpus
    * size. Output: `(doc_id, rank, term, tf, df, score)`.
    *
    * Scale shape: [[docTokenCounts]] (one explode, partial-aggregated,
    * materialized once for the df build + the scoring join) → df per
    * term (partial-aggregated groupBy, a boilerplate term is one row per
    * map task) → term-keyed join sized by distinct (doc, term) pairs →
    * per-DOC window for the top k (every window group is one document's
    * distinct terms — bounded, never corpus-wide).
    */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val docTok = Dedup.truncateLineage(docTokenCounts(docs))
    val df = docTok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = docTok
      .join(df, Seq("tok"))
      .crossJoin(broadcast(n))
      .select(
        col("doc_id"),
        col("tok").as("term"),
        col("k").as("tf"),
        col("df"),
        (col("k") * floor(log2(col("n_docs").cast("double") / col("df"))))
          .cast("long").as("score"))
    val w = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tf").desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("df"), col("score"))
  }

  /** Sliding-window token chunking — the RAG/embedding-pipeline prep
    * step: each document becomes overlapping windows of `size` tokens
    * advancing by `stride` (`stride < size` ⇒ overlap of size−stride
    * tokens). Chunk starts are every stride-th token position while the
    * PREVIOUS window has not already reached the last token, so EVERY
    * token lands in at least one chunk when `stride <= size` (the final
    * chunk may run short) and no chunk is a pure subset of its
    * predecessor (a redundant tail chunk would be a duplicate embedding
    * cost and duplicate retrieval hit for every doc whose length falls in
    * the overlap zone). Output: `(doc_id, chunk_id, n_chunk_tokens,
    * chunk_text)`; empty/null-text docs produce no chunks by design
    * (there is nothing to embed).
    *
    * Purely row-local: tokenize → explode the start positions → slice.
    * No shuffle, no state; the explode factor is n/stride per doc.
    */
  def chunkTokens(docs: DataFrame, size: Int = 256, stride: Int = 192): DataFrame = {
    require(size > 0 && stride > 0, s"size/stride must be positive, got $size/$stride")
    docs
      .select(
        col("doc_id"),
        regexp_extract_all(col("text"), lit(WsTokenPattern), lit(0)).as("t"))
      .filter(size_(col("t")) >= 1)
      .select(
        col("doc_id"),
        explode(sequence(lit(1), size_(col("t")), lit(stride))).as("i"),
        col("t"))
      // drop a start whose predecessor window already covers the last
      // token — its chunk would be a strict subset of the previous one
      .filter(col("i") === 1 ||
        col("i") - stride + size - 1 < size_(col("t")))
      .select(
        col("doc_id"),
        ((col("i") - 1) / stride).cast("long").as("chunk_id"),
        size_(slice(col("t"), col("i"), lit(size))).cast("long").as("n_chunk_tokens"),
        array_join(slice(col("t"), col("i"), lit(size)), " ").as("chunk_text"))
  }
  // `size` the function shadows nothing here, but spark.sql.functions.size
  // is aliased to avoid colliding with the `size` parameter above
  private def size_(c: Column): Column = size(c)

  /** Source-level (host-level) reputation: the two-level filter a crawl
    * pipeline runs AFTER per-doc scoring — a host whose documents are
    * mostly low-quality is dropped WHOLESALE (the UT1-blocklist /
    * RefinedWeb host-filtering analogue, computed from the corpus itself
    * instead of an external list). Per source: doc count, flagged count
    * (docs whose [[qualityScore]] composite falls under 0.5 — the same
    * flag the per-doc gate uses), flagged fraction, and `keep_source`: a
    * source is DROPPED only when there is enough evidence (doc count at
    * the `minDocs` floor or above) AND its flagged fraction exceeds
    * `maxFlaggedFrac`; below the floor it is kept regardless (unknown ≠
    * bad — blocklists require evidence to condemn).
    *
    * One partial-aggregated groupBy over row-local signals: a 10^8-doc
    * host shrinks to one row per map task; no join, no window.
    */
  def sourceReputation(
      docs: DataFrame,
      minDocs: Long = 20L,
      maxFlaggedFrac: Double = 0.5): DataFrame =
    docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(qualityScoreCol(col("text")) < 0.5, 1L).otherwise(0L))
          .as("n_flagged"))
      .select(
        col("source"),
        col("n_docs"),
        col("n_flagged"),
        round(col("n_flagged").cast("double") / col("n_docs"), 4)
          .as("flagged_frac"),
        (col("n_docs") < minDocs ||
          col("n_flagged").cast("double") / col("n_docs") <= maxFlaggedFrac)
          .as("keep_source"))

  /** Doc-level application of [[sourceReputation]]: every doc annotated
    * with its source's verdict — `keep` docs survive the host filter. The
    * reputation side is per-source (bounded by the host universe, tiny
    * next to the corpus) so Spark broadcasts it; the corpus never
    * shuffles. The join is NULL-SAFE: null-source docs form their own
    * reputation group (the groupBy keeps a null key) and must match it
    * back — a plain equi-join would silently drop every null-source doc
    * from the filtered corpus.
    */
  def sourceFilter(
      docs: DataFrame,
      minDocs: Long = 20L,
      maxFlaggedFrac: Double = 0.5): DataFrame = {
    val rep = sourceReputation(docs, minDocs, maxFlaggedFrac)
      .select(col("source").as("rep_source"), col("keep_source"))
    docs
      .select(col("doc_id"), col("source"))
      .join(broadcast(rep), col("source") <=> col("rep_source"))
      .select(col("doc_id"), col("source"), col("keep_source").as("keep"))
  }

  /** URL canonicalization — the key a crawl pipeline dedups on BEFORE
    * content dedup (the same page is crawled under thousands of url
    * variants). Rules, applied in order:
    *
    *   1. lowercase the scheme and authority (path/query stay case-exact),
    *   2. strip the fragment,
    *   3. strip default ports (http:80 / https:443),
    *   4. strip tracking parameters (utm_*, fbclid, gclid),
    *   5. re-anchor the first kept parameter to '?' if the original '?'
    *      was removed with a tracking parameter,
    *   6. strip a trailing '?'/'&' and a trailing slash.
    *
    * Pure `regexp_replace`/`regexp_extract` Column chain: whole-stage
    * codegen, no UDF, and every pattern is RE2-compatible so an ANSI SQL
    * oracle (DuckDB) reproduces it exactly.
    */
  /** Lowercased host (authority) of a url, with the same case-insensitive
    * scheme handling as [[canonicalizeUrl]] — the shared expression for
    * host-keyed partitioning/salting decisions. A case-sensitive `[a-z]+`
    * scheme match would give every `HTTPS://...` url an EMPTY host: a
    * skewed crawl with non-lowercase schemes would evade salting entirely
    * (and all its rows would hash together under one empty key).
    */
  def hostOf(url: Column): Column =
    lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]+)", 1))

  def canonicalizeUrl(url: Column): Column = {
    val prefix = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*", 0)
    val lowered = concat(lower(prefix), url.substr(length(prefix) + lit(1), length(url)))
    // (?s): '.' matches line terminators identically in Java and RE2 (their
    // default '.' classes differ on \r)
    val noFrag = regexp_replace(lowered, "(?s)#.*", "")
    val noP80 = regexp_replace(noFrag, "^(http://[^/:?#]+):80([/?#].*)?$", "$1$2")
    val noP443 = regexp_replace(noP80, "^(https://[^/:?#]+):443([/?#].*)?$", "$1$2")
    val noTrack = regexp_replace(noP443, "[?&](utm_[^=&#]*|fbclid|gclid)=[^&#]*", "")
    val fixedQ = regexp_replace(noTrack, "^([^?#]+)&", "$1?")
    val noTail = regexp_replace(fixedQ, "[?&]+$", "")
    regexp_replace(noTail, "([^/:])/$", "$1")
  }
}
