package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. All pure
  * `Column` expressions (whole-stage codegen, no UDFs), so they run inside
  * the parquet scan's projection at 100 TB without a shuffle.
  */
object TextOps {

  /** Whitespace tokens of the lowercased, trimmed text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Let-bind `x` once per row: `body` receives a lambda VARIABLE (a
    * bound value), so referencing it k times costs ONE evaluation of
    * `x` instead of k. Each textual reference of a raw expression is
    * analyzed into a distinct lambda binding (fresh exprIds), which
    * neither codegen CSE nor the interpreted subexpression-elimination
    * runtime can unify — so a derived array (a tokenizing split, a
    * regex extract) referenced k times in one tree re-ran k times per
    * ROW (the [[chunkWindows]] single-element-array trick,
    * generalized; measured in SCALE.md round 13). `element_at(_, 1)`
    * unwraps the 1-element array `transform` builds; works for any
    * result type, including arrays.
    */
  private[graft] def letBound(x: Column)(body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  /** Unicode NFC normalization (native codegen'd expression
    * [[graft.functions.NfcNormalize]]; DuckDB twin: `nfc_normalize`).
    */
  def nfc(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.NfcNormalize(
        org.apache.spark.sql.graft.Bridge.expression(text)))

  /** Standard crawl-text cleanup, one scan-projection expression:
    * delete non-whitespace control characters, NFC-compose
    * (byte-different/codepoint-equal text must fingerprint identically
    * downstream), collapse every whitespace run — space, tab, newline,
    * CR, VT, FF — to a single space, and trim. Control-strip runs
    * BEFORE NFC on purpose: deleting a control byte between a base
    * letter and a combining mark creates new composable adjacency
    * ("e·BEL·U+0301" → "e·U+0301"), which only a subsequent NFC pass
    * composes — the reverse order leaves non-normalized output
    * (PropertySpec pins output NFC-ness on random junk). The later
    * whitespace collapse cannot un-normalize: it only substitutes
    * runs with a single space, and spaces never compose. Regex classes
    * are spelled as explicit code-point ranges, never `\s`: Java and
    * RE2 disagree on whether `\s` contains U+000B, and the oracle
    * replay (q165) must apply the byte-identical character sets.
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      nfc(regexp_replace(text, "[\\x00-\\x08\\x0E-\\x1F\\x7F]", "")),
      "[ \\t\\n\\r\\x0B\\f]+", " "))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Word n-grams of the whitespace tokenization (joined with single
    * spaces). Docs shorter than n words yield one whole-doc gram — the
    * same convention as the MinHash shingler, so repetition features and
    * dedup shingles agree on degenerate docs.
    */
  def wordNgrams(text: Column, n: Int): Column =
    // n-fold zip_with over shifted slices, NOT an index lambda with
    // slice(t, i, n): a non-lambda subexpression in a HOF body
    // re-evaluates per ELEMENT, so the slice form re-ran the
    // tokenizing split O(tokens) times per doc (the q195 lesson,
    // LangModel.bigramArr). The token array is let-bound once per row
    // through a single-element array + transform (the [[chunkWindows]]
    // trick): the gram tree references it n+3 times, and each textual
    // reference of a raw expression is analyzed into a distinct
    // lambda binding that subexpression elimination cannot unify — the
    // unbound form re-ran the tokenizing split n+3 times per ROW.
    when(text.isNull, array().cast("array<string>"))
      .otherwise(flatten(transform(array(tokens(text)), t => {
        val grams = (2 to n)
          .map(k => slice(t, lit(k), size(t) - (n - 1)))
          .foldLeft(slice(t, lit(1), size(t) - (n - 1)))(
            (acc, s) => zip_with(acc, s, (a, b) => concat_ws(" ", a, b)))
        when(size(t) >= n, grams).otherwise(array(array_join(t, " ")))
      })))

  /** HTML-to-text extraction, the crawl-processing front door: drop
    * `<script>`/`<style>` elements WITH their contents (their text is
    * code, not prose — tag-stripping alone would leak it), replace
    * every remaining tag with a space (block boundaries must not glue
    * words: `<p>a</p><p>b</p>` → "a b"), then decode the five XML
    * entities plus `&nbsp;` and the apostrophe's numeric form
    * `&#39;` (a full entity decoder is a lookup table, not a
    * transform; rare entities survive as literal text and wash out in
    * tokenization). `&amp;` decodes LAST — decoding it first would re-interpret
    * "&amp;lt;" as "&lt;" and corrupt pre-escaped text (the classic
    * double-decode bug). Chain with [[cleanText]] for whitespace/NFC
    * normalization; everything here is regexp/replace chains — pure
    * scan projection, byte-identical in any engine with RE2/Java-
    * compatible classes.
    *
    * Truncated crawls routinely cut a page mid-script, leaving an
    * unclosed `<script>`: the paired pass can't match it, and the
    * generic tag pass would strip just the open tag and leak the JS
    * body into prose. A fallback pass therefore drops any remaining
    * unclosed script/style element to end-of-input ((?s)'.*' — no '$',
    * whose before-final-newline semantics differ between Java and RE2).
    * Tag names are anchored with '(?:\s[^>]*)?>' so `<scripty>` /
    * `<styled>` are generic tags, not script/style.
    */
  def htmlToText(html: Column): Column = {
    // two separate element regexes, NOT one with a \1 backreference:
    // RE2 (the oracle's engine) has no backreferences, and the oracle
    // must run the byte-identical patterns
    val noScript = regexp_replace(html,
      "(?is)<script(?:\\s[^>]*)?>.*?</script\\s*>", " ")
    val noScriptTail = regexp_replace(noScript,
      "(?is)<script(?:\\s[^>]*)?>.*", " ")
    val noStyle = regexp_replace(noScriptTail,
      "(?is)<style(?:\\s[^>]*)?>.*?</style\\s*>", " ")
    val noStyleTail = regexp_replace(noStyle,
      "(?is)<style(?:\\s[^>]*)?>.*", " ")
    val noTags = regexp_replace(noStyleTail, "<[^>]*>", " ")
    Seq(
      ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&#39;", "'"),
      ("&nbsp;", " "), ("&amp;", "&")).foldLeft(noTags) {
      case (c, (ent, ch)) => replace(c, lit(ent), lit(ch))
    }
  }

  /** Overlapping token-window chunks — the RAG/embedding-indexing
    * splitter: windows of `chunkTokens` whitespace tokens advancing by
    * `chunkTokens − overlap`, the final window clamped to the document
    * end, every document yielding at least one chunk. Returns an array
    * of structs (idx, chunk, n_tokens); chunk identity is the stable
    * (doc id, idx) pair — a pure function of the text, so re-chunking a
    * grown corpus never renumbers existing chunks.
    *
    * One scan-projection HOF per row (no explode-then-group round
    * trip); the chunk count uses FLOOR over an exact small-integer
    * double division so both engines derive the identical window set.
    * Case is preserved (chunks feed retrieval display and embedding
    * models, unlike the lowercased [[tokens]] used for matching).
    */
  def chunkWindows(text: Column, chunkTokens: Int, overlap: Int): Column = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got ($chunkTokens, $overlap)")
    val stride = chunkTokens - overlap
    // Let-bind the token array once per row by routing it through a
    // single-element array and an outer transform: lambda VARIABLES are
    // bound values, so the inner index lambda reads `t` O(1) per chunk —
    // referencing the split expression directly would re-tokenize the
    // whole doc per chunk, O(len²/stride) on long documents (the q195
    // lesson, LangModel.bigramArr).
    flatten(transform(array(split(trim(text), "\\s+")), t => {
      val n = size(t)
      val nch = when(n <= chunkTokens, lit(1L)).otherwise(
        floor((n - lit(chunkTokens) + lit(stride - 1)).cast("double")
          / lit(stride.toDouble)).cast("long") + lit(1L))
      transform(sequence(lit(0L), nch - 1),
        k => struct(
          k.as("idx"),
          array_join(slice(t, (k * stride + 1).cast("int"), lit(chunkTokens)), " ")
            .as("chunk"),
          least(lit(chunkTokens), n - (k * stride).cast("int")).cast("long")
            .as("n_tokens")))
    }))
  }

  /** BPE-ish subword count: alpha runs count ~1 token per 4 chars
    * (ceil), digits and punctuation one each — a cheap, deterministic
    * proxy for byte-pair-encoded token counts.
    */
  def bpeishTokenCount(text: Column): Column = {
    val alpha = regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))
    val alphaToks = aggregate(alpha, lit(0L), (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("long"))
    val digits = length(regexp_replace(text, "[^0-9]", ""))
    val punct = length(regexp_replace(text, "[a-zA-Z0-9\\s]", ""))
    (alphaToks + digits + punct).cast("long")
  }

  /** Share of non-alphanumeric, non-space characters. */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n > 0,
      length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double") / n)
      .otherwise(lit(0.0))
  }

  /** [[stopwordRatio]] over an already-bound token array (the
    * [[letBound]] contract: `toks` must be a lambda variable or plain
    * attribute — the tree references it 3 times).
    */
  private[graft] def stopwordRatioOf(toks: Column, stops: Seq[String]): Column = {
    val stopArr = array(stops.map(lit): _*)
    when(size(toks) > 0,
      size(filter(toks, t => array_contains(stopArr, t))).cast("double") / size(toks))
      .otherwise(lit(0.0))
  }

  /** Share of tokens that are stopwords (from `stops`). */
  def stopwordRatio(text: Column, stops: Seq[String]): Column =
    letBound(tokens(text))(stopwordRatioOf(_, stops))

  /** [[meanTokenLen]] over an already-bound token array (3 references). */
  private[graft] def meanTokenLenOf(toks: Column): Column =
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
      .otherwise(lit(0.0))

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column =
    letBound(tokens(text))(meanTokenLenOf)

  /** Heuristic quality score in [0,1]: rewards mid-length documents and
    * stopword presence, penalizes punctuation soup. Deterministic
    * arithmetic over the ratios above (reference-style quality filters for
    * LLM corpus curation). Returned unrounded: every step is an exact IEEE
    * op on identical inputs, so the raw double is bit-stable across
    * engines, whereas double `round` algorithms differ between engines.
    */
  def qualityScore(text: Column, stops: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val stopScore = least(stopwordRatio(text, stops) * lit(5.0), lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(text) * lit(4.0))
    lenScore * lit(0.4) + stopScore * lit(0.3) + punctPenalty * lit(0.3)
  }

  /** C4-style line-and-page cleaning (Raffel et al., "Exploring the
    * Limits of Transfer Learning…", §2.2 — the published heuristics):
    * keep lines that end in terminal punctuation, have ≥ `minLineWords`
    * words, and don't mention javascript; drop whole pages containing
    * "lorem ipsum" or a curly brace, or with fewer than `minKeptLines`
    * surviving lines. Pure scan-projection column math (split + HOF
    * filter, codegen'd, no shuffle) — at 100 TB this runs inside the
    * parquet scan like the other quality filters. Output per doc:
    * (id, n_lines, n_kept, keep_doc, cleaned_fp) where `cleaned_fp` is
    * the md5 of the newline-joined surviving lines (text itself never
    * leaves the scan).
    */
  def c4Clean(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 5, minKeptLines: Int = 3): org.apache.spark.sql.DataFrame = {
    // the line split and the kept-line filter (a per-line regex) are
    // let-bound once per row and the four outputs emitted as one
    // struct, then projected to columns: as four independent column
    // expressions the filter ran 3× and the split 4× per row (the
    // letBound rationale)
    val c = letBound(split(col(textCol), "\n")) { lines =>
      letBound(filter(lines, l =>
        trim(l).rlike("[.!?\"]$") &&
          size(split(trim(l), "\\s+")) >= minLineWords &&
          !lower(l).contains("javascript"))) { kept =>
        struct(
          size(lines).cast("long").as("n_lines"),
          size(kept).cast("long").as("n_kept"),
          (!lower(col(textCol)).contains("lorem ipsum") &&
            !col(textCol).contains("{") &&
            size(kept) >= minKeptLines).as("keep_doc"),
          md5(array_join(kept, "\n")).as("cleaned_fp"))
      }
    }
    df.select(col(idCol), c.as("__c"))
      .select(col(idCol), col("__c.n_lines"), col("__c.n_kept"),
        col("__c.keep_doc"), col("__c.cleaned_fp"))
  }

  /** Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", appendix A1.1
    * — the published document-level repetition-free heuristics, the
    * sibling of [[c4Clean]]'s line-level rules): keep a document iff
    *   1. 50 ≤ word count ≤ 100,000;
    *   2. 3 ≤ mean word length ≤ 10;
    *   3. symbol-to-word ratio ('#' and '…' as "...") ≤ 0.1;
    *   4. ≤ 90% of lines start with a bullet;
    *   5. ≤ 30% of lines end with an ellipsis;
    *   6. ≥ 80% of words contain an alphabetic character;
    *   7. ≥ 2 distinct stop words from {the, be, to, of, and, that,
    *      have, with} appear.
    * Pure scan-projection column math (split + HOF filter/aggregate,
    * codegen'd, no shuffle) like the other quality filters — at 100 TB
    * this runs inside the parquet scan. Every emitted ratio is ONE
    * IEEE double division over engine-identical integers, so the raw
    * doubles and the keep flag replay bit-for-bit in a second engine.
    */
  def gopherQuality(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    // the token and line arrays are let-bound once per row and the
    // outputs emitted as one struct, then projected to columns: as
    // independent column expressions the tokenizing split ran ~13× per
    // row (nWords, meanLen's 3, alphaRatio, nStops' per-stopword
    // lambda re-evaluating `toks` 8 times — the per-ELEMENT form of
    // the defect on top of the per-ROW one) and the line split 3×
    val c = letBound(tokens(t)) { toks =>
      letBound(split(t, "\n")) { lines =>
        val nWords = size(toks).cast("long")
        val meanLen = meanTokenLenOf(toks)
        // regexp_replace keeps this pure-Column (no name splicing, so odd
        // column names never break); left-to-right non-overlapping matching
        // makes it count-equivalent to a literal replace for both patterns
        val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
        val nEllip = ((length(t) -
          length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("long")
        val symbolRatio = (nHash + nEllip).cast("double") / nWords.cast("double")
        val nLines = size(lines).cast("long")
        val bulletRatio = size(filter(lines, l => trim(l).rlike("^[-*•]")))
          .cast("double") / nLines.cast("double")
        val ellipsisRatio = size(filter(lines, l => trim(l).rlike("\\.\\.\\.$")))
          .cast("double") / nLines.cast("double")
        val alphaRatio = size(filter(toks, w => w.rlike("[a-z]")))
          .cast("double") / nWords.cast("double")
        val stopArr = array(Seq("the", "be", "to", "of", "and", "that", "have", "with")
          .map(lit): _*)
        val nStops = size(filter(stopArr, s => array_contains(toks, s))).cast("long")
        struct(
          nWords.as("n_words"),
          meanLen.as("mean_word_len"),
          symbolRatio.as("symbol_ratio"),
          bulletRatio.as("bullet_ratio"),
          ellipsisRatio.as("ellipsis_ratio"),
          alphaRatio.as("alpha_ratio"),
          nStops.as("n_stopwords"),
          (nWords.between(50L, 100000L) &&
            meanLen >= 3.0 && meanLen <= 10.0 &&
            symbolRatio <= 0.1 &&
            bulletRatio <= 0.9 &&
            ellipsisRatio <= 0.3 &&
            alphaRatio >= 0.8 &&
            nStops >= 2L).as("keep_doc"))
      }
    }
    df.select(col(idCol), c.as("__g"))
      .select(col(idCol), col("__g.n_words"), col("__g.mean_word_len"),
        col("__g.symbol_ratio"), col("__g.bullet_ratio"),
        col("__g.ellipsis_ratio"), col("__g.alpha_ratio"),
        col("__g.n_stopwords"), col("__g.keep_doc"))
  }

  /** Marker stopwords per language for the n-gram/marker language-ID
    * heuristic. Public wordlist-style markers only.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "de", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"))

  /** Predicted language: argmax of marker-token counts, ties broken by
    * marker-list order, "und" (undetermined) when no marker matches.
    */
  def langId(text: Column): Column =
    // let-bind the token array AND the 4-score array: the argmax fold
    // references each score twice and `best` (which contains all four)
    // once per language, so the unbound form re-ran the tokenizing
    // split ~20× per row (the letBound rationale); element_at reads of
    // a bound score array are free, and `greatest` is kept verbatim so
    // the tie/zero semantics are character-identical to the original
    letBound(tokens(text)) { toks =>
      letBound(array(langMarkers.map { case (_, markers) =>
        val m = array(markers.map(lit): _*)
        size(filter(toks, t => array_contains(m, t)))
      }: _*)) { ss =>
        val scores = langMarkers.zipWithIndex.map { case ((lang, _), i) =>
          lang -> element_at(ss, i + 1)
        }
        val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
        scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
          when(s === best && best > 0, lit(lang)).otherwise(acc)
        }
      }
    }

  /** Canonical-form document fingerprint: md5 of the lowercased,
    * whitespace-collapsed text. Stable across engines (md5 is md5), used
    * for exact dedup at any scale (hash-groupBy, no text shuffle).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Replicates the `trim(lower(text))` the column-expression tokenizer
    * applies, for the UDF twins: Spark's `trim` strips 0x20 SPACES only
    * (Java String.trim also eats tabs/newlines — a real divergence on
    * whitespace-framed text), and lowercasing pins Locale.ROOT so a
    * non-English default JVM locale (tr_TR dotless-i) cannot break
    * parity with `lower()`/the oracle engines.
    */
  private def sparkTrimLower(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e).toLowerCase(java.util.Locale.ROOT)
  }

  /** JVM-speed DISTINCT word n-grams: same output set as
    * `array_distinct(wordNgrams(text, n))` in first-occurrence order,
    * built in one compiled pass (the HOF form evaluates interpreted per
    * element — the q103/repetitionStats trade-off, documented there).
    * Null text yields an empty array.
    */
  def distinctWordNgrams(text: Column, n: Int): Column = {
    val ws = java.util.regex.Pattern.compile("\\s+")
    val f = udf { (t: String) =>
      if (t == null) Array.empty[String]
      else {
        val toks = ws.split(sparkTrimLower(t), -1)
        val seen = new java.util.LinkedHashSet[String]()
        if (toks.length >= n) {
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i <= toks.length - n) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(toks(i + j)); j += 1
            }
            seen.add(sb.toString)
            i += 1
          }
        } else seen.add(toks.mkString(" "))
        val out = new Array[String](seen.size)
        seen.toArray(out)
        out
      }
    }
    f(text)
  }

  /** Email/phone PII patterns — simple, backtracking-free classes that
    * behave identically under Java regex (Spark) and RE2 (common oracle
    * engines): no alternation-order or longest-match ambiguity.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"

  /** PII scrub (the redaction pass of a training-data pipeline): counts
    * and replaces email/phone matches with typed placeholders. Pure
    * codegen'd regexp column math — runs inside the scan projection.
    * Adds `n_emails`, `n_phones`, and `redacted`.
    */
  def redactPii(df: org.apache.spark.sql.DataFrame,
                textCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(PhonePattern), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
          PhonePattern, "<PHONE>"))

  /** Deterministic stratified sample: up to `k` rows per `groupCol`,
    * selected by md5-hash order of the id — the per-language quota
    * sampling step of a corpus pipeline, reproducible in any engine
    * with md5 (no RNG state). Two-stage top-k underneath
    * ([[graft.ops.TopK]]), so a dominant group never funnels through
    * one task. Adds `sample_rank` (1-based within group).
    */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, groupCol: String,
                       idCol: String, k: Int): org.apache.spark.sql.DataFrame =
    graft.ops.TopK.topKPerKey(df, Seq(groupCol),
      Seq(md5(col(idCol).cast("string")), col(idCol)), k,
      rankCol = "sample_rank")

  /** Per-document n-gram repetition features (the published Gopher /
    * MassiveText quality-filter family: fraction of the doc made of its
    * most frequent n-gram, fraction covered by n-grams that repeat).
    *
    * ZERO-shuffle shape: a doc's grams all live in its own row, so
    * per-doc frequencies never need a (doc, gram) exchange — one
    * JVM-speed hash-count per document inside the scan projection. (An
    * explode+groupBy shuffles every gram string of every document —
    * measured 4.2 s at sf0.1 vs 0.6 s for this; a higher-order
    * `aggregate` fold stays shuffle-free but runs interpreted per
    * element, 6.2 s. A deliberate documented exception to the
    * no-UDF rule: HOFs are CodegenFallback here anyway, and this UDF
    * replaces a shuffle, not a codegen'd expression.) Tokenization
    * replicates `tokens()` exactly (Pattern.split with -1 limit =
    * Spark's StringSplit). Ratios are exact-integer divisions —
    * identical doubles in any engine.
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int = 2): org.apache.spark.sql.DataFrame =
    withRepetitionStats(df, textCol, n)
      .select(idCol, "n_grams", "top_ngram_frac", "dup_ngram_frac")

  /** [[repetitionStats]] in column-appending form for pipeline
    * composition: keeps every input column and adds
    * `n_grams`/`top_ngram_frac`/`dup_ngram_frac`.
    */
  def withRepetitionStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                          n: Int = 2): org.apache.spark.sql.DataFrame = {
    val ws = java.util.regex.Pattern.compile("\\s+")
    val f = udf { (text: String) =>
      if (text == null) Option.empty[(Long, Double, Double)]
      else Some(repetitionOf(ws.split(sparkTrimLower(text), -1), n))
    }
    df.withColumn("__r", f(col(textCol)))
      .withColumn("n_grams", col("__r._1"))
      .withColumn("top_ngram_frac", col("__r._2"))
      .withColumn("dup_ngram_frac", col("__r._3"))
      .drop("__r")
  }

  private def repetitionOf(toks: Array[String], n: Int): (Long, Double, Double) = {
      val tot =
        if (toks.length >= n) toks.length - (n - 1) else 1
      val counts = new java.util.HashMap[String, Long](tot * 2)
      if (toks.length >= n) {
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i <= toks.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j)); j += 1
          }
          counts.merge(sb.toString, 1L, (a, b) => a + b)
          i += 1
        }
      } else counts.put(toks.mkString(" "), 1L)
      var top = 0L
      var dup = 0L
      counts.values.forEach { c =>
        if (c > top) top = c
        if (c > 1) dup += c
      }
      (tot.toLong, top.toDouble / tot, dup.toDouble / tot)
  }

  /** Per-domain quota cap — the published "max pages per registered
    * domain" heuristic of web-corpus curation: keep the `cap`
    * best-scoring documents per group (ties to the smaller id), so no
    * single template farm dominates the training mix. Two-stage top-k
    * underneath: a mega-domain never funnels through one task.
    */
  def domainCap(df: org.apache.spark.sql.DataFrame, groupCol: String,
                idCol: String, scoreCol: String, cap: Int)
      : org.apache.spark.sql.DataFrame =
    graft.ops.TopK.topKPerKey(df, Seq(groupCol),
      Seq(col(scoreCol).desc, col(idCol)), cap, rankCol = "cap_rank")

  /** Corpus datasheet — the dataset-card rollup: ONE `cube` aggregation
    * over the given dimensions yields every marginal (each dim, each
    * dim pair, …, grand total) in a single shuffle with map-side
    * partial aggregation — the shape that replaces 2^d separate groupBy
    * jobs for a reporting sweep over a 100 TB corpus. Per-cell stats:
    * doc count, token sum, grid-snapped exact mean quality (plan- and
    * partitioning-invariant), max char length. `g_<dim>` grouping flags
    * (1 = rolled up) disambiguate ALL-rows from genuine null dimension
    * values.
    */
  def datasheet(df: org.apache.spark.sql.DataFrame, dims: Seq[String],
                textCol: String, stops: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val base = df.select(dims.map(col) ++ Seq(
      tokenCount(col(textCol)).as("__tok"),
      qualityScore(col(textCol), stops).as("__q"),
      length(col(textCol)).cast("long").as("__chars")): _*)
    val aggs = dims.map(d => grouping(col(d)).cast("long").as(s"g_$d")) ++ Seq(
      count(lit(1)).as("n_docs"),
      sum(col("__tok")).as("sum_tokens"),
      graft.ops.Exact.gavg(col("__q")).as("avg_q"),
      max(col("__chars")).as("max_chars"))
    base.cube(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Vocabulary coverage curve — the tokenizer-sizing table: for each
    * candidate vocabulary size, the fraction of corpus token
    * OCCURRENCES covered by the top-`size` words (rank = count desc,
    * word asc) and the resulting OOV rate. A word-level tokenizer (or
    * the word backbone of a BPE vocabulary, q116) is sized by reading
    * this curve, not by guessing.
    *
    * Scale shape: one map-side-combined word count (the q116 wordCounts
    * shuffle), then the top-max(sizes) words via the TWO-STAGE bounded
    * top-k — never a global window over the vocabulary frame, which is
    * billions of rows at corpus scale — and per-size sums over that
    * bounded frame against a broadcast sizes list. Counts are exact
    * integers; coverage/oov are single correctly-rounded divisions, so
    * the whole curve replays in any engine.
    */
  def vocabCoverage(df: org.apache.spark.sql.DataFrame, textCol: String,
                    sizes: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1), "need positive sizes")
    import df.sparkSession.implicits._
    val counts = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_distinct"))
    val top = graft.ops.TopK.topKPerKey(counts, Seq.empty,
      Seq(col("n").desc, col("w").asc), sizes.max, rankCol = "rank")
    val sz = sizes.sorted.toDF("vocab_size")
    top.crossJoin(broadcast(sz))
      .filter(col("rank") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(count(lit(1)).as("n_words"), sum(col("n")).as("covered_occurrences"))
      .crossJoin(broadcast(totals))
      .select(col("vocab_size"), col("n_words"), col("covered_occurrences"),
        col("total").as("total_occurrences"),
        col("n_distinct").as("n_distinct_words"),
        (col("covered_occurrences").cast("double") / col("total")).as("coverage"),
        ((col("total") - col("covered_occurrences")).cast("double") / col("total"))
          .as("oov_rate"))
  }
}
