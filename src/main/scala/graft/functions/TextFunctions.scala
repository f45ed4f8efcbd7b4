package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for LLM-data pipelines.
  *
  * Everything here is built from codegen'd Spark builtins (split,
  * regexp, higher-order array functions, xxhash64) — no UDFs, no
  * shuffle. Each function is a narrow per-row expression that fuses
  * into the scan under whole-stage codegen, which is precisely what
  * you want for a 100 TB corpus pass.
  */
object TextFunctions {

  /** Let-binding for column expressions: evaluate `x` ONCE per row and
    * hand the result to `body` as a lambda variable. An expression
    * captured inside a higher-order-function lambda body is otherwise
    * re-evaluated on EVERY element visit (the lambda stores the whole
    * subtree, not a reference) — for `shingles` that meant one full
    * regex split per shingle, a ~50× hot-path blow-up at corpus scale.
    */
  private[graft] def bindOnce(x: Column, body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  /** Whitespace tokens of trimmed, lowercased text. Empty text → []. */
  def tokens(text: Column): Column = {
    val t = trim(lower(text))
    when(length(t) === 0, array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish token estimate: alphabetic runs, digit runs, and single
    * punctuation marks each count as one token — the classic cheap
    * proxy for subword-tokenizer counts.
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")

  /** Mean token length (0.0 for empty docs). */
  def meanTokenLen(text: Column): Column =
    bindOnce(tokens(text), ts =>
      when(size(ts) === 0, lit(0.0)).otherwise(
        aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(ts)))

  /** Fraction of characters that are a-z/A-Z (0.0 for empty). */
  def alphaRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      regexp_count(text, lit("[A-Za-z]")).cast("double") / length(text))

  /** Composite quality score in [0,1]: favors mid-length docs with
    * alphabetic content and a natural stopword rate. Deterministic,
    * engine-portable arithmetic (the exact formula matters less than
    * it being cheap, monotone in the obvious signals, and identical
    * across engines).
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val stops = array(stopwords.map(lit): _*)
    // ONE tokenize for both the length and stopword terms — the naive
    // composition split the text twice per row, which is the dominant
    // cost of this (interpreted-HOF) expression on a corpus pass
    bindOnce(tokens(text), ts => {
      val nTok = size(ts).cast("double")
      val lengthTerm = least(nTok / lit(50.0), lit(1.0))
      val alphaTerm = alphaRatio(text)
      val stopTerm = least(
        when(size(ts) === 0, lit(0.0)).otherwise(
          size(filter(ts, t => array_contains(stops, t))).cast("double") / nTok)
          * lit(4.0), lit(1.0))
      // floor(x*1e4+0.5)/1e4 instead of round(): identical IEEE ops on
      // the identical binary double in every engine (see SparkEntry).
      floor((lengthTerm + alphaTerm + stopTerm) / lit(3.0) * lit(10000.0) + lit(0.5)) / lit(10000.0)
    })
  }

  /** Argmax language id over marker lists; ties break by list order
    * (first wins), unknown when all scores are 0. Tokens are split
    * once and the score vector is bound once — the naive when-chain
    * re-evaluated every marker filter O(L²) times per row.
    */
  def langId(text: Column, markerSets: Seq[(String, Seq[String])],
             unknown: String = "und"): Column =
    bindOnce(tokens(text), ts => {
      val scores = array(markerSets.map { case (_, ms) =>
        val m = array(ms.map(lit): _*)
        size(filter(ts, t => array_contains(m, t))).cast("long")
      }: _*)
      val names = array(markerSets.map(p => lit(p._1)): _*)
      bindOnce(scores, sc => {
        val best = array_max(sc)
        when(best > 0, element_at(names, array_position(sc, best).cast("int")))
          .otherwise(lit(unknown))
      })
    })

  /** Word k-shingles as distinct strings ("w1 w2 ... wk"). Documents
    * shorter than k words yield a single shingle of the whole text.
    */
  def shingles(text: Column, k: Int): Column =
    bindOnce(tokens(text), ts => {
      val n = size(ts)
      when(n === 0, array().cast("array<string>"))
        .otherwise(when(n <= k, array(concat_ws(" ", ts)))
        .otherwise(array_distinct(
          transform(sequence(lit(0), n - k),
            i => concat_ws(" ", slice(ts, i + 1, lit(k)))))))
    })

  /** Consecutive non-overlapping `w`-word passages ("w1 … w8"), the
    * last one possibly shorter. The chunk grid for passage-level
    * (exact-substring-style) dedup — all HOFs, narrow, one tokenize
    * per row.
    */
  def passages(text: Column, w: Int): Column =
    bindOnce(tokens(text), ts => {
      val n = size(ts)
      when(n === 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), ceil(n.cast("double") / lit(w.toDouble)).cast("int") - 1),
          i => concat_ws(" ", slice(ts, i * lit(w) + 1, lit(w)))))
    })

  /** Overlapping word chunks: `w`-word windows every `stride` words
    * (stride < w ⇒ overlap) — RAG/context-window chunking, where a
    * retrieval unit must not cut facts at hard boundaries. Non-empty
    * docs yield ceil((n-w)/stride)+1 chunks (≥ 1); the final chunk may
    * be short. Narrow HOFs, one tokenize per row.
    */
  def chunks(text: Column, w: Int, stride: Int): Column = {
    require(stride > 0 && w > 0, "chunk width and stride must be positive")
    bindOnce(tokens(text), ts => {
      val n = size(ts)
      when(n === 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0),
            greatest(ceil((n - lit(w)).cast("double") / lit(stride.toDouble)).cast("int"),
              lit(0))),
          i => concat_ws(" ", slice(ts, i * lit(stride) + 1, lit(w)))))
    })
  }

  /** Adjacent word bigrams ("w1 w2"); docs with < 2 tokens yield []. */
  def bigrams(text: Column): Column =
    bindOnce(tokens(text), ts => {
      val n = size(ts)
      when(n < 2, array().cast("array<string>"))
        .otherwise(transform(slice(ts, lit(1), n - 1),
          // transform's index is 0-based, element_at is 1-based: the
          // successor of sliced element i is original element i + 2
          (x, i) => concat_ws(" ", x, element_at(ts, i + lit(2)))))
    })

  /** Fraction of tokens that repeat an earlier token
    * (1 - distinct/total; 0.0 for empty docs).
    */
  def dupTokenFrac(text: Column): Column =
    bindOnce(tokens(text), ts =>
      when(size(ts) === 0, lit(0.0)).otherwise(
        lit(1.0) - size(array_distinct(ts)).cast("double") / size(ts)))

  /** Polynomial rolling-hash fingerprint of the full text: the
    * classic `h = h*31 + c`, reduced mod 1e9+7 each step so the
    * accumulator stays < 2^30 and the multiply can never overflow a
    * long (Spark 4 runs ANSI mode, where 64-bit wraparound is an
    * error, not a feature).
    */
  def fingerprint(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, ch) => pmod(acc * lit(31L) + ascii(ch), lit(1000000007L)))

  /** Deterministic 64-bit content hash (codegen'd, 8-byte key —
    * the scale-preferred dedup key).
    */
  def contentHash(text: Column): Column = xxhash64(text)

  /** Training-data text cleanup: redact URLs and email addresses,
    * collapse whitespace runs, trim. Pure codegen'd regexp chain —
    * a narrow per-row pass at any scale.
    */
  def cleanText(text: Column): Column = {
    val noUrl = regexp_replace(text, "https?://\\S+", " ")
    val noEmail = regexp_replace(noUrl,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", " ")
    trim(regexp_replace(noEmail, "\\s+", " "))
  }

  /** Unicode normalization cleanup (the ftfy-lite crawl pass):
    * NFC-compose (native `nfc_normalize` expression — decomposed
    * accents break byte-level dedup and tokenization), then map
    * exotic unicode spaces to ' ', delete zero-width-space/bidi-mark/
    * BOM, and delete C0/C1 controls except tab/newline/CR. ZWNJ
    * (U+200C) and ZWJ (U+200D) are deliberately KEPT: they are
    * orthographically required (mandatory inside Persian/Kurdish
    * words, Indic conjunct control, emoji sequences) — deleting them
    * corrupts content rather than normalizing it. The character-class
    * regexes use `\x{…}` escapes, which Java regex and RE2 (the
    * oracle engine) parse identically. NFC runs FIRST so the classes
    * see composed codepoints.
    */
  def unicodeClean(text: Column): Column = {
    val composed = call_function("nfc_normalize", text)
    val spaces = regexp_replace(composed,
      "[\\x{00A0}\\x{2000}-\\x{200A}\\x{202F}\\x{3000}]", " ")
    val noZw = regexp_replace(spaces,
      "[\\x{200B}\\x{200E}\\x{200F}\\x{FEFF}]", "")
    regexp_replace(noZw,
      "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}-\\x{009F}]", "")
  }
}
