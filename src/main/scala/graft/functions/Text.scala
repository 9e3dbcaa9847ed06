package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column library for large-scale training-data pipelines.
  *
  * Every function is a pure `Column` expression over built-in (codegen'd)
  * string functions — no UDFs — so quality scoring and token counting run
  * inside whole-stage codegen and scale linearly with the scan. Designed to
  * run over the `documents` table (`doc_id, text, lang, source, n_chars`).
  */
object Text {

  /** Whitespace token count. Empty/blank text counts 0 tokens. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Rough BPE-ish subword count: word chars split into runs of ≤4 chars,
    * plus standalone punctuation — a cheap, deterministic stand-in for a
    * tokenizer when budgeting LLM token counts at corpus scale.
    */
  def subwordCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long") +
        floor(length(regexp_replace(text, "[^A-Za-z0-9]", "")) / lit(4)).cast("long"))

  /** GPT-2-style pre-tokenization (Radford et al. 2019's regex, reduced
    * to its RE2-safe subset — no lookahead — so a SQL oracle reproduces
    * the split): contraction suffixes (`'s`, `'t`, …), space-prefixed
    * letter runs, digit runs, and punctuation/symbol runs. Returns the
    * array of pre-tokens; `size(preTokenize(c))` is the pre-token count a
    * byte-level BPE would start from. Scan-side `regexp_extract_all`,
    * codegen-hosted, zero shuffle.
    */
  def preTokenize(text: Column): Column =
    regexp_extract_all(text,
      lit("'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"), lit(0))

  /** Count of characters matching a regex character class. */
  def charClassCount(text: Column, charClassRe: String): Column =
    length(text) - length(regexp_replace(text, charClassRe, ""))

  def punctCount(text: Column): Column = charClassCount(text, "[\\.,;:!\\?]")
  def digitCount(text: Column): Column = charClassCount(text, "[0-9]")
  def upperCount(text: Column): Column = charClassCount(text, "[A-Z]")

  /** Quality signals à la C4/Gopher filters: length, mean word length,
    * punctuation/digit/uppercase ratios. Returned as individual columns so
    * thresholds stay tunable downstream.
    */
  def meanWordLength(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "\\s+", "")).cast("double") / n)
  }

  def ratio(part: Column, whole: Column): Column =
    when(whole === 0, lit(0.0)).otherwise(part.cast("double") / whole.cast("double"))

  /** Composite [0,1] quality score: penalizes very short docs, extreme
    * punctuation/digit density, and shouting. Heuristic — the point is the
    * shape (pure expression, no shuffle), not the exact weights.
    */
  def qualityScore(text: Column): Column = {
    val n = length(text).cast("double")
    val lenScore = least(n / lit(500.0), lit(1.0))
    val punctPenalty = least(ratio(punctCount(text), length(text)) * 5.0, lit(1.0))
    val digitPenalty = least(ratio(digitCount(text), length(text)) * 3.0, lit(1.0))
    val upperPenalty = least(ratio(upperCount(text), length(text)) * 2.0, lit(1.0))
    greatest(lenScore - (punctPenalty + digitPenalty + upperPenalty) / 3.0, lit(0.0))
  }

  /** Word n-gram shingles (lowercased) — feeds MinHash / Jaccard dedup.
    * Native expression; see [[graft.functions.expressions.Shingles]].
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.expressions.TextHashExpressions.shingles(text, n)

  /** Canonical Unicode normalization (NFC default) — byte-canonicalize
    * mixed composed/decomposed crawl text BEFORE fingerprinting or exact
    * dedup, or two spellings of one document dodge the hash. Native
    * expression with an ASCII fast path;
    * see [[graft.functions.expressions.NormalizeUnicode]].
    */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    graft.functions.expressions.UnicodeExpressions.normalizeUnicode(text, form)

  /** Latin-diacritic folding (`café` → `cafe`, composed or decomposed
    * input alike) — the match-key normalizer for cross-corpus joins.
    * Native expression; see [[graft.functions.expressions.FoldAccents]].
    */
  def foldAccents(text: Column): Column =
    graft.functions.expressions.UnicodeExpressions.foldAccents(text)

  /** Deterministic 64-bit document fingerprint (xxHash64 of the
    * whitespace-normalized, lowercased text) — rolling-hash-style identity
    * for exact-ish dedup that ignores spacing differences. Native
    * expression; value-identical to
    * `xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))`.
    */
  def fingerprint(text: Column): Column =
    graft.functions.expressions.TextHashExpressions.normFingerprint(text)

  /** Language-ID heuristic: score = stopword hits per token for a handful
    * of high-frequency function words per language; argmax wins. N-gram-free
    * but shaped like real fastText-style LID: cheap features + argmax, all
    * inside codegen.
    */
  // Ordered: ties resolve to the earliest language — the DuckDB-oracle CASE
  // in SparkEntry encodes the same tie-break order.
  private[graft] val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "pas", "pour", "que"),
    "es" -> Seq("el", "la", "que", "de", "los", "es", "por", "con", "para"))

  /** Native expression ([[graft.functions.expressions.LangId]]): a
    * `Column`-fold formulation duplicates its accumulator exponentially
    * (2^langs tokenizer copies) — measured 35 s vs <0.5 s on a 5k-doc
    * projection.
    */
  def languageId(text: Column): Column =
    graft.functions.expressions.TextHashExpressions.langId(text, stopwords)

  // ---- PII redaction -------------------------------------------------------

  /** Conservative pattern set for corpus scrubbing. Codegen'd
    * `regexp_replace` — one scan-side pass, no shuffle, no UDF. RE2-safe
    * (no lookaround) so the same patterns run in DuckDB/Go engines. Order
    * matters: emails first (their digit runs must not be clipped), cards
    * before phones (a 13-16 digit run would otherwise lose 10 digits to
    * the phone pattern). The phone pattern deliberately has no leading
    * `\b` — there is no word boundary before `(` or `+`.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d(?:[ -]?\\d){12,15}\\b" -> "<CARD>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "(?:\\+?1[ .-]?)?(?:\\(\\d{3}\\)|\\d{3})[ .-]?\\d{3}[ .-]?\\d{4}\\b" -> "<PHONE>"
  )

  /** Replace each PII pattern with its placeholder token. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (re, tok)) =>
      regexp_replace(c, re, tok)
    }

  /** Luhn checksum over a digits-only string — TRUE iff the digit count
    * is a plausible card length (13–19) and the mod-10 checksum holds.
    * The false-positive killer for the card regex: a random 16-digit run
    * passes Luhn only 10 % of the time, so checksum-gating the pattern
    * turns "redact every long number" into "redact actual card numbers".
    * Pure expression work (one aggregate HOF over ≤ 19 positions of the
    * reversed string) — and the same algebra replays in SQL, so the
    * validation is oracle-checkable.
    */
  def luhnValid(digits: Column): Column = {
    val r = reverse(digits)
    val checksum = aggregate(
      sequence(lit(1), length(digits)), lit(0),
      (acc, i) => {
        val dg = r.substr(i, lit(1)).cast("int")
        acc + when(i % 2 === 1, dg)
          .otherwise(when(dg * 2 > 9, dg * 2 - 9).otherwise(dg * 2))
      })
    length(digits).between(13, 19) && checksum % 10 === 0
  }

  /** HTML boilerplate strip — the first pass of a web-crawl → training-text
    * pipeline: drop `<script>`/`<style>` blocks wholesale (their CONTENT is
    * code, not prose), flatten the remaining tags to spaces, unescape the
    * five standard entities, collapse whitespace. All codegen'd
    * `regexp_replace`/`replace` scan-side work — no UDF, no shuffle. The
    * patterns are RE2-safe (no backrefs/lookaround) so the DuckDB oracle
    * runs the identical expressions ('g' flag; (?is) inline flags work in
    * both engines).
    */
  /** Train a byte-pair-encoding merge table over the corpus word
    * distribution. The corpus is touched by exactly ONE aggregate
    * (word → count — the same map-side-combining shape as q99's
    * vocabulary build, capped at `maxVocabRows` most-frequent words); the
    * merge loop then runs driver-side over that bounded frequency table,
    * which is the standard practice — BPE statistics live in the word
    * distribution, not raw text, so at 100 TB training cost is one
    * aggregate + a vocabulary-sized loop, never numMerges corpus scans.
    *
    * Deterministic: ties in pair frequency break lexicographically, and
    * the vocabulary cut orders by (count desc, word). Words are whitespace
    * tokens of `lower(trim(text))`; initial symbols are code points.
    * Returns merges in training order, ready for
    * [[graft.functions.expressions.BpeSegment]].
    */
  def bpeMerges(df: org.apache.spark.sql.DataFrame, textCol: String,
                numMerges: Int, maxVocabRows: Int = 100000): Seq[(String, String)] = {
    require(numMerges >= 1 && maxVocabRows >= 1)
    val words = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(maxVocabRows)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var vocab: Array[(Array[String], Long)] = words.map { case (w, c) =>
      val syms = new scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i); val n = Character.charCount(cp)
        syms += w.substring(i, i + n); i += n
      }
      (syms.toArray, c)
    }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          counts.update(p, counts.getOrElse(p, 0L) + c)
          j += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // max count; ties break on the lexicographically smallest pair
        val best = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        merges += best
        vocab = vocab.map { case (syms, c) =>
          val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
              out += best._1 + best._2; j += 2
            } else { out += syms(j); j += 1 }
          }
          (out.toArray, c)
        }
        m += 1
      }
    }
    merges.toSeq
  }

  /** Segment text into BPE subwords with a trained merge table — a pure
    * scan-side expression ([[graft.functions.expressions.BpeSegment]]).
    */
  def bpeSegment(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.expressions.BpeExpressions.bpeSegment(text, merges)

  def stripHtml(html: Column): Column = {
    val noBlocks = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noBlocks, "(?s)<[^>]+>", " ")
    // &amp; LAST or "&amp;lt;" would double-unescape
    val unescaped = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }
}
