package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a large-scale training-data pipeline:
  * token counting, language ID, fingerprinting.
  *
  * All pure Column compositions (whole-stage-codegen friendly). Each scales
  * linearly per row with no shuffle — the only shuffles appear when callers
  * aggregate the results.
  */
object TextAnalysis {

  /** Whitespace token count. `split` on \s+ after trim; empty → 0.
    * The count runs in the [[WsTokenCount]] kernel (one byte scan) —
    * value-identical to `size(split(trim(text), "\\s+"))`, fuzz-pinned in
    * StopwordCountSpec and oracled via text_tokens/text_quality. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(WsTokenCount(text))

  /** Mean word length over whitespace tokens (0.0 for empty).
    * `chars` was `length(regexp_replace(trim(text), "\\s+", ""))` — the
    * [[NonWsCharCount]] kernel is the same count (trim only drops spaces,
    * which `\s` removes anyway) without the regex rewrite allocation. */
  def avgWordLen(text: Column): Column = {
    val chars = NonWsCharCount(text)
    val words = tokenCount(text)
    when(words === 0, lit(0.0)).otherwise(chars.cast("double") / words.cast("double"))
  }

  /** Occurrences of a literal stopword as a standalone token.
    *
    * Was `size(split(concat(' ', text, ' '), "\\s" + quote(word) +
    * "\\s")) - 1` — a full regex split + parts-array allocation per row
    * per marker (lang_id_heuristic sums 15 of these). [[StopwordCount]]
    * is the same count (pads virtually, emulates Pattern.split's
    * non-overlapping separator consumption exactly) as one byte scan;
    * value identity fuzz-pinned in StopwordCountSpec and machine-checked
    * by the DuckDB oracles of text_quality / lang_id_heuristic. */
  def stopwordHits(text: Column, word: String): Column =
    StopwordCount(text, word)

  /** n-gram-heuristic language ID over a tiny built-in profile: scores the
    * text against per-language marker tokens and returns the argmax label.
    * (Real model out of scope offline; the *shape* — per-language score
    * columns + greatest() argmax — is what a 100-TB pipeline runs.) */
  def langIdHeuristic(text: Column): Column = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of"),
      "es" -> Seq("el", "la", "que"),
      "de" -> Seq("der", "und", "die"),
      "fr" -> Seq("le", "la", "et"),
      "zh" -> Seq("的", "是", "在")
    )
    val padded = concat(lit(" "), lower(text), lit(" "))
    val scored = profiles.map { case (lang, markers) =>
      val s = markers.map(m => stopwordHits(padded, m)).reduce(_ + _)
      struct(s.cast("long").as("score"), lit(lang).as("lang"))
    }
    // argmax by (score, lang) — deterministic tie-break on label
    greatest(scored: _*).getField("lang")
  }

  /** Document fingerprint: 64-bit rolling-style hash of the normalized text.
    * xxhash64 over lowercase, whitespace-collapsed content — stable across
    * partitionings, suitable as a shard-able near-exact-dup key. */
  def fingerprint(text: Column): Column =
    xxhash64(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Word k-shingles as an array column (for MinHash / Jaccard).
    *
    * Tokenization stays Spark-native (`split(lower(trim(text)), "\\s+")`
    * — codegen'd, semantics pinned by the DuckDB twin oracles); the
    * window-join runs in the native [[ShingleJoin]] kernel. The previous
    * form (zip_with over k-1 shifted copies + null filter) was
    * interpreted per element AND duplicated wholesale by the optimizer
    * into inferred `size(...) > 0` filters and both sides of the dedup
    * self-joins — the r06 before-plans show it 9+ times in one plan;
    * value-identical by construction (windows extending past the end
    * drop, exactly like the null-strict concat chain). */
  def shingles(text: Column, k: Int): Column =
    ShingleJoin(split(lower(trim(text)), "\\s+"), k)
}
