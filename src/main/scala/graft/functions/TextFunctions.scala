package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristic, fingerprinting.
  * All pure `Column` expressions (codegen-friendly, no UDFs) so they run
  * inside whole-stage codegen over 100 TB document scans.
  */
object TextFunctions {

  /** Whitespace tokens (empty input → empty array, not [""]). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** BPE-ish subword count: word-boundary pieces + digit runs + punctuation
    * singles, approximated by a regex count — a cheap stand-in for real BPE
    * when sizing training corpora. */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?<=[\\s\\p{Punct}])|(?=[\\s\\p{Punct}])"), t => length(trim(t)) > 0))

  /** All three token stats from ONE tokenizer run: struct(n_tokens,
    * distinct_ratio, stopword_ratio). One tokenizer run per stat re-runs
    * the trim+regex-split per stat (conditional subtrees escape Catalyst
    * subexpression elimination), and a stopword ratio over
    * `tokens(lower(text))` re-tokenizes the LOWERED text besides
    * — here the token array is let-bound as a one-element-transform lambda
    * argument (evaluated once, references are cheap reads) and the lowered
    * tokens come from `transform(toks, lower)` (lower commutes with
    * trim/whitespace-split, so this equals tokenizing the lowered text
    * without the second regex pass). */
  def tokenStats(text: Column, stopwords: Seq[String]): Column =
    element_at(transform(array(tokens(text)), tk => {
      val ltk = transform(tk, t => lower(t))
      struct(
        size(tk).as("n_tokens"),
        when(size(tk) > 0, size(array_distinct(tk)).cast("double") / size(tk))
          .otherwise(lit(0.0)).as("distinct_ratio"),
        when(size(tk) > 0,
          size(filter(ltk, t => t.isInCollection(stopwords))).cast("double") / size(tk))
          .otherwise(lit(0.0)).as("stopword_ratio"))
    }), 1)

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "\\p{Punct}", ""))).cast("double") / length(text))
      .otherwise(lit(0.0))

  /** Composite quality score in [0,1]: long-enough, diverse, not
    * punctuation-soup — the length/punct/stopword-ratio family of heuristics
    * used to filter web corpora (C4/Gopher-style rules, public literature).
    *
    * The token arrays are LET-BOUND via a one-element transform() so each
    * tokenization runs once per row: composing the token count, distinct
    * ratio and stopword ratio as separate Columns repeated the
    * split() subtree ~7× (conditional subtrees escape subexpression
    * elimination — same pathology as the old langId). Lambda-bound `tk`
    * references are field reads on a materialized struct: free. */
  def qualityScore(text: Column, stopwords: Seq[String] = EnStopwords): Column = {
    val punctPenalty = lit(1.0) - least(punctRatio(text) * 4.0, lit(1.0))
    val bound = array(struct(tokens(text).as("t"), tokens(lower(text)).as("tl")))
    element_at(transform(bound, tk => {
      val toks = tk("t")
      val lowToks = tk("tl")
      val lenScore = least(size(toks).cast("double") / 20.0, lit(1.0))
      val diversity = when(size(toks) > 0,
        size(array_distinct(toks)).cast("double") / size(toks)).otherwise(lit(0.0))
      val stopRatio = when(size(lowToks) > 0,
        size(filter(lowToks, t => t.isInCollection(stopwords))).cast("double") / size(lowToks))
        .otherwise(lit(0.0))
      val stopScore = least(stopRatio * 5.0, lit(1.0))
      round((lenScore + diversity + punctPenalty + stopScore) / 4.0, 6)
    }), 1)
  }

  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that", "for", "on", "with", "as")

  private val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "you", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ich", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "je", "que", "une"),
    "es" -> Seq("el", "la", "los", "es", "y", "que", "una", "por"))

  /** N-gram/stopword-marker language-ID heuristic: argmax over per-language
    * marker-token hit counts; "und" (unknown) when nothing matches. Ties
    * break by fixed language order (deterministic).
    *
    * ONE aggregate pass over ONE tokenization: a struct of per-language
    * counters folds across the tokens and the argmax happens in the finish
    * lambda, so the whole thing is a single expression evaluated once per
    * row. The per-language `size(filter(toks, ...))` form evaluated the
    * tokenizer + a full array scan per language (conditional subtrees are
    * not subexpression-eliminated) — measured 4.0s → 0.6s warm for the
    * lang-ID query at bench scale. */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val langs = LangMarkers.toSeq.sortBy(_._1)
    val zero = struct(langs.map { case (l, _) => lit(0).as(l) }: _*)
    aggregate(
      toks,
      zero,
      (acc, t) => struct(langs.map { case (l, markers) =>
        (acc(l) + when(t.isInCollection(markers), 1).otherwise(0)).as(l)
      }: _*),
      acc => {
        val scored = langs.map { case (l, _) => struct(acc(l).as("score"), lit(l).as("lang")) }
        val best = scored.reduce((a, b) => when(b("score") > a("score"), b).otherwise(a))
        when(best("score") > 0, best("lang")).otherwise(lit("und"))
      })
  }

  /** Canonical content fingerprint: md5 of lowercased, whitespace-collapsed
    * text — exact-dup detection robust to formatting. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))
}
