package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface
  * (SURVEY.md §2.11): tokenization, quality signals, language-ID
  * heuristic, fingerprinting. Everything is built from
  * `org.apache.spark.sql.functions` so it stays inside whole-stage
  * codegen — no Scala UDFs in the hot path.
  */
object TextFunctions {

  /** Lower-cased, punctuation-stripped, whitespace-collapsed text. */
  /** One fused byte-pass ([[graft.plans.NormText]]) replacing the
    * two-regex chain `trim(regexp_replace(regexp_replace(lower(c),
    * '[^a-z0-9\s]', ' '), '\s+', ' '))` — provably equivalent (see
    * the expression's scaladoc); every oracle keeps the regex
    * formulation, so hash compares re-prove it corpus-wide. The
    * defensive register mirrors BpeFunctions' active-session pattern
    * for paths that bypass GraftSparkExtensions.
    *
    * Session contract: the Column is built against
    * `SparkSession.active` — a session must be active at CONSTRUCTION
    * time, and the plan must be analyzed on a session where
    * `norm_text` resolves (the construction-time session, or any
    * session built with [[graft.plans.GraftSparkExtensions]], which
    * registers it). Constructing with no active session throws, and
    * executing on a different extension-less session fails function
    * resolution — unlike the old pure-regex formulation, which was
    * session-free. Every graft entry point (SparkEntry/Bench/Verify,
    * the ScaleSweep generator, perfbench, the test harness) satisfies
    * both conditions.
    */
  def normText(c: Column): Column = {
    graft.plans.TextRunFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    graft.plans.TextRunFunctions.normText(c)
  }

  /** Whitespace tokens of already-normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  def nTokens(c: Column): Column =
    when(length(normText(c)) === 0, lit(0)).otherwise(size(tokens(c)))

  /** BPE-ish subword count: letter runs, single digits, single
    * punctuation marks — a cheap proxy for a GPT-2-style pre-tokenizer.
    * Same regex evaluates identically under Java regex and RE2.
    */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(bpeTokenPattern), lit(0)))

  /** Ratio of characters matching `pattern` (Java/RE2-common syntax). */
  def charRatio(c: Column, pattern: String): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      (length(c) - length(regexp_replace(c, pattern, ""))).cast("double") / length(c))

  def punctRatio(c: Column): Column = charRatio(c, "[^A-Za-z0-9\\s]")

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Fraction of tokens that are stopwords. The count is a
    * `regexp_count` over the normalized text rather than a
    * higher-order `filter` over the token array: array lambdas run
    * INTERPRETED with per-element boxing (outside whole-stage
    * codegen), and this expression sits in the text_quality /
    * quality_gate / dedup_keep_best hot paths. normText emits only
    * `[a-z0-9 ]`, so `\b`-delimited alternation matches exactly the
    * whole-token stopword occurrences the lambda counted — identical
    * integers, codegen'd.
    */
  def stopwordRatio(c: Column): Column = {
    val toks = tokens(c)
    val stopCount =
      regexp_count(normText(c), lit(s"\\b(${stopwords.mkString("|")})\\b"))
    when(size(toks) === 0, lit(0.0))
      .otherwise(stopCount.cast("double") / size(toks))
  }

  /** Heuristic quality score in [0,1]: length band + stopword presence
    * − punctuation noise. Deterministic, engine-agnostic arithmetic so
    * a SQL oracle can replicate it (rounding via Q.rnd — built-in
    * `round` resolves half-way cases differently across engines).
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / 500.0, lit(1.0))
    val stopScore = least(stopwordRatio(c) * 5.0, lit(1.0))
    val punctPenalty = least(punctRatio(c) * 2.0, lit(1.0))
    graft.queries.Q.rnd(
      greatest(lit(0.0), lenScore * 0.5 + stopScore * 0.5 - punctPenalty * 0.3), 4)
  }

  /** Marker-token language-ID heuristic. With real data this would be
    * an n-gram profile model; the shape (score per language, argmax) is
    * the same. Deterministic and SQL-replicable.
    *
    * Implementation: `normText` yields strictly space-separated
    * `[a-z0-9]` words, so `\bw\b` on it is EXACTLY `contains(" w ")`
    * on the space-padded norm — 12 codegen'd substring probes instead
    * of 12 java.util.regex passes over the full text (the 10× long-doc
    * sweep measured the rlike formulation at ~120 s for one consumer;
    * the oracle keeps the regexp_matches formulation, so the
    * equivalence is re-proven by every hash compare).
    */
  def langIdHeuristic(c: Column): Column = {
    val t = concat(lit(" "), normText(c), lit(" "))
    def has(w: String): Column = t.contains(s" $w ")
    when(has("der") || has("und") || has("die"), lit("de"))
      .when(has("le") || has("la") || has("et"), lit("fr"))
      .when(has("el") || has("los") || has("una"), lit("es"))
      .when(has("the") || has("and") || has("is"), lit("en"))
      .otherwise(lit("unknown"))
  }

  /** Order-insensitive document fingerprint: md5 over the sorted token
    * multiset. Stable across engines (md5 is bit-exact everywhere).
    */
  def fingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(tokens(c))))
}
