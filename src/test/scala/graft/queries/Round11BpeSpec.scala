package graft.queries

import graft.{SparkSpecBase, Tables}
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-11 BPE codegen rewrite: [[graft.plans.BpeMergeAll]] must be
  * BIT-IDENTICAL to the interpreted HOF fold it replaced
  * ([[bpeMergeStepHof]]) — on the real corpus through the
  * full 5-rule trained chain, and on the constructed edge cases the
  * greedy merge-all semantics exist for.
  */
class Round11BpeSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The pre-round-11 interpreted fold, the executable specification
    * the codegen expression must stay bit-identical to.
    */
  private def bpeMergeStepHof(sym: Column, a: Column, b: Column): Column = {
    val toks = filter(split(sym, " "), t => t =!= "")
    val folded = aggregate(toks, lit(""), (acc, x) =>
      when(acc === "", x)
        .when(x === b && (acc === a || acc.endsWith(concat(lit(" "), a))),
          concat(acc.substr(lit(1), length(acc) - length(a)), a, b))
        .otherwise(concat(acc, lit(" "), x)))
    concat(lit(" "), folded, lit(" "))
  }

  test("codegen merge == HOF fold through the trained 5-rule chain on the corpus") {
    val rules = LlmQueries.defs("bpe_merges")(spark, sf)
    val ruleRow = broadcast(rules.groupBy().pivot("step", 1 to 5)
      .agg(first($"a").as("a"), first($"b").as("b")))
    val toks = Tables.documents(spark, sf)
      .select($"doc_id", posexplode(TF.tokens($"text")).as(Seq("i", "tok")))
      .filter($"tok" =!= "")
      .crossJoin(ruleRow)
    val start = concat(lit(" "), regexp_replace($"tok", "(.)", "$1 "))
    val viaExpr = (1 to 5).foldLeft(start) { (sym, i) =>
      graft.plans.BpeFunctions.bpeMerge(sym, col(s"${i}_a"), col(s"${i}_b"))
    }
    val viaHof = (1 to 5).foldLeft(start) { (sym, i) =>
      bpeMergeStepHof(sym, col(s"${i}_a"), col(s"${i}_b"))
    }
    val diff = toks.select(viaExpr.as("e"), viaHof.as("h"))
      .filter($"e" =!= $"h" || $"e".isNull =!= $"h".isNull)
    assert(diff.isEmpty, s"divergent merges: ${diff.take(5).toSeq}")
  }

  test("codegen merge == HOF fold on constructed edge cases") {
    val cases = Seq(
      // resume-after-merge: dining with (i,n) -> [d,in,in,g]
      (" d i n i n g ", "i", "n"),
      // back-to-back identical pair, a == b
      (" a a a a ", "a", "a"),
      // merge at string start and end
      (" i n ", "i", "n"),
      // rule absent from the string
      (" x y z ", "i", "n"),
      // multi-char symbols from a later merge step
      (" th e th e ", "th", "e"),
      // last-symbol-only check: 'a' as a suffix of another symbol must not merge
      (" xa b ", "a", "b"),
      // empty / whitespace-only
      ("  ", "i", "n"),
      // single symbol
      (" q ", "q", "q"))
      .toDF("sym", "a", "b")
    val out = cases.select(
      graft.plans.BpeFunctions.bpeMerge($"sym", $"a", $"b").as("e"),
      bpeMergeStepHof($"sym", $"a", $"b").as("h"),
      $"sym")
      .collect()
    out.foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"'${r.getString(2)}': expr '${r.getString(0)}' vs hof '${r.getString(1)}'")
    }
    // spot-check the canonical semantics directly
    val dining = out.head.getString(0)
    assert(dining == " d in in g ", s"dining: '$dining'")
  }
}
