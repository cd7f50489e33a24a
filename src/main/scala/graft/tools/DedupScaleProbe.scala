package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale diagnostic for the candidate→verify dedup pipeline: measures,
  * on a given corpus, the quantities that decide whether the exact
  * pair-verification joins (ngram_jaccard / minhash_containment) are
  * feasible — BEFORE running them. The round-14 100× sweep exhausted
  * 40+ GB of local disk inside the Σ_pairs |shingles| expansion even
  * after the round-13 shingle-id encoding shrank the per-row payload
  * to 24 bytes; this probe attributes that mass to its drivers
  * (candidate-pair count, per-doc candidate degree distribution,
  * star-vs-pairwise split, expansion row count) so the fix targets
  * the real quadratic term instead of the payload again.
  *
  * `sbt "runMain graft.tools.DedupScaleProbe [corpusDir]"` — prints
  * one JSON line; read-only (builds the memoized chain in-session,
  * releases it at exit). [[probeJson]] is also embedded into every
  * full-sweep Bench record, scale-corpus runs included (VERDICT r14 item 4:
  * probe-to-guard promotion — each 10×/100× record carries the
  * pair-mass attribution that found the round-14 quadratic term).
  */
object DedupScaleProbe {

  /** The probe body as a JSON object string. Every aggregate is
    * coalesced: on a corpus with zero candidate pairs (or zero
    * shingled docs) max/percentile/sum aggregate to NULL, and the
    * probe must report zeros, not die on the getLong of a null cell
    * (ADVICE r14) — an empty-corpus record is exactly when the
    * numbers matter as evidence.
    */
  def probeJson(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val nDocs = graft.Tables.documents(spark, dir).count()
    val dsh = graft.queries.LlmQueries.probeShingleIds(spark, dir)
    val shingleRows = dsh.count()
    val sizes = dsh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val cand = graft.queries.LlmQueries.probePairTable(spark, dir)
    val nPairs = cand.count()
    // per-doc out-degree (doc_a side) — the distribution the
    // verification cap must bound
    val deg = cand.groupBy($"doc_a").agg(count(lit(1)).as("d"))
    val degStats = deg.agg(
      coalesce(max($"d"), lit(0L)).as("max"),
      coalesce(expr("percentile(d, 0.5)"), lit(0.0)).as("p50"),
      coalesce(expr("percentile(d, 0.99)"), lit(0.0)).as("p99"),
      count(lit(1)).as("n")).head()
    // the actual verification intermediate: Σ over pairs of the
    // a-side shingle-set size (the first join's output row count);
    // the b-side co-group join is bounded by the same order. Measured
    // on the UNBUDGETED pair table — the quantity VerifyDegreeCap
    // exists to bound, so the record shows the mass that was avoided.
    val expansion = cand
      .join(sizes.select($"doc_id".as("doc_a"), $"n_sh"), Seq("doc_a"))
      .agg(coalesce(sum($"n_sh"), lit(0L))).head().getLong(0)
    // band-bucket cap engagement at this corpus size (the OTHER guard
    // in the chain): buckets over LshBucketCap degrade to star edges
    val bandCounts = graft.queries.LlmQueries.bandTable(spark, dir)
      .groupBy($"band", $"key").count()
    val cappedBuckets = bandCounts
      .filter($"count" > graft.queries.LlmQueries.LshBucketCap).count()
    val maxBucket = bandCounts.agg(coalesce(max($"count"), lit(0L)))
      .head().getLong(0)
    s""""n_docs":$nDocs,"shingle_rows":$shingleRows,""" +
      s""""candidate_pairs":$nPairs,"deg_max":${degStats.getLong(0)},""" +
      s""""deg_p50":${degStats.getDouble(1)},"deg_p99":${degStats.getDouble(2)},""" +
      s""""docs_with_candidates":${degStats.getLong(3)},""" +
      s""""expansion_rows":$expansion,"verify_degree_cap":${graft.queries.LlmQueries.VerifyDegreeCap},""" +
      s""""capped_buckets":$cappedBuckets,"max_band_bucket":$maxBucket"""
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val body = probeJson(spark, dir)
    graft.queries.LlmQueries.clearCaches(Some(spark))
    println(s"""{"metric":"dedup_scale_probe","dir":"$dir",$body}""")
    spark.stop()
  }
}
