package graft

import org.apache.spark.sql.SparkSession

/** Shared between [[Bench]] and perfbench's query sweep: the
  * memoized-family run order, its cache-release schedule, and the
  * band-bucket degeneracy guard. One definition — a new memoized table
  * registered here reaches both, instead of a forgotten copy silently
  * reinstating the storage-pressure distortion the release lifecycle
  * exists to prevent. Scale sweeps are Bench runs over a corpus
  * [[graft.tools.ScaleSweep]] generates.
  */
object BenchShared {

  /** Queries that share the memoized/persisted table family
    * (LlmQueries.memoized), in producers-before-consumers order: run
    * them LAST (cache-free queries first against an empty storage
    * pool) so each table's build cost lands on its natural owner.
    * knn_pq joined when its codebook became a persisted model
    * artifact (pq_codebook).
    */
  val corpusFamily: Seq[String] = Seq(
    "minhash_dedup", "minhash_b_bit", "minhash_est", "simhash",
    "simhash_neardup", "simhash_recall_eval",
    "ngram_jaccard", "minhash_containment", "cross_corpus_pairs",
    "pagerank_lite", "dup_ngram_frac", "fuzzy_match",
    "graph_degree_dist", "dedup_incremental", "contamination_check",
    "boilerplate_ngrams", "lsh_recall_eval", "jaccard_band_sweep",
    "ngram_novelty",
    "tfidf_topk", "rocchio_expand", "bm25_topk", "tokenizer_apply", "token_diversity",
    "heavy_hitters", "cms_heavy_hitters", "rrf_fusion",
    "collocation_pmi", "vocab_coverage",
    "vocab_growth", "zipf_profile", "maxsim_rerank",
    // term_rows consumers run before unigram_surprise (its release
    // point); candidate_pairs consumers before dedup_clusters (same)
    "bpe_merges", "bpe_apply", "bpe_decode", "taxonomy_classify", "chi2_terms",
    "good_turing", "js_divergence", "unigram_surprise",
    "triangle_count", "kcore_peel", "bfs_hops", "jaccard_link_pred",
    // candidate_pairs consumers — must run before dedup_clusters (its
    // release point). fs_linkage and graph_modularity joined in round
    // 12: both consumed the chain from the ALPHABETICAL phase before,
    // which left the corpus-scale pair relation resident across ~100
    // unrelated queries (the h–j wall-clock wall the 354-query bench
    // surfaced — storage pressure, not per-query regressions).
    "fs_linkage", "graph_modularity", "blocking_quality",
    "dedup_clusters", "dedup_stats", "golden_record", "dedup_keep_best",
    "curate_corpus",
    "semdedup_clusters",
    // winnow_fps consumers: fingerprint stats first (cheap reader),
    // then the cross-doc match join, then the span cut (release point)
    "winnow_fingerprint", "winnow_matches", "substring_dedup_cut",
    "knn_pq", "knn_ivfpq", "knn_rerank", "kmeans_assign",
    "label_propagation", "kmeans_iterate")

  /** Cache lifecycle: each memoized table is released right after its
    * LAST consumer in [[corpusFamily]] order, so peak storage is one
    * or two live tables, not all of them accreted to end-of-run. A
    * released table a later query still wants is simply rebuilt.
    */
  val releaseAfter: Map[String, Seq[String]] = Map(
    // corpus-scale pair relation with a single consumer (eb_cells, by
    // contrast, is |sources|-bounded and stays cached)
    "assoc_rules" -> Seq("basket_items"),
    "minhash_est" -> Seq("minhash_sigs"),
    // shingle_ids feeds exactly the two exact-verification joins
    "minhash_containment" -> Seq("shingle_ids"),
    "simhash_recall_eval" -> Seq("simhash"),
    "dup_ngram_frac" -> Seq("shingles"),
    "dedup_incremental" -> Seq("bands"),
    "ngram_novelty" -> Seq("shingles_distinct"),
    "bpe_decode" -> Seq("bpe_words", "bpe_toks"),
    "unigram_surprise" -> Seq("term_rows"),
    "dedup_clusters" -> Seq("candidate_pairs"),
    "knn_rerank" -> Seq("pq_codebook"),
    "kmeans_iterate" -> Seq("ivf_cells"),
    "substring_dedup_cut" -> Seq("winnow_fps"))

  private def maxBucket(grouped: org.apache.spark.sql.DataFrame): Long =
    grouped.agg(org.apache.spark.sql.functions.max("count")).head() match {
      case r if r.isNullAt(0) => 0L // empty table
      case r => r.getLong(0)
    }

  /** Band-bucket health guard: the documented LSH/SimHash hazard is a
    * degenerate band key whose bucket holds a large corpus fraction
    * (Σ bucket² blows up the candidate self-join). Measures the
    * largest bucket while the tables are still cached, so the hazard
    * is caught at bench scale, not at 100×.
    */
  def recordBucketStats(
      spark: SparkSession, sfDir: String, tag: String,
      into: scala.collection.mutable.Map[String, Long]): Unit = tag match {
    case "bands" =>
      val b = graft.queries.LlmQueries.bandTable(spark, sfDir)
      val counts = b.groupBy("band", "key").count()
      into("lsh_max_band_bucket") = maxBucket(counts)
      // how many band keys tripped the candidatePairs mega-bucket
      // guard this run (0 = every bucket was pairwise-verified)
      into("lsh_capped_buckets") = counts
        .filter(org.apache.spark.sql.functions.col("count") >
          graft.queries.LlmQueries.LshBucketCap).count()
    case "simhash" =>
      val bands = graft.queries.LlmQueries.simhashBands(spark, sfDir)
      into("simhash_max_band_bucket") = maxBucket(bands.groupBy("band", "key").count())
    case _ => ()
  }

  /** Release `tag`'s cache after optionally recording its bucket
    * guard. Guard-rail work must never abort a sweep: probe failures
    * log and move on (NonFatal only — a VM error must still kill the
    * run), and the release runs in the finally so a failed probe
    * cannot leave the table cached.
    */
  def guardAndRelease(
      spark: SparkSession, sfDir: String, tag: String,
      into: scala.collection.mutable.Map[String, Long],
      label: String): Unit = {
    try recordBucketStats(spark, sfDir, tag, into)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[$label] bucket guard for '$tag' failed: ${e.getMessage}")
    } finally graft.queries.LlmQueries.release(spark, sfDir, tag)
  }

  /** One sweep step: measure `name`, log its progress line, then
    * release the caches [[releaseAfter]] schedules after it. The live
    * line matters: a multi-hour scale sweep that dies mid-run (OOM,
    * disk, wall-clock) must still leave per-query evidence in the
    * console log, not lose everything to the end-of-run record.
    */
  def sweepStep(
      meter: QueryMeter, name: String,
      build: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      bucketStats: scala.collection.mutable.Map[String, Long]): QueryReading = {
    val r = meter.measure(name, build)
    val label = meter.label
    System.err.println(f"[$label] $name%-24s wall ${r.wallSec}%9.2f s  " +
      f"user ${r.procUserSec}%9.1f  sys ${r.procSysSec}%8.1f  gc ${r.gcSec}%7.1f")
    if (r.cacheBuilds.nonEmpty)
      System.err.println(s"[$label] $name paid cache builds: ${r.cacheBuilds.mkString(", ")}")
    releaseAfter.getOrElse(name, Nil).foreach(tag =>
      guardAndRelease(meter.spark, meter.sfDir, tag, bucketStats, label))
    r
  }

  /** A whole sweep: [[sweepStep]] per query in order, then the guard
    * and release of every table still memoized. A subset sweep
    * (`SPARK_GRAFT_ONLY`) can build a table without running the query
    * [[releaseAfter]] releases it after; its bucket guard must still
    * reach the record, and the table must not stay cached.
    */
  def sweep(
      meter: QueryMeter,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      bucketStats: scala.collection.mutable.Map[String, Long]): Seq[QueryReading] = {
    val readings = queries.map { case (name, build) => sweepStep(meter, name, build, bucketStats) }
    graft.queries.LlmQueries.memoizedTags(meter.spark).toSeq.sorted.foreach(tag =>
      guardAndRelease(meter.spark, meter.sfDir, tag, bucketStats, meter.label))
    readings
  }

  /** The dedup pair-mass probe block (`{...}`) for a sweep record, or
    * None when SPARK_GRAFT_NO_PROBE is set or the probe fails. Probe
    * to guard (VERDICT r14 item 4): every full-sweep record carries the
    * candidate-pair count, degree p50/p99/max, unbudgeted expansion
    * rows and capped-bucket count that found the round-14 quadratic
    * term, so a future super-linear drift shows up IN the record it
    * distorts. Runs outside every timed region; it rebuilds the
    * shingle/band/pair chain once and releases it after. Like the
    * bucket guard it must never abort a sweep (NonFatal only).
    */
  def probeOrSkip(spark: SparkSession, dir: String, label: String): Option[String] =
    if (sys.env.contains("SPARK_GRAFT_NO_PROBE")) None
    else try {
      val p = "{" + graft.tools.DedupScaleProbe.probeJson(spark, dir) + "}"
      graft.queries.LlmQueries.clearCaches(Some(spark))
      System.err.println(s"[$label] dedup scale probe: $p")
      Some(p)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[$label] dedup scale probe failed: ${e.getMessage}")
        None
    }
}

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR
  * through the shared [[QueryMeter]] and prints one JSON line (driver
  * contract → BENCH_r{N}.json). AQE stays on (default) so skewed
  * shuffles re-plan as they would on a cluster.
  */
object Bench {

  /** First-pass wall time (s) at or above which a query is re-run once
    * after the sweep (the GATE-2 recheck).
    */
  val RecheckSec = 10.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", BenchRecord.GateSfDir)
    // Subset runs (SPARK_GRAFT_ONLY) record no gate numbers, so the
    // startup mitigations below — which exist to keep the GATE wall
    // numbers clean — are skipped for them (ADVICE r13: the
    // unconditional sync blocked dev iterations on whatever unrelated
    // dirty pages the box had).
    val isSubsetRun = sys.env.contains("SPARK_GRAFT_ONLY")
    // Writeback mitigation, part 1 (VERDICT r13 item 2): the driver's
    // own t2-then-bench sequence bypasses scripts/verify_all.sh, so
    // its Verify dump survives to this point as page-cache residency
    // (and possibly dirty pages) that taxed disk-touching queries in
    // KERNEL time two driver rounds running (r12 sys/user 1.9+, r13
    // 1.86 — e.g. jaccard_band_sweep 569.6 s sys vs 33.4 s user).
    // Verify now drops its own dump from the cache at exit (the
    // complete fix for any dump location); deleting any verify dump
    // dirs still under OUR target/ is the belt-and-braces half —
    // unlinking a file frees its page-cache pages unconditionally,
    // dirty or clean. Only known scratch output is touched, never
    // inputs — and only dumps STALE by mtime (newest file in the tree
    // older than 30 min): a dump a just-finished Verify wrote is kept,
    // so a reordered Verify → Bench → DuckDB-compare sequence fails
    // safe (ADVICE r14) — its pages were already dropped by Verify's
    // own exit flush, so keeping it costs the mitigation nothing.
    // SPARK_GRAFT_KEEP_DUMPS=1 skips entirely (e.g. a compare is
    // known to still want an old dump).
    if (!isSubsetRun && !sys.env.contains("SPARK_GRAFT_KEEP_DUMPS")) {
      val target = java.nio.file.Paths.get("target")
      val staleCutoffMs = System.currentTimeMillis() - 30L * 60 * 1000
      val stale: Seq[java.nio.file.Path] =
        if (!java.nio.file.Files.isDirectory(target)) Nil
        else {
          val s = java.nio.file.Files.list(target)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala
              .filter(_.getFileName.toString.startsWith("verify_out"))
              .toSeq
          } finally s.close()
        }
      stale.foreach { dir =>
        try {
          val newestMs = {
            val walk = java.nio.file.Files.walk(dir)
            try {
              import scala.jdk.CollectionConverters._
              walk.iterator().asScala
                .map(p => java.nio.file.Files.getLastModifiedTime(p).toMillis)
                .foldLeft(0L)(math.max)
            } finally walk.close()
          }
          if (newestMs >= staleCutoffMs)
            System.err.println(s"[bench] keeping fresh verify dump (compare may want it): $dir")
          else {
            val walk = java.nio.file.Files.walk(dir)
            try {
              import scala.jdk.CollectionConverters._
              walk.sorted(java.util.Comparator.reverseOrder())
                .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
            } finally walk.close()
            System.err.println(s"[bench] deleted stale verify dump: $dir")
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] could not delete $dir: ${e.getMessage}")
        }
      }
    }
    // Writeback mitigation, part 2 (VERDICT r12 item 2): a blocking
    // `sync` forces any remaining dirty-page writeback to complete
    // BEFORE the timed region — outside every per-query wall number —
    // while leaving the (clean) page cache warm, unlike a drop_caches
    // which would cool the sf parquet reads. Recorded as sync_sec so
    // the record shows how much debt was flushed. SPARK_GRAFT_NO_SYNC=1
    // skips it (A/B runs); subset runs skip it too (ADVICE r13).
    val syncSec: Double =
      if (isSubsetRun || sys.env.contains("SPARK_GRAFT_NO_SYNC")) -1.0
      else {
        val t0 = System.nanoTime()
        try {
          val p = new ProcessBuilder("sync").start()
          p.waitFor()
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] sync failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
    val spark = GraftSession.local()
    // Warm the JVM (codegen, parquet reader paths) so the first
    // measured query doesn't absorb session startup.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).collect()
    // Run order isolates the memoized-table family: the dedup/corpus
    // queries share the persisted tables (shingles, signatures,
    // bands, terms, cluster labels — see LlmQueries.memoized), and in
    // a plain alphabetical sweep those cached blocks sat in storage
    // memory while UNRELATED queries ran, costing map_funcs/date_funcs/
    // dedup_anti_join a 3-7× GC-pressure regression in round 2. Now
    // every cache-free query runs first against an empty storage pool,
    // the family runs last (producers before consumers, so each
    // table's build cost lands on its natural owner), and the caches
    // are dropped as soon as the family finishes.
    val corpusFamily = BenchShared.corpusFamily
    // A renamed query silently vanishing from this list would shrink
    // bench coverage without an error — fail loudly on drift instead.
    val drifted = corpusFamily.filterNot(SparkEntry.queries.contains)
    require(drifted.isEmpty,
      s"corpusFamily names no longer in SparkEntry.queries: ${drifted.mkString(", ")}")
    // SPARK_GRAFT_ONLY=a,b,c — optional local-iteration subset filter;
    // the driver never sets it, so driver runs always sweep everything.
    // Names that match no query fail loudly: a typo must not yield an
    // empty run printing "value":0 (the same silent-shrinkage mode the
    // corpusFamily drift guard above exists for).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names no such queries: ${unknown.mkString(", ")}")
    }
    val ordered =
      (SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => corpusFamily.contains(q._1)) ++
        corpusFamily.flatMap(n => SparkEntry.queries.get(n).map(n -> _)))
        .filter(q => only.forall(_.contains(q._1)))
    // Cache lifecycle + band-bucket guard: BenchShared.sweep, whose
    // releaseAfter schedule perfbench's sweep follows too (storage
    // pressure taxes every later query with GC; on a loaded machine
    // that tax measured 3-6× on family members in round 4).
    val bucketStats = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val meter = new QueryMeter(spark, sfDir, "bench")
    val readings = BenchShared.sweep(meter, ordered, bucketStats)
    val results = readings.map(r => r.name -> r.wallSec)
    graft.queries.LlmQueries.clearCaches(Some(spark))
    // GATE-2 self-evidencing recheck (VERDICT r14 item 1): twice
    // running, the driver record carried >15 s readings that a clean
    // same-code side run exonerated as machine contention — but the
    // attribution lived in round narrative, not in the record. So any
    // query whose first-pass wall exceeded RecheckSec is re-run
    // ONCE after the sweep (same JVM, caches released) and the record
    // carries BOTH readings: a contention spike rechecks fast and the
    // record self-clears; a real regression rechecks slow and stays
    // flagged. Memoized-family members may pay cache rebuilds here —
    // recorded per query so a slow recheck is attributable to builds
    // rather than misread as a regression.
    val rechecks =
      if (sys.env.contains("SPARK_GRAFT_NO_RECHECK")) Nil
      else {
        val rs = results.filter(_._2 >= RecheckSec).map { case (name, first) =>
          val r = meter.measure(name, SparkEntry.queries(name))
          System.err.println(f"[bench] recheck ${name}%-24s first ${first}%8.2f s" +
            f" -> ${r.wallSec}%8.2f s" +
            (if (r.cacheBuilds.nonEmpty) s"  (paid builds: ${r.cacheBuilds.mkString(", ")})"
             else ""))
          r
        }
        // release anything the rechecks rebuilt
        graft.queries.LlmQueries.clearCaches(Some(spark))
        rs
      }
    // the dedup probe runs for gate sweeps and for snapshot-routed
    // scale runs (which are SPARK_GRAFT_ONLY subsets — exactly the
    // records that want the attribution); plain dev subset iterations
    // skip it
    val probeJson: Option[String] =
      if (only.isDefined && !sys.env.contains("SPARK_GRAFT_SNAPSHOT")) None
      else BenchShared.probeOrSkip(spark, sfDir, "bench")
    bucketStats.foreach { case (k, v) =>
      System.err.println(s"[bench] bucket guard: $k = $v")
    }
    // Locale.ROOT: the default-locale f-interpolator would render
    // comma decimal separators (invalid JSON) on e.g. de_DE JVMs
    def secMapJson(m: Iterable[(String, Double)]): String = m.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    }.mkString("{", ",", "}")
    def longMapJson(m: Iterable[(String, Long)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def tagsJson(rs: Seq[QueryReading]): String = rs.filter(_.cacheBuilds.nonEmpty)
      .map(r => "\"" + r.name + "\":[" + r.cacheBuilds.map("\"" + _ + "\"").mkString(",") + "]")
      .mkString("{", ",", "}")
    def secCol(f: QueryReading => Double) = secMapJson(readings.map(r => r.name -> f(r)))
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val cpuTotal = readings.map(_.cpuSec).sum
    val gcTotal = readings.map(_.gcSec).sum
    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // What the run leaves resident, read after a full GC so the heap
    // and metaspace figures are what Spark's codegen class cache and
    // the other JVM-wide state really retain.
    System.gc()
    val retainedJson = BenchRecord.retainedJson(BenchRecord.livePools(),
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed,
      readings.map(_.codegenCompiles).sum)
    val syncFullStr = String.format(java.util.Locale.ROOT, "%.1f", Double.box(syncSec))
    val recheckSec = rechecks.map(r => r.name -> r.wallSec)
    val probeField = probeJson.map(p => s""","probe":$p""").getOrElse("")
    // "total_full" (not "total"): exactly ONE metric:"total" line is
    // printed per run — the compact summary below, the one that fits
    // whole inside the recorder's ~2000-char stdout tail window — so a
    // consumer grepping for it can never double-count or pick the
    // truncated head of this long line.
    val full =
      s"""{"metric":"total_full","value":${f3(total)},"unit":"sec","queries":${secMapJson(results)},"cpu_sec":${secCol(_.cpuSec)},"gc_sec":${secCol(_.gcSec)},"cpu_total":${f3(cpuTotal)},"gc_total":${f3(gcTotal)},"proc_user_sec":${secCol(_.procUserSec)},"proc_sys_sec":${secCol(_.procSysSec)},"sync_sec":$syncFullStr,"failed":$failed,"cache_builds":${tagsJson(readings)},"bucket_stats":${longMapJson(bucketStats)},"recheck_sec":${secMapJson(recheckSec)},"recheck_builds":${tagsJson(rechecks)},"codegen_compiles":${longMapJson(readings.map(r => r.name -> r.codegenCompiles))},"jit_ms":${longMapJson(readings.map(r => r.name -> r.jitMs))},$retainedJson$probeField,"sf":"$sfDir"}"""
    // The harness that records this output keeps a ~2000-char tail of
    // the COMBINED console stream and parses the last JSON line it
    // finds there. Every round through r12 recorded `parsed: null`,
    // and r12 isolated the last failure mode: the full record above,
    // printed to stderr "for live debugging", interleaved AFTER the
    // compact stdout line in the combined pipe (stderr bypasses sbt's
    // logger; a >PIPE_BUF write can land around it), pushing the
    // parseable line out of the tail window. So the full record now
    // goes ONLY to the file — nothing larger than a one-line pointer
    // is written to either console stream after this point, and the
    // compact total line below is the absolute last thing printed.
    // A SPARK_GRAFT_ONLY subset run must not clobber the committed
    // full-sweep snapshot (round 7's ADVICE flagged exactly that
    // failure mode: a partial/contended run overwriting the clean
    // baseline of record) — subsets persist to their own file; scale
    // sweeps set SPARK_GRAFT_SNAPSHOT to route theirs likewise.
    val snapshotFile = sys.env.getOrElse("SPARK_GRAFT_SNAPSHOT",
      if (only.isDefined) "BENCH_LOCAL_SUBSET.json" else "BENCH_LOCAL_LATEST.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(snapshotFile),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not persist full results: ${e.getMessage}") }
    System.err.println(s"[bench] full per-query record -> $snapshotFile")
    val compact = BenchRecord.compactLine(results, cpuTotal, gcTotal, syncSec,
      bucketStats.toSeq, snapshotFile, sfDir, recheckSec)
    // Belt-and-braces for the recorder (VERDICT r13 item 1): besides
    // printing the compact line (raw, now that build.sbt passes forked
    // stdout through unprefixed), publish the SAME line to a fixed
    // committed path the judge/driver can read even if the tail parse
    // fails again. Only the default full-sweep gate run writes it —
    // a subset or snapshot-routed (scale-sweep) run must not clobber
    // the record of record with off-gate numbers, and (ADVICE r14)
    // neither must a full-sweep run pointed at a NON-GATE sf dir that
    // forgot to set SPARK_GRAFT_SNAPSHOT: the gate-dir equality check
    // makes that slip route to BENCH_LOCAL_LATEST only.
    if (only.isEmpty && !sys.env.contains("SPARK_GRAFT_SNAPSHOT")
        && sfDir == BenchRecord.GateSfDir) {
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_COMPACT.json"),
        (compact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not persist compact record: ${e.getMessage}") }
    }
    // stop() BEFORE the final print: Spark's shutdown chatter (if any)
    // must not land after the line the recorder needs to parse. A
    // failed stop must not lose the record either.
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    println(compact)
  }
}

/** The compact stdout record — the ONE line the driver's bounded tail
  * capture must be able to parse — and the full record's resident-state
  * fields. Pure (no Spark), so BenchRecordSpec can pin the contract
  * properties directly: the line is valid JSON, and at the full
  * inventory size with worst-case query names and a capped failure list
  * it stays under the recorder's ~2000-char window.
  */
object BenchRecord {
  /** Hard budget for the compact line. The recorder keeps ~2000 chars
    * of combined tail; the line must fit together with sbt's trailing
    * "[info] " prefix and "[success] Total time ..." line (~100
    * chars), with margin for a stray short stderr line.
    */
  val MaxLen = 1800

  /** The sf dir whose full-sweep run is the gate record of record —
    * BENCH_COMPACT.json is written only for runs of exactly this dir
    * (ADVICE r14: a scale sweep that forgets SPARK_GRAFT_SNAPSHOT
    * must not clobber the committed gate record with off-gate
    * numbers).
    */
  val GateSfDir = "/root/testdata/sf0.1"

  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def secMapJson(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")

  /** One JVM memory pool at the end of a run, in bytes (`max` is -1
    * when the pool has no limit).
    */
  final case class Pool(name: String, used: Long, committed: Long, max: Long)

  /** This JVM's memory pools, as they stand now. */
  def livePools(): Seq[Pool] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq.map { p =>
      val u = p.getUsage
      Pool(p.getName, u.getUsed, u.getCommitted, u.getMax)
    }
  }

  /** The full record's resident-state fields:
    *  - `code_cache`: JIT CodeCache occupancy per segment (segmented
    *    pools on JDK 17). A full non-profiled segment means the JIT
    *    stopped compiling and hot loops run interpreted.
    *  - `metaspace`: used and committed MB. Every generated class that
    *    Spark's codegen class cache keeps alive stays loaded here.
    *  - `heap_after_gc_mb`: heap used after a full GC. The cache's keys
    *    hold each class's full source text.
    *  - `codegen_compiles_total`: the sweep's summed per-query codegen
    *    compile counts.
    */
  def retainedJson(pools: Seq[Pool], heapAfterGc: Long, codegenCompilesTotal: Long): String = {
    val codeCache = pools
      .filter(p => p.name.contains("CodeHeap") || p.name.contains("Code Cache"))
      .map { p =>
        "\"" + p.name.replace("'", "") + "\":{\"used_mb\":" + (p.used >> 20) +
          ",\"max_mb\":" + (p.max >> 20) + "}"
      }.mkString("{", ",", "}")
    val metaspace = pools.find(_.name == "Metaspace")
      .map(p => s"""{"used_mb":${p.used >> 20},"committed_mb":${p.committed >> 20}}""")
      .getOrElse("{}")
    s""""code_cache":$codeCache,"metaspace":$metaspace,"heap_after_gc_mb":${heapAfterGc >> 20},"codegen_compiles_total":$codegenCompilesTotal"""
  }

  def compactLine(
      results: Seq[(String, Double)],
      cpuTotal: Double, gcTotal: Double, syncSec: Double,
      bucketStats: Seq[(String, Long)],
      snapshotFile: String, sfDir: String,
      recheck: Seq[(String, Double)] = Nil): String = {
    val total = results.map(_._2).filter(_ >= 0).sum
    val ok = results.filter(_._2 >= 0)
    val meanStr = f3(if (ok.nonEmpty) total / ok.size else 0.0)
    val (worstName, worstSec) =
      if (ok.nonEmpty) ok.maxBy(_._2) else ("none", 0.0)
    val slowest = secMapJson(ok.sortBy(-_._2).take(5))
    // An unbounded failure list could alone blow the tail window — cap
    // it (the full list is in the file record's "failed").
    val failedCompact = {
      val names = results.collect { case (k, v) if v < 0 => k }
      (names.take(8).map("\"" + _ + "\"") ++
        (if (names.size > 8) Seq("\"+" + (names.size - 8) + " more\"") else Nil))
        .mkString("[", ",", "]")
    }
    val bucketsJson = bucketStats.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // GATE-2 arithmetic, self-evidencing (VERDICT r14 item 1): each
    // query's effective reading is min(first pass, recheck) — a
    // contention spike that rechecks clean self-clears IN the record;
    // a real regression stays at its slow reading. The recheck map
    // itself rides along (worst-first, capped like `failed` so a mass
    // slowdown cannot blow the tail window; the full map is in the
    // file record's recheck_sec).
    val rk = recheck.toMap
    val eff = ok.map { case (n, w) =>
      n -> rk.get(n).filter(_ >= 0).map(math.min(_, w)).getOrElse(w)
    }
    val (effName, effSec) = if (eff.nonEmpty) eff.maxBy(_._2) else ("none", 0.0)
    val recheckCompact = {
      val sorted = recheck.sortBy(-_._2)
      secMapJson(sorted.take(8)) +
        (if (sorted.size > 8) s""","recheck_more":${sorted.size - 8}""" else "")
    }
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_queries":${results.size},"mean_sec_per_query":$meanStr,"worst_query":"$worstName","worst_sec":${f3(worstSec)},"recheck":$recheckCompact,"worst_eff_query":"$effName","worst_eff_sec":${f3(effSec)},"slowest5":$slowest,"cpu_total":${f3(cpuTotal)},"gc_total":${f3(gcTotal)},"sync_sec":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(syncSec))},"bucket_stats":$bucketsJson,"failed":$failedCompact,"full_record":"$snapshotFile","sf":"$sfDir"}"""
  }
}
