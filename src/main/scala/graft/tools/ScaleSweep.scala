package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-corpus generator: writes every table Bench reads, `factor`×
  * the base fixtures on the fact side, so the heavy dedup/ANN family
  * and the events/TPC-H waves are MEASURED above bench scale instead
  * of extrapolated from sf0.1.
  *
  * `sbt "runMain graft.tools.ScaleSweep [baseDir] [factor] [outDir]"`
  * writes the corpus and prints one `scale_corpus` JSON line. The
  * sweep itself is Bench pointed at the corpus, which brings its run
  * order, cache lifecycle, recheck, probe and bucket guards:
  * `SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_SNAPSHOT=<record>.json
  * [SPARK_GRAFT_ONLY=<names>] sbt "runMain graft.Bench"`.
  *
  * The corpus is BENCHMARK data, not oracle data (correctness stays
  * pinned to the driver fixtures): documents are seeded-PRNG token
  * sequences over the real corpus vocabulary — deterministic per
  * doc_id, so reruns measure the same corpus — with a controlled
  * 5% exact-duplicate and 5% near-duplicate fraction so the dedup
  * family does real work; embeddings are label-clustered vectors
  * (center per label + per-vector noise), so label-blocked and
  * bucketed kNN paths see realistic cluster structure.
  */
object ScaleSweep {

  /** Deterministic per-entity PRNG — Knuth multiplicative seed so
    * consecutive ids decorrelate.
    */
  private def rngFor(id: Long): java.util.Random =
    new java.util.Random(id * 2654435761L + 1013904223L)

  def main(args: Array[String]): Unit = {
    if (args.length > 3) {
      System.err.println("usage: ScaleSweep [baseDir] [factor] [outDir]")
      sys.exit(2)
    }
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outDir = args.lift(2).getOrElse("target/scale_corpus")
    val spark = graft.GraftSession.local()
    val (nDocs, nVecs) = generate(spark, base, factor, outDir)
    println(s"""{"metric":"scale_corpus","factor":$factor,"n_docs":$nDocs,"n_vecs":$nVecs,"out":"$outDir","base":"$base"}""")
    spark.stop()
  }

  /** Write the `factor`× corpus of `base` under `outDir` (one
    * `<table>.parquet` per [[graft.Tables.all]] name, overwriting) and
    * return its (documents, embeddings) row counts.
    */
  def generate(spark: SparkSession, base: String, factor: Int, outDir: String): (Long, Long) = {
    import spark.implicits._

    // ---- corpus generation ------------------------------------------
    val baseDocs = graft.Tables.documents(spark, base)
    val nBase = baseDocs.count()
    val nDocs = nBase * factor
    // real vocabulary, frequency-ranked: generated docs share the
    // fixtures' token distribution shape (head-heavy), which is what
    // the tf/df and shingle paths are sensitive to
    val vocab = baseDocs
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("t"))
      .filter($"t" =!= "").groupBy($"t").count()
      .orderBy($"count".desc, $"t").limit(20000)
      .select($"t").as[String].collect()
    require(vocab.nonEmpty, s"no vocabulary extracted from $base/documents.parquet")
    val bVocab = spark.sparkContext.broadcast(vocab)
    val langs = Array("en", "de", "fr", "es")
    val docs = spark.range(nDocs).select($"id".as("doc_id"))
      .as[Long]
      .map { docId =>
        // 5% exact dups, 5% near dups: both regenerate the text of a
        // canonical earlier doc (determinism makes copy-free dup
        // injection possible — no self-join at generation time)
        val mod = docId % 20
        val cid = if (mod == 7 && docId >= 7) docId - 7
          else if (mod == 13 && docId >= 13) docId - 13 else docId
        val rng = rngFor(cid)
        val v = bVocab.value
        // long-document stratum (0.5%): 2k-8k tokens (~12-50k chars) —
        // stresses the r10 array-HOF winnow build, whose per-doc
        // gram/window arrays put row width ∝ doc length (VERDICT r10
        // item 2 asked for exactly this stratum in the sweep corpus)
        val len =
          if (mod == 19 && cid % 10 == 9) 2000 + rng.nextInt(6000)
          else 20 + rng.nextInt(120)
        // Zipf-ish rank sampling over the frequency-ranked vocab:
        // square a uniform to bias toward head ranks
        val sb = new StringBuilder
        var i = 0
        while (i < len) {
          val u = rng.nextDouble()
          if (i > 0) sb.append(' ')
          sb.append(v(((u * u) * v.length).toInt.min(v.length - 1)))
          i += 1
        }
        if (mod == 13 && docId >= 13) sb.append(" zq").append((docId % 97).toString)
        val text = sb.toString
        // digit-suffixed source ids mirror the fixture convention
        // ("src0".."src19") — source_mix/mixture_sample/dataset_card
        // need real strata and cross_corpus_pairs parses the numeric
        // suffix for its crawl-parity split; a single "synthetic"
        // source would silently degenerate all four at scale
        (docId, text, langs((cid % langs.length).toInt),
          "src" + (cid % 20).toString, text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val nBaseVec = graft.Tables.embeddings(spark, base).count()
    val nVecs = nBaseVec * factor
    val dim = 64
    val nLabels = 50
    val embs = spark.range(nVecs).select($"id".as("vec_id")).as[Long]
      .map { vecId =>
        val label = (vecId % nLabels).toInt
        val cRng = rngFor(1000000L + label)
        val vRng = rngFor(vecId)
        val vec = Array.tabulate(dim) { _ =>
          (cRng.nextGaussian() + 0.25 * vRng.nextGaussian()).toFloat
        }
        (vecId, vec, label)
      }
      .toDF("vec_id", "embedding", "label")
    embs.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // ---- events: factor× synthetic month (round-11) -----------------
    // Same schema/distributions as the fixtures (5 event types, 2dp
    // values, single-keyed json props, 30-day window): factor× more
    // events over the SAME month and factor× more users, so the
    // hourly/user-keyed aggregates the time-series waves run get
    // factor× heavier groups, not a longer timeline.
    val nBaseEv = graft.Tables.events(spark, base).count()
    val evTypes = Array("signup", "click", "error", "view", "purchase")
    val nUsers = 1500L * factor
    val evs = spark.range(nBaseEv * factor).as[Long].map { id =>
      val rng = rngFor(900000007L + id)
      val tsUs = 1704067200000000L + // 2024-01-01 UTC
        (rng.nextDouble() * 30L * 86400L * 1000000L).toLong
      (id, tsUs, math.abs(rng.nextLong()) % nUsers,
        evTypes(rng.nextInt(evTypes.length)),
        math.floor(rng.nextDouble() * 100000) / 100.0,
        s"""{"k": ${rng.nextInt(100)}}""")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros($"ts_us")).drop("ts_us")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
    evs.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // ---- orders/lineitem: factor× key-shifted replicas (round-11) ---
    // The TPC-H second batch had sf0.1 readings only. Replicate both
    // fact tables factor× with the order-key space shifted per replica
    // (join keys stay consistent across the two tables; custkey /
    // partkey / suppkey stay in the base dimension range, so the
    // dimension tables copy over unscaled and every TPC-H join is
    // factor× heavier on the fact side — the shape that matters).
    val baseOrders = spark.read.parquet(s"$base/orders.parquet")
    val keySpan = baseOrders.agg(max($"o_orderkey")).head.getLong(0) + 1
    val reps = spark.range(factor).select($"id".as("rep"))
    baseOrders.crossJoin(reps)
      .withColumn("o_orderkey", $"o_orderkey" + $"rep" * keySpan).drop("rep")
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    spark.read.parquet(s"$base/lineitem.parquet").crossJoin(reps)
      .withColumn("l_orderkey", $"l_orderkey" + $"rep" * keySpan).drop("rep")
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    (nDocs, nVecs)
  }
}
