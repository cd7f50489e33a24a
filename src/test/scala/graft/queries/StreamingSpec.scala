package graft.queries

import java.nio.file.{Files, StandardCopyOption}

import graft.{SparkSpecBase, Tables}

/** The streaming forms of live queries, each run as a real stream and
  * checked against the batch query it mirrors.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("transformWithState sessionizes a real stream, matching the batch result") {
    import org.apache.spark.sql.functions.unix_micros
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val sf = "/root/testdata/sf0.001"
    val stage = tmpDir("events_tws_stage")
    Tables.events(spark, sf).write.mode("overwrite").parquet(stage)
    val schema = spark.read.parquet(stage).schema

    // transformWithState streaming requires the RocksDB state store
    // (the HDFS-backed default is rejected for this operator)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val stream = spark.readStream.schema(schema).parquet(stage)
        .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id", $"value")
        .as[graft.queries.StreamQueries.SessEvent]
        .groupByKey(_.user_id)
        .transformWithState(new graft.queries.StreamQueries.SessionProcessor,
          TimeMode.None(), OutputMode.Append())
      val q = stream.toDF().writeStream.outputMode("append")
        .format("memory").queryName("tws_sessions")
        .option("checkpointLocation", tmpDir("tws_cp"))
        .start()
      q.processAllAvailable()
      // SessionProcessor's documented scope: complete sessions only
      // when each key's rows arrive within one micro-batch — assert
      // this drain really was a single batch, so the equality below
      // can't silently pass a multi-batch run the processor doesn't
      // support (cross-batch needs ListState + event-time timers).
      val batches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      assert(batches == 1, s"expected a single-batch drain, saw $batches input batches")

      val got = spark.table("tws_sessions")
        .orderBy($"user_id", $"sess_start")
        .collect().toSeq
      val want = graft.SparkEntry.queries("stream_tws")(spark, sf).collect().toSeq
      assert(got == want, s"stream (${got.size} rows) != batch (${want.size} rows)")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream_throttle: two-micro-batch stream equals the batch admission result") {
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val sf = "/root/testdata/sf0.001"
    val stage = tmpDir("thr_stage")
    // split by event time so every key's batch-1 rows precede its
    // batch-2 rows — the in-order arrival the processor's cross-batch
    // contract requires. Each half lands as ONE parquet file with a
    // pinned mod-time, and maxFilesPerTrigger=1 forces one micro-batch
    // per half, so the run genuinely exercises cross-batch state.
    val ev = Tables.events(spark, sf)
    val cut = ev.selectExpr("percentile_approx(unix_micros(ts), 0.5)")
      .head().getLong(0)
    def stageOne(df: org.apache.spark.sql.DataFrame,
        name: String, mtime: Long): Unit = {
      val tmp = tmpDir(s"thr_half_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file in $tmp"))
      val dst = new java.io.File(stage, name)
      Files.copy(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      assert(dst.setLastModified(mtime))
    }
    stageOne(ev.filter(unix_micros(col("ts")) <= cut), "a_first.parquet", 1000000L)
    stageOne(ev.filter(unix_micros(col("ts")) > cut), "b_second.parquet", 2000000L)
    val schema = spark.read.parquet(stage).schema
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .select(col("user_id"),
          expr("(unix_micros(ts) DIV 600000000) * 600000").as("win_ms"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .as[graft.queries.StreamQueries.ThrEvent]
        .groupByKey(e => (e.user_id, e.win_ms))
        .transformWithState(new graft.queries.StreamQueries.ThrottleProcessor,
          TimeMode.None(), OutputMode.Append())
      val q = stream.toDF().writeStream.outputMode("append")
        .format("memory").queryName("thr_out")
        .option("checkpointLocation", tmpDir("thr_cp"))
        .start()
      q.processAllAvailable()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      assert(batches >= 2,
        s"expected a multi-batch drain to exercise cross-batch state, saw $batches")
      val got = spark.table("thr_out")
        .as[(Long, Long, Long, Long)].collect().toSet
      val want = graft.SparkEntry.queries("stream_throttle")(spark, sf)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == want,
        s"stream(${got.size}) != batch(${want.size}): " +
          s"${(got -- want).take(3)} / ${(want -- got).take(3)}")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming latest-wins CDC state equals the batch cdc_merge result") {
    val sf = "/root/testdata/sf0.001"
    val stage = tmpDir("cdc_stage")
    Tables.events(spark, sf).write.mode("overwrite").parquet(stage)
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema).parquet(stage)
    // the SAME body as the declared stream_cdc query — streaming
    // update mode re-emits a key's latest state as batches arrive
    val q = graft.queries.StreamQueries.cdcLatestWins(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("cdc_state")
      .option("checkpointLocation", tmpDir("cdc_cp"))
      .start()
    q.processAllAvailable()
    q.stop()
    // final state per key = last update emitted; with one input batch
    // that's exactly one row per surviving key
    val got = spark.table("cdc_state")
      .groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.struct($"last_us", $"last_event", $"last_value")).as("m"))
      .select($"user_id", $"m.last_us", $"m.last_event", $"m.last_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = graft.SparkEntry.queries("cdc_merge")(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == want,
      s"stream(${got.size}) != batch(${want.size}): ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    // and the declared stream_cdc batch query equals cdc_merge too
    val declared = graft.SparkEntry.queries("stream_cdc")(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(declared == want)
  }
}
