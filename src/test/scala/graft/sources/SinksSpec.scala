package graft.sources

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpecBase {
  import spark.implicits._

  test("bucketed tables join without shuffling either side") {
    val sf = "/root/testdata/sf0.001"
    Seq("li_b", "o_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    Sinks.bucketTable(Tables.lineitem(spark, sf), "li_b", "l_orderkey", 8)
    Sinks.bucketTable(Tables.orders(spark, sf), "o_b", "o_orderkey", 8)
    // sf0.001 is small enough that AQE would broadcast — disable to
    // surface the co-located sort-merge path the bucketing buys
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = try {
      val j = spark.table("li_b")
        .join(spark.table("o_b"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      j.collect()
      j
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    val plan = aqeFinalSection( // assertions target the AQE-final plan
      joined.queryExecution.executedPlan.toString)
    val joinPart = plan.substring(plan.indexOf("Join"))
    // co-located join: no Exchange below the join operator
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan.take(1500))
    assert(!joinPart.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffled:\n${joinPart.take(1500)}")
    // and the result matches the unbucketed join
    val expect = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(joined.collect().map(r => (r.getString(0), r.getLong(1))).toSet == expect)
    spark.sql("DROP TABLE li_b"); spark.sql("DROP TABLE o_b")
  }

  test("compact rewrites many small files into few, preserving data") {
    val out = tmpDir("compact") + "/t"
    val df = Tables.orders(spark, "/root/testdata/sf0.001")
    df.repartition(40).write.parquet(out) // 40 tiny files
    val (before, after) = Sinks.compact(spark, out, targetBytes = 512L * 1024)
    assert(before == 40 && after < before, s"$before -> $after")
    val back = spark.read.parquet(out)
    assert(back.count() == df.count())
    // content identical (key set equality on the primary key)
    val want = df.select($"o_orderkey").as[Long].collect().sorted.toSeq
    assert(back.select($"o_orderkey").as[Long].collect().sorted.toSeq == want)
  }

  test("compact self-heals after a crash between the two swap renames") {
    val out = tmpDir("compact_crash") + "/t"
    val df = Tables.orders(spark, "/root/testdata/sf0.001")
    df.repartition(10).write.parquet(out)
    val want = df.count()
    // simulate the crash window: dataset dir renamed away, tmp never
    // promoted — the state a reader would find after a writer died
    new java.io.File(out).renameTo(new java.io.File(out + ".compact_old"))
    assert(!new java.io.File(out).exists())
    val (before, after) = Sinks.compact(spark, out, targetBytes = 512L * 1024)
    assert(before == 10 && after < before)
    assert(spark.read.parquet(out).count() == want)
    assert(!new java.io.File(out + ".compact_old").exists()) // junk cleaned
  }

  test("compact preserves a partitioned layout when given the partition columns") {
    val out = tmpDir("compact_part") + "/t"
    val df = Tables.orders(spark, "/root/testdata/sf0.001")
      .withColumn("y", year($"o_orderdate"))
    df.repartition(10).write.partitionBy("y").parquet(out) // many files per y=… dir
    val (before, after) = Sinks.compact(spark, out, targetBytes = 512L * 1024,
      partitionBy = Seq("y"))
    assert(after < before, s"$before -> $after")
    val back = spark.read.parquet(out)
    // partition layout survived: y is still a partition column (dirs
    // exist) and partition pruning still works on it
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("y=")))
    assert(back.count() == df.count())
    val pruned = back.filter($"y" === 1997)
    pruned.collect()
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: ["))
  }

  // S6 exercised for real: embedded Derby (in Spark's jars — no server
  // needed) stands in for the warehouse the reference loads via Glue.
  test("loadJdbc round-trips against an embedded Derby warehouse") {
    val url = "jdbc:derby:memory:graftwh;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val nation = Tables.nation(spark, "/root/testdata/sf0.001")
      .select($"n_nationkey", $"n_name", $"n_regionkey")

    Sinks.loadJdbc(nation, url, "nation_wh", props, numPartitions = 2)
    val back = spark.read.jdbc(url, "nation_wh", props)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
    // Derby narrows integral widths on the way back — compare values,
    // not boxed JVM types
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Number](0).longValue(), r.getString(1),
        r.getAs[Number](2).longValue())).toSet
    assert(rows(back) == rows(nation))

    // append mode is the warehouse-load default: a second load lands a
    // second copy (dedup/upsert is the warehouse's job, as in the
    // reference's Redshift append)
    Sinks.loadJdbc(nation, url, "nation_wh", props, numPartitions = 2)
    assert(spark.read.jdbc(url, "nation_wh", props).count() == 2 * nation.count())
  }
}
