package graft.operators

import graft.SparkSpecBase
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests for the state/schema operators (SURVEY.md §5.3):
  * schema_diff partitions column sets exactly; anti-join ∘ union is
  * idempotent for the dedup path.
  */
class OperatorPropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val colsGen: Gen[Map[String, String]] = for {
    n <- Gen.choose(0, 8)
    names <- Gen.listOfN(n, Gen.alphaLowerStr.map(s => "c" + s.take(5))).map(_.distinct)
    types <- Gen.listOfN(names.size, Gen.oneOf("bigint", "string", "double"))
  } yield names.zip(types).toMap

  test("schema_diff partitions into added/dropped/retyped/unchanged exactly") {
    check(Prop.forAll(colsGen, colsGen) { (oldC, newC) =>
      val diff = SchemaDiff.diffDf(
        oldC.toSeq.map { case (n, t) => ColumnMeta(n, t) }.toDF(),
        newC.toSeq.map { case (n, t) => ColumnMeta(n, t) }.toDF())
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val names = oldC.keySet ++ newC.keySet
      diff.keySet == names && names.forall { n =>
        val want =
          if (!oldC.contains(n)) "added"
          else if (!newC.contains(n)) "dropped"
          else if (oldC(n) != newC(n)) "retyped"
          else "unchanged"
        diff(n) == want
      }
    }, 25)
  }

  test("driver-side diffCols classifies exactly as the relational diffDf") {
    check(Prop.forAll(colsGen, colsGen) { (oldC, newC) =>
      val oldCols = oldC.toSeq.map { case (n, t) => ColumnMeta(n, t) }
      val newCols = newC.toSeq.map { case (n, t) => ColumnMeta(n, t) }
      val relational = SchemaDiff.diffDf(oldCols.toDF(), newCols.toDF()).as[ColumnChange]
      relational.collect().sortBy(_.name).toSeq ==
        SchemaDiff.diffCols(oldCols, newCols).sortBy(_.name)
    }, 25)
  }

  test("state merge: unique keys, update flag wins, absent flags inherit then default false") {
    val boolGen = Gen.oneOf(true, false)
    val stateGen = Gen.mapOf(for {
      i <- Gen.choose(0, 15)
      fs <- Gen.listOfN(4, boolGen)
    } yield s"f$i" -> (fs(0), fs(1), fs(2), fs(3)))
    // updates carry only (ingested, crawled) so the other two flags
    // exercise the fall-through to state value / false
    val updGen = Gen.mapOf(for {
      i <- Gen.choose(0, 15)
      a <- boolGen; b <- boolGen
    } yield s"f$i" -> (a, b))
    check(Prop.forAll(stateGen, updGen) { (st, up) =>
      val sDf = st.toSeq.map { case (k, (a, b, c, d)) => (k, a, b, c, d) }
        .toDF("file_key", "ingested", "crawled", "transformed", "loaded")
      val uDf = up.toSeq.map { case (k, (a, b)) => (k, a, b) }
        .toDF("file_key", "ingested", "crawled")
      val got = StateMerge.merge(sDf, uDf)
        .as[(String, Boolean, Boolean, Boolean, Boolean)]
        .collect().sortBy(_._1).toSeq
      val want = (st.keySet ++ up.keySet).toSeq.sorted.map { k =>
        val s = st.get(k)
        val u = up.get(k)
        (k,
          u.map(_._1).orElse(s.map(_._1)).getOrElse(false),
          u.map(_._2).orElse(s.map(_._2)).getOrElse(false),
          s.map(_._3).getOrElse(false),
          s.map(_._4).getOrElse(false))
      }
      got == want // equality implies key uniqueness too
    }, 20)
  }

  test("scd2Merge folded over batches preserves full, non-overlapping history") {
    // The documented contract (StateMerge.scd2Merge): applying update
    // batches ONE AT A TIME preserves full history — per key the
    // intervals chain without gaps or overlaps, exactly one row stays
    // open, and the open row carries the latest batch's winning value
    // (latest ts, then attribute desc, per the operator's tie-break).
    // The single-batch oracle (scd2_apply) can't see fold bugs like a
    // re-closed historical row or a lost intermediate version; this
    // property folds random 0-3 batch sequences and compares against
    // a driver-side model of the whole chain.
    val keyGen = Gen.choose(0L, 5L)
    def updGen(lo: Long, hi: Long): Gen[List[(Long, String, Long)]] =
      Gen.listOf(for {
        k <- keyGen
        t <- Gen.choose(lo, hi)
        v <- Gen.choose(0, 99)
      } yield (k, f"v$v%02d", t))
    // batch ts ranges are disjoint and increasing — SCD2 feeds are
    // time-ordered; within a batch, ts ties are free to collide
    val scenarioGen = for {
      initKeys <- Gen.someOf(0L to 5L)
      b1 <- updGen(11, 19)
      b2 <- updGen(21, 29)
      b3 <- updGen(31, 39)
      n <- Gen.choose(0, 3)
    } yield (initKeys.toList.sorted, List(b1, b2, b3).take(n))
    check(Prop.forAll(scenarioGen) { case (initKeys, batches) =>
      val init = initKeys.map(k => (k, f"i$k%02d", 0L, Option.empty[Long]))
      var hist = init.toDF("key", "attr", "valid_from", "valid_to")
      for (b <- batches if b.nonEmpty)
        hist = StateMerge.scd2Merge(hist, b.toDF("key", "attr", "ts"), "key", "ts")
      val got = hist.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .sortBy(x => (x._1, x._3)).toList
      // model: per batch, the winner per key is max by (ts, attr) —
      // the operator's row_number tie-break; the history chain is the
      // initial row (if any) followed by each touching batch's winner,
      // each closed at the next link's ts
      val winners = batches.filter(_.nonEmpty).map { b =>
        b.groupBy(_._1).map { case (k, us) =>
          val w = us.maxBy(u => (u._3, u._2))
          k -> (w._2, w._3)
        }
      }
      val expected = (initKeys ++ batches.flatten.map(_._1)).distinct.sorted.flatMap { k =>
        val chain = (if (initKeys.contains(k)) List((f"i$k%02d", 0L)) else Nil) ++
          winners.flatMap(_.get(k))
        chain.zipWithIndex.map { case ((a, t), i) =>
          (k, a, t, if (i < chain.size - 1) Some(chain(i + 1)._2) else None)
        }
      }
      // exact-set equality implies: one open row per live key, no
      // overlapping or gapped intervals, no lost versions
      got == expected
    }, 15)
  }

  test("asof join equals the per-row model; null right times are invisible") {
    val keyGen = Gen.oneOf("a", "b", "c")
    val leftGen = Gen.listOf(for {
      k <- keyGen; t <- Gen.choose(0L, 30L)
    } yield (k, t)).map(_.distinct)
    val rightGen = Gen.listOf(for {
      k <- keyGen
      t <- Gen.option(Gen.choose(0L, 30L))
      v <- Gen.choose(0, 100)
    } yield (k, t, v))
      // one right row per (key, time) so the asof pick is unambiguous
      .map(_.groupBy(r => (r._1, r._2)).map(_._2.head).toList)
    check(Prop.forAll(leftGen, rightGen) { (lefts, rights) =>
      val l = lefts.toDF("k", "t")
      val r = rights.toDF("k", "rt", "v")
      val got = AsOfJoin.asofJoin(l, r, "k", "t", "rt")
        .select($"k", $"t", $"asof_rt", $"asof_v")
        .as[(String, Long, Option[Long], Option[Int])]
        .collect().sorted.toSeq
      val want = lefts.map { case (k, t) =>
        val best = rights
          .collect { case (`k`, Some(rt), v) if rt <= t => (rt, v) }
          .sortBy(_._1).lastOption
        (k, t, best.map(_._1), best.map(_._2))
      }.sorted
      got == want
    }, 20)
  }

  test("dedup (anti-join then union) is idempotent") {
    val keysGen = Gen.listOf(Gen.choose(0, 30).map(i => s"f$i")).map(_.distinct)
    check(Prop.forAll(keysGen, keysGen) { (existing, incoming) =>
      val e = existing.toDF("file_key")
      val i = incoming.toDF("file_key")
      val once = StateMerge.notYetPresent(i, e).union(e)
      val twice = StateMerge.notYetPresent(i, once).union(once)
      once.as[String].collect().sorted.toSeq == twice.as[String].collect().sorted.toSeq
    }, 20)
  }

  test("connected components equal a driver-side union-find on random graphs") {
    val graphGen = for {
      n <- Gen.choose(1, 25)
      m <- Gen.choose(0, 40)
      edges <- Gen.listOfN(m,
        for { a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L) } yield (a, b))
    } yield (n.toLong, edges)
    check(Prop.forAll(graphGen) { case (n, edges) =>
      val vertices = (0L until n).toDF("id")
      val e = edges.toDF("src", "dst")
      val got = ConnectedComponents.minLabel(vertices, e)
      val gotMap = got.as[(Long, Long)].collect().toMap
      got.unpersist()
      // union-find truth
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n.toInt).map { v =>
        val comp = (0 until n.toInt).filter(u => find(u) == find(v)).min
        v.toLong -> comp.toLong
      }.toMap
      gotMap == want
    }, 15)
  }

  test("alternating-star components equal a driver-side union-find on random graphs") {
    val graphGen = for {
      n <- Gen.choose(1, 25)
      m <- Gen.choose(0, 40)
      edges <- Gen.listOfN(m,
        for { a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L) } yield (a, b))
    } yield (n.toLong, edges)
    check(Prop.forAll(graphGen) { case (n, edges) =>
      val vertices = (0L until n).toDF("id")
      val e = edges.toDF("src", "dst")
      val got = ConnectedComponents.alternatingStar(vertices, e)
      val gotMap = got.as[(Long, Long)].collect().toMap
      got.unpersist()
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n.toInt).map { v =>
        val comp = (0 until n.toInt).filter(u => find(u) == find(v)).min
        v.toLong -> comp.toLong
      }.toMap
      gotMap == want
    }, 15)
  }

  test("alternating-star resolves a 200-node chain in O(log n) iterations") {
    // diameter 199: min-label propagation would need ~200 rounds; the
    // star alternation must finish inside a logarithmic budget
    val n = 200L
    val vertices = (0L until n).toDF("id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val got = ConnectedComponents.alternatingStar(vertices, chain, maxIter = 12)
    assert(got.as[(Long, Long)].collect().forall(_._2 == 0L))
    got.unpersist()
  }

  test("connected components fail loudly past the iteration cap (long chain)") {
    val n = 12L
    val vertices = (0L until n).toDF("id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    // diameter 11 > maxIter 3 -> must throw, never return under-merged labels
    intercept[IllegalStateException] {
      ConnectedComponents.minLabel(vertices, chain, maxIter = 3)
    }
    // and with enough rounds the same chain resolves to one component
    val ok = ConnectedComponents.minLabel(vertices, chain, maxIter = 15)
    assert(ok.as[(Long, Long)].collect().forall(_._2 == 0L))
    ok.unpersist()
  }

  test("reliable-checkpoint mode matches localCheckpoint mode and writes checkpoint files") {
    val vertices = (0L until 30L).toDF("id")
    val edges = ((0L until 9L).map(i => (i, i + 1)) ++ Seq((20L, 21L), (21L, 22L)))
      .toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    // an application-level checkpoint root set BEFORE the call — the
    // per-call override must restore it (by root; the UUID subdir is
    // setCheckpointDir's own implementation detail)
    val appRoot = java.nio.file.Files.createTempDirectory("cc_app_ckpt").toString
    spark.sparkContext.setCheckpointDir(appRoot)
    def run(ckpt: Option[String]) = {
      val local = ConnectedComponents.minLabel(vertices, edges, checkpointDir = ckpt)
      val star = ConnectedComponents.alternatingStar(vertices, edges, checkpointDir = ckpt)
      val r = (local.as[(Long, Long)].collect().toMap,
        star.as[(Long, Long)].collect().toMap)
      local.unpersist(); star.unpersist()
      r
    }
    val (l1, s1) = run(None)
    val (l2, s2) = run(Some(dir))
    assert(l1 == l2, "minLabel differs between checkpoint modes")
    assert(s1 == s2, "alternatingStar differs between checkpoint modes")
    assert(l1 == s1)
    // reliable mode actually wrote checkpoint files (fault-tolerance
    // evidence — localCheckpoint leaves this directory empty)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val wrote = try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally walk.close()
    assert(wrote > 0, s"no checkpoint files under $dir")
    // the per-call checkpoint dir must not leak into the context:
    // getCheckpointDir returns the resolved URI, so match on the
    // unique temp-dir basenames — the override's dir must be gone and
    // the application's previously-set ROOT must be back
    val after = spark.sparkContext.getCheckpointDir
    assert(after.forall(!_.contains(
      java.nio.file.Paths.get(dir).getFileName.toString)),
      s"checkpoint dir leaked: $after")
    assert(after.exists(_.contains(
      java.nio.file.Paths.get(appRoot).getFileName.toString)),
      s"application checkpoint root not restored: $after")
  }

  test("minLabel/alternatingStar return the PERSISTED result (contract pin)") {
    // The documented contract: the returned Dataset IS the persisted
    // frame — callers' unpersist() frees the operator's blocks. A
    // rename-only final projection sameResult-matches the last round,
    // so an internal trailing unpersist would silently evict the
    // returned cache entry (round-4 regression). Pin it here.
    val vertices = (0L until 10L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("src", "dst")
    val a = ConnectedComponents.minLabel(vertices, edges)
    assert(a.storageLevel.useMemory, "minLabel result must be cached")
    a.unpersist()
    assert(!a.storageLevel.useMemory)
    val b = ConnectedComponents.alternatingStar(vertices, edges)
    assert(b.storageLevel.useMemory, "alternatingStar result must be cached")
    b.unpersist()
    assert(!b.storageLevel.useMemory)
  }
}
