package graft.operators

import graft.SparkSpecBase

/** Per-file pipeline state, the shape of the reference's DynamoDB
  * `ProcessedFiles` item (final_DAG.py, lamda_function.py).
  */
case class FileState(
    file_key: String,
    ingested: Boolean,
    crawled: Boolean,
    transformed: Boolean,
    loaded: Boolean)

class StateMergeSpec extends SparkSpecBase {
  import spark.implicits._

  private def state() = Seq(
    FileState("f1", ingested = true, crawled = false, transformed = false, loaded = false),
    FileState("f2", ingested = true, crawled = true, transformed = false, loaded = false),
    FileState("f3", ingested = true, crawled = true, transformed = true, loaded = true)
  ).toDF()

  test("selectNew picks ingested-only and absent files") {
    val files = Seq("f1", "f2", "f3", "f9").toDF("file_key")
    val got = StateMerge.selectNew(files, state()).as[String].collect().sorted
    assert(got.toSeq == Seq("f1", "f9")) // f1: fresh flags; f9: absent from state
  }

  test("merge upserts flags and inserts unseen keys with false defaults") {
    val updates = Seq(("f1", true), ("f9", true)).toDF("file_key", "crawled")
    val got = StateMerge.merge(state(), updates).as[FileState]
      .collect().map(s => s.file_key -> s).toMap
    assert(got("f1").crawled)           // flag flipped
    assert(got("f1").ingested)          // untouched flags preserved
    assert(got("f9").crawled)           // inserted
    assert(!got("f9").ingested)         // missing flags default false
    assert(got("f3").loaded)            // untouched row intact
    assert(got.size == 4)
  }

  test("merge is idempotent") {
    val updates = Seq(("f2", true)).toDF("file_key", "transformed")
    val once = StateMerge.merge(state(), updates)
    val twice = StateMerge.merge(once, updates)
    assert(once.as[FileState].collect().sortBy(_.file_key).toSeq ==
      twice.as[FileState].collect().sortBy(_.file_key).toSeq)
  }

  test("notYetPresent is an anti-join on file_key") {
    val incoming = Seq("f1", "f7").toDF("file_key")
    val existing = Seq("f1").toDF("file_key")
    assert(StateMerge.notYetPresent(incoming, existing)
      .as[String].collect().toSeq == Seq("f7"))
  }

  test("scd2Merge closes open versions, keeps closed history, dedups batch updates") {
    // key 1: open + already-closed history row; two same-batch updates
    // (latest ts wins). key 2: untouched. key 3: brand new.
    val history = Seq(
      (1L, "a", 0L, Some(3L)), // closed: must stay untouched
      (1L, "b", 3L, None: Option[Long]),
      (2L, "c", 0L, None: Option[Long]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val updates = Seq((1L, "b2", 5L), (1L, "b1", 4L), (3L, "n", 5L))
      .toDF("k", "attr", "ts")
    val got = StateMerge.scd2Merge(history, updates, "k", "ts")
      .as[(Long, String, Long, Option[Long])].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(got == Seq(
      (1L, "a", 0L, Some(3L)),  // closed row untouched
      (1L, "b", 3L, Some(5L)),  // open row closed at the update ts
      (1L, "b2", 5L, None),     // latest same-batch update wins
      (2L, "c", 0L, None),      // untouched key keeps its open row
      (3L, "n", 5L, None)))     // new key opens with no prior history
    // applying the same batch again only re-closes/reopens at the same
    // ts — history length grows by the reopened rows, values stable
    val again = StateMerge.scd2Merge(
      StateMerge.scd2Merge(history, updates, "k", "ts"), updates, "k", "ts")
    assert(again.filter($"valid_to".isNull).count() == 3) // one open row per key
  }
}
