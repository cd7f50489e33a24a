package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental-processing state table as relational operators.
  *
  * The reference holds this state in DynamoDB and touches it with
  * per-key `get_item`/`update_item` loops (final_DAG.py:63-101,
  * 265-307) — O(files) network round-trips from the driver. The
  * Spark-first restatement is set-oriented: state lives as a keyed
  * table, updates merge in via one full-outer join, and "which files
  * are new" is one left-outer join + filter. Both joins broadcast when
  * the state is small and scale to shuffle joins when it is not —
  * nothing here is driver-side per-row.
  */
object StateMerge {

  private val flags = Seq("ingested", "crawled", "transformed", "loaded")

  /** Merge flag updates into the state table (upsert). Missing flags
    * on either side default false; an update row for an unseen key
    * inserts it. Column sets: both inputs need file_key + any subset
    * of the four flags.
    */
  def merge(state: DataFrame, updates: DataFrame): DataFrame = {
    def norm(df: DataFrame, suffix: String): DataFrame =
      flags.foldLeft(df) { (d, f) =>
        val c = if (d.columns.contains(f)) col(f) else lit(null).cast("boolean")
        d.withColumn(f + suffix, c)
      }.select(col("file_key") +: flags.map(f => col(f + suffix)): _*)
    val s = norm(state, "_s")
    val u = norm(updates, "_u")
    s.join(u, Seq("file_key"), "full_outer")
      .select(
        col("file_key") +:
          flags.map(f => coalesce(col(f + "_u"), col(f + "_s"), lit(false)).as(f)): _*)
  }

  /** Files needing processing: present in `files` (column file_key)
    * and either absent from state or ingested ∧ ¬crawled ∧
    * ¬transformed ∧ ¬loaded — the reference's selection predicate
    * (final_DAG.py:66-72: a missing DynamoDB item is also "new").
    */
  def selectNew(files: DataFrame, state: DataFrame): DataFrame =
    files
      .join(state, Seq("file_key"), "left_outer")
      .filter(
        col("ingested").isNull ||
          (col("ingested") && !col("crawled") && !col("transformed") && !col("loaded")))
      .select("file_key")

  /** Idempotent skip of already-present keys — the reference's
    * head_object existence check (lamda_function.py:31-37) as an
    * anti-join.
    */
  def notYetPresent(incoming: DataFrame, existing: DataFrame): DataFrame =
    incoming.join(existing, Seq("file_key"), "left_anti")

  /** SCD Type-2 merge — the warehouse-dimension history pattern the
    * reference's Redshift load implies but never implements: instead
    * of overwriting changed dimension rows, the open version closes
    * (`valid_to` = update time) and the update opens a new version
    * (`valid_from` = update time, `valid_to` null).
    *
    * Set-oriented: one keyed join decides closures, one union appends
    * the new versions — no per-row driver loop, broadcasts when
    * updates are small. When one batch carries several updates for a
    * key, the latest per (ts, then attribute order) wins; applying
    * batches one at a time preserves full history.
    *
    * @param history rows of (key, attrs..., valid_from, valid_to);
    *                open rows have `valid_to` null
    * @param updates rows of (key, attrs..., ts) — the new attribute
    *                values effective at ts
    * @return the merged history, same schema as `history`
    */
  def scd2Merge(history: DataFrame, updates: DataFrame, key: String, ts: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val attrs = history.columns.filterNot(c =>
      c == key || c == "valid_from" || c == "valid_to").toSeq
    // latest update per key in this batch (deterministic tie-break on
    // every attribute value, so equal-ts duplicates cannot flap)
    val w = Window.partitionBy(col(key))
      .orderBy((col(ts).desc +: attrs.map(col(_).desc)): _*)
    val latest = updates
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    val closing = latest.select(col(key), col(ts).as("_close_ts"))
    val closed = history
      .join(closing, Seq(key), "left")
      .withColumn("valid_to",
        when(col("valid_to").isNull && col("_close_ts").isNotNull, col("_close_ts"))
          .otherwise(col("valid_to")))
      .drop("_close_ts")
    val opened = latest.select(
      (col(key) +: attrs.map(col)) :+
        col(ts).as("valid_from") :+
        lit(null).cast(history.schema("valid_to").dataType).as("valid_to"): _*)
    closed.unionByName(opened)
  }
}
