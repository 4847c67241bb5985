package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational operators — the SURVEY §2 inventory re-expressed as
  * composable DataFrame helpers. Each is declarative (Catalyst optimizes:
  * pushdown, pruning, join strategy, AQE) and shuffle-conscious:
  * anti/semi joins shuffle once on their keys; window dedup shuffles once
  * on the partition keys; nothing collects to the driver.
  *
  * Reference semantics: /root/reference/utlis/etl_manager.py (file:line in
  * each Scaladoc below).
  */
object Relational {

  /** Latest row per group — ROW_NUMBER() OVER (PARTITION BY .. ORDER BY .. DESC) = 1.
    * Reference: etl_manager.py:228-237 (W1). Tie-break columns make the
    * result deterministic (the reference relies on unique created_at).
    */
  def latestPerGroup(df: DataFrame, partitionCols: Seq[String], orderCol: String,
                     tieBreak: Seq[String] = Nil): DataFrame = {
    val ordering = (col(orderCol).desc +: tieBreak.map(col(_).desc))
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Argmax: rows where orderCol equals the per-group max — the correlated
    * scalar subquery idiom. Reference: etl_manager.py:77-88 (J7).
    * One shuffle on the group keys; no join back to the source.
    */
  def argmax(df: DataFrame, groupCols: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
    df.withColumn("__mx", max(col(orderCol)).over(w))
      .filter(col(orderCol) === col("__mx")).drop("__mx")
  }

  /** Rows of `left` with no key match in `right` — the LEFT JOIN .. IS NULL
    * anti-join idiom. Reference: etl_manager.py:779-794 (J2). */
  def antiJoin(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_anti")

  /** Rows of `left` with at least one key match in `right` — the
    * IN (subquery) semi-join idiom. Reference: etl_manager.py:845-866 (J4). */
  def semiJoin(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_semi")

  /** Boolean ALL per group with Python `all([]) == True` semantics:
    * bool_and over an empty/all-null group must coalesce to true.
    * Reference: etl_manager.py:189,245 (A3; SURVEY §7.4.5). */
  def boolAllExpr(pred: Column): Column = coalesce(bool_and(pred), lit(true))

  /** Boolean ANY per group; empty group → false (Python any([]) == False).
    * Reference: etl_manager.py:460 (A4). */
  def boolAnyExpr(pred: Column): Column = coalesce(bool_or(pred), lit(false))

  /** Null-safe element extraction after split — Trino TRY(split(s, d)[i]).
    * element_at returns null when out of bounds (1-based, like Trino/DuckDB).
    * Reference: etl_manager.py:447 (P3/F1). */
  def tryElementAt(c: Column, delim: String, idx: Int): Column =
    when(size(split(c, delim)) >= idx, element_at(split(c, delim), idx))

  /** Calendar-picker: min value of `orderCol` among rows matching `pred`,
    * falling back to the overall max when the backlog is empty — the
    * try/except pair of ORDER BY LIMIT 1 queries in etl_manager.py:48-67 (O1).
    * Single pass: conditional min + unconditional max in one aggregate.
    */
  def pickNextOrFallback(df: DataFrame, pred: Column, orderCol: String): DataFrame =
    df.agg(
      min(when(pred, col(orderCol))).as("__next"),
      max(col(orderCol)).as("__fallback"))
      .select(coalesce(col("__next"), col("__fallback")).as(orderCol))

  /** MERGE INTO as full-outer join-and-rewrite (no ACID table format;
    * single-writer batch semantics are identical). Matched rows take the
    * source's values — INCLUDING intentional NULLs (a row-presence marker
    * distinguishes "source row matched" from "source column null", matching
    * MERGE INTO UPDATE SET semantics; plain coalesce would silently keep
    * the target's old value). Unmatched rows keep the target's values;
    * source-only rows insert. Keys match null-safely (`<=>`), so a NULL-keyed
    * source row replaces the NULL-keyed target row instead of duplicating
    * it. Reference: etl_manager.py:617-635,687-711 (J5).
    *
    * At 100 TB this is a single shuffle on the merge keys of both sides —
    * same cost class as any MERGE implementation.
    */
  def mergeAsRewrite(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    require(source.columns.sorted.sameElements(target.columns.sorted),
      s"merge schema mismatch: ${source.columns.mkString(",")} vs ${target.columns.mkString(",")}")
    // Rename-before-join (not alias-based resolution): target may itself be
    // derived from source, and unique names sidestep self-join ambiguity.
    val s = source.columns.foldLeft(source)((d, c) => d.withColumnRenamed(c, "__s_" + c))
      .withColumn("__s_hit", lit(true)) // non-null iff a source row matched
    val cond = keys.map(k => col(k) <=> col("__s_" + k)).reduce(_ && _)
    target.join(s, cond, "full_outer")
      .select(target.columns.map { c =>
        if (keys.contains(c)) coalesce(col("__s_" + c), col(c)).as(c)
        else when(col("__s_hit"), col("__s_" + c)).otherwise(col(c)).as(c)
      }: _*)
  }

  /** Skew-safe inner equi-join: salts the skewed probe side into `salts`
    * buckets (hash of the full row → deterministic plan) and replicates the
    * build side across all buckets, so one hot key spreads over `salts`
    * tasks. AQE's skew-join split handles most skew at runtime; explicit
    * salting is for keys so hot a single post-split partition still
    * overflows a task (the classic null-sentinel / power-law head case at
    * 100 TB). Result is identical to a plain inner join.
    */
  def saltedJoin(skewed: DataFrame, build: DataFrame, keys: Seq[String],
                 salts: Int): DataFrame = {
    val left = skewed.withColumn("__salt",
      pmod(hash(skewed.columns.map(col): _*), lit(salts)))
    val right = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    left.join(right, keys :+ "__salt").drop("__salt")
  }

  /** Incremental aggregate maintenance — refresh a stored rollup with a
    * new batch WITHOUT rescanning the base: aggregate the delta to the
    * same shape, union, and re-merge per key. Counts and sums merge by
    * sum, min/max by min/max (avg derives from sum/count at read time).
    * At 100 TB this is the difference between cost ∝ batch and cost ∝
    * table: the base aggregate is keys-cardinality-sized, so the union's
    * shuffle is tiny next to re-aggregating the raw history. Result ≡
    * aggregating base-raw ∪ delta-raw from scratch (q76 proves it on the
    * oracle surface). */
  def mergeAggregates(baseAgg: DataFrame, deltaAgg: DataFrame, keys: Seq[String],
                      sumCols: Seq[String], minCols: Seq[String] = Nil,
                      maxCols: Seq[String] = Nil): DataFrame = {
    require(baseAgg.columns.sorted.sameElements(deltaAgg.columns.sorted),
      "aggregate frames must share a schema")
    val merged = sumCols.map(c => sum(col(c)).as(c)) ++
      minCols.map(c => min(col(c)).as(c)) ++ maxCols.map(c => max(col(c)).as(c))
    baseAgg.unionByName(deltaAgg)
      .groupBy(keys.map(col): _*)
      .agg(merged.head, merged.tail: _*)
  }

  /** CDC snapshot diff — classify every key as inserted / deleted /
    * updated between two versions of a table (unchanged rows drop out).
    * One full-outer join on the key (single shuffle per side); values compare
    * null-safely so NULL→NULL is "unchanged" and NULL→value is an update.
    * Output: key columns + `action`. The feed every SCD/merge pipeline
    * wants from upstream when the source can't emit a changelog. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String]): DataFrame = {
    require(oldSnap.columns.sorted.sameElements(newSnap.columns.sorted),
      s"diff schema mismatch: ${oldSnap.columns.mkString(",")} vs ${newSnap.columns.mkString(",")}")
    val valueCols = oldSnap.columns.filterNot(keys.contains).toSeq
    val n = newSnap.columns.foldLeft(newSnap)((d, c) => d.withColumnRenamed(c, "__n_" + c))
      .withColumn("__n_hit", lit(true))
    val o = oldSnap.withColumn("__o_hit", lit(true))
    val cond = keys.map(k => col(k) <=> col("__n_" + k)).reduce(_ && _)
    val changed = valueCols.map(c => !(col(c) <=> col("__n_" + c)))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, cond, "full_outer")
      .withColumn("action",
        when(col("__o_hit").isNull, lit("inserted"))
          .when(col("__n_hit").isNull, lit("deleted"))
          .when(changed, lit("updated")))
      .filter(col("action").isNotNull)
      .select(keys.map(k => coalesce(col(k), col("__n_" + k)).as(k)) :+ col("action"): _*)
  }

  /** UPDATE .. WHERE key IN (subquery) as read→when→rewrite.
    * Reference: etl_manager.py:821-866 (J6). Keys dataframe is expected to
    * be registry-scale → broadcast semi-join, no shuffle of the fact side.
    */
  def updateWhereIn(target: DataFrame, keyRows: DataFrame, keys: Seq[String],
                    assignments: Map[String, Column]): DataFrame = {
    val marked = target.join(
      broadcast(keyRows.select(keys.map(col): _*).distinct().withColumn("__hit", lit(1))),
      keys, "left")
    val updated = assignments.foldLeft(marked) { case (df, (c, v)) =>
      df.withColumn(c, when(col("__hit") === 1, v).otherwise(col(c)))
    }
    updated.drop("__hit").select(target.columns.map(col): _*)
  }
}
