package graft.vault

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Warehouse
import graft.ops.Relational

/** Data Vault 2.0 builders and loaders — the native replacement for the
  * reference's dbt staging/raw-vault models (implied by column conventions
  * at reference utlis/etl_manager.py:894,1231 and the entity taxonomy at
  * :661-681): hubs, links, and SCD2 satellites keyed by md5 hash keys with
  * `load_date` / `record_source` / `load_end_date` metadata columns.
  *
  * The builders are pure DataFrame transforms. The two loaders hold the
  * load policy every writer of `raw_vault` shares (the daily, multi-source
  * and streaming paths):
  *   - [[loadNewKeys]]: hubs and links are insert-only — a key's first
  *     sighting, with its load_date and record_source, is permanent;
  *   - [[loadSatellite]]: satellites are re-versioned — the stored versions
  *     plus the delta go through the same versioning step as [[satellite]],
  *     so unchanged rows add nothing, a changed key's old version closes on
  *     the new load date, and replaying a load changes nothing.
  *
  * Scale notes (the 100 TB contract):
  *   - hash keys are md5 over concat_ws of business keys — uniformly
  *     distributed, so every downstream groupBy/join on them partitions
  *     evenly (no skew, no salting needed).
  *   - hub/link builds are one aggregate (map-side partial) on the business
  *     keys; satellite versioning is one shuffle on the hash key feeding
  *     both window passes (change compression and close-off share one
  *     window spec — Catalyst plans a single Exchange).
  *   - a hub/link load is an anti-join against the stored hash keys plus
  *     an append; a satellite load rewrites the table once.
  *   - nothing collects; everything composes as DataFrames.
  */
object Vault {

  private val RawVault = "raw_vault"

  /** Data Vault hash key: md5 of '||'-joined business key columns, cast to
    * string — matches Trino to_hex(md5(to_utf8(...)))'s hex-string shape
    * (reference backup_nessie_postgres.py:88).
    *
    * NULL columns serialize as a NUL (U+0000) sentinel (concat_ws silently SKIPS
    * nulls, which would make (NULL,'x') and ('x',NULL) collide — standard
    * DV hashing keeps null, empty, and absent distinguishable). DuckDB
    * mirror: md5(coalesce(CAST(c AS VARCHAR), chr(0)) || '||' || ...). */
  def hashKey(cols: Seq[Column]): Column =
    md5(concat_ws("||",
      cols.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*))

  /** Hash-diff over attribute columns for satellite change detection. */
  def hashDiff(cols: Seq[Column]): Column = hashKey(cols)

  /** Hub: one row per distinct business key, dated by its earliest sighting
    * (`min(loadDate)`; a literal date is that date).
    * Output: hub_{name}_hash_key, business keys, load_date, record_source. */
  def hub(src: DataFrame, name: String, businessKeys: Seq[String],
          loadDate: Column, recordSource: String): DataFrame =
    src.groupBy(businessKeys.map(col): _*).agg(min(loadDate).as("load_date"))
      .select(
        hashKey(businessKeys.map(col)).as(s"hub_${name}_hash_key") +:
          businessKeys.map(col) :+
          col("load_date") :+
          lit(recordSource).as("record_source"): _*)

  /** Link: one row per distinct combination of parent hub keys.
    * keyMap = (hubName -> its business key columns in src). */
  def link(src: DataFrame, name: String, keyMap: Seq[(String, Seq[String])],
           loadDate: Column, recordSource: String): DataFrame = {
    val allKeys = keyMap.flatMap(_._2)
    val hubKeyCols = keyMap.map { case (hubName, keys) =>
      hashKey(keys.map(col)).as(s"hub_${hubName}_hash_key")
    }
    src.select(allKeys.distinct.map(col): _*).distinct()
      .select(
        hashKey(allKeys.map(col)).as(s"link_${name}_hash_key") +:
          hubKeyCols :+
          loadDate.as("load_date") :+
          lit(recordSource).as("record_source"): _*)
  }

  /** Point-in-time reconstruction over an SCD2 satellite: the version
    * current AT `asOf` per hash key — load_date ≤ asOf < load_end_date
    * (open versions have NULL end). Row-level time travel as a pure
    * filter: the close-off did the work at build time, so reconstructing
    * any historical state costs one scan — no window, no join, no
    * version-log walk (complements Warehouse.readAt's version-level
    * travel). */
  def snapshotAt(sat: DataFrame, asOf: Column): DataFrame =
    sat.filter(col("load_date") <= asOf &&
      (col("load_end_date").isNull || col("load_end_date") > asOf))

  /** SCD2 satellite built from every load in one call: the staging
    * projection of `src` through the versioning step. The reference's
    * implied satellite contract (etl_manager.py:1231) made explicit;
    * tie-break columns make versioning deterministic under same-day loads.
    * Output: sat_{name}_hash_key, load_date, load_end_date, hash_diff,
    * attrs. */
  def satellite(src: DataFrame, name: String, businessKeys: Seq[String],
                attrs: Seq[String], loadCol: String,
                tieBreak: Seq[String] = Nil): DataFrame =
    versions(stage(src, name, businessKeys, attrs, col(loadCol), tieBreak),
      name, attrs, tieBreak)

  /** Satellite staging projection: hash key, load_date, hash_diff and the
    * attrs, plus the tie-break columns the versioning orders by. */
  private def stage(src: DataFrame, name: String, businessKeys: Seq[String],
                    attrs: Seq[String], loadDate: Column,
                    tieBreak: Seq[String]): DataFrame =
    src.select(
      hashKey(businessKeys.map(col)).as(s"sat_${name}_hash_key") +:
        loadDate.as("load_date") +:
        hashDiff(attrs.map(col)).as("hash_diff") +:
        (attrs ++ tieBreak).map(col): _*)

  /** SCD2 versioning of staged rows: per hash key in load order, drop every
    * row whose hash_diff equals the previous row's (change compression),
    * then close each kept version at the next one's load_date (NULL =
    * open). hash_diff breaks the ties left after `tieBreak`, so equal rows
    * sit next to each other and a replayed row always compresses away. */
  private def versions(staged: DataFrame, name: String, attrs: Seq[String],
                       tieBreak: Seq[String]): DataFrame = {
    val hk = s"sat_${name}_hash_key"
    val w = Window.partitionBy(col(hk))
      .orderBy(("load_date" +: tieBreak :+ "hash_diff").map(col(_).asc): _*)
    staged
      .withColumn("__prev", lag(col("hash_diff"), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col("hash_diff"))
      .withColumn("load_end_date", lead(col("load_date"), 1).over(w))
      .select((Seq(hk, "load_date", "load_end_date", "hash_diff") ++ attrs).map(col): _*)
  }

  /** Insert-only load of a hub or link (rows from [[hub]] / [[link]]) into
    * raw_vault.{table}, keyed on `{table}_hash_key`: the first load creates
    * the table; later loads append only the rows whose hash key the table
    * does not hold yet; a load with no new key commits nothing. Returns
    * the table's current version. */
  def loadNewKeys(wh: Warehouse, table: String, rows: DataFrame): Long = {
    val hk = s"${table}_hash_key"
    wh.append(RawVault, table,
      if (wh.exists(RawVault, table))
        Relational.antiJoin(rows, wh.read(RawVault, table).select(hk), Seq(hk))
      else rows)
  }

  /** Load one delta of source rows, dated by `loadDate`, into the SCD2
    * satellite raw_vault.sat_{name}: the first load creates the table;
    * later loads re-version the stored rows (load_end_date dropped) plus
    * the delta and overwrite the table. Equal to [[satellite]] over every
    * load so far as long as deltas arrive in load-date order; a replayed
    * delta changes nothing. Returns the committed version. */
  def loadSatellite(wh: Warehouse, src: DataFrame, name: String,
                    businessKeys: Seq[String], attrs: Seq[String],
                    loadDate: Column): Long = {
    val table = s"sat_$name"
    val delta = stage(src, name, businessKeys, attrs, loadDate, Nil)
    val all =
      if (wh.exists(RawVault, table))
        wh.read(RawVault, table).drop("load_end_date").unionByName(delta)
      else delta
    wh.overwrite(RawVault, table, versions(all, name, attrs, Nil))
  }
}
