package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.ops.Relational

/** Versioned parquet warehouse — the engine's replacement for the
  * reference's Iceberg tables (mutable ACID surface + metadata log +
  * information_schema; SURVEY §1.1).
  *
  * Layout per table `root/schema/table/`:
  *   data/v{N}/        parquet data written at version N
  *   _log/v{N}.list    newline-separated data dirs visible at version N
  *   _current          single line: latest committed version number
  *
  * Commit protocol (single-writer batch, like the reference's daily run):
  * write data dir → write version list → write `_current.tmp` → rename over
  * `_current`. Readers resolve `_current` → version list → parquet dirs, so
  * a crash mid-write leaves the previous version fully readable (the new
  * data dir is an orphan for OrphanSweep to collect — exactly Iceberg's
  * failure mode). The `_log` dir doubles as the `$metadata_log_entries`
  * system-table equivalent the housekeeping jobs scan
  * (reference utlis/clean_metadata.py:54-57).
  *
  * Reads start no Spark job. Iceberg keeps a table's schema in its
  * metadata; here the driver reads it from the footer of the version's
  * data file with the smallest path, the file Spark's own inference would
  * open, and hands it to `spark.read.schema`. Spark's inference job runs
  * instead for a partitioned table (partition column types come from the
  * directory names), with `spark.sql.parquet.mergeSchema` on, and for a
  * version with no data file or whose footer Spark did not write (a
  * foreign dir given to `registerTable`).
  *
  * This is the engine's only table store. MERGE/UPDATE/DELETE are join-and-
  * rewrite over the current version (reference executes them in
  * Trino/Iceberg: utlis/etl_manager.py:195-353, 617-709) — semantics
  * identical for single-writer batch. `merge` commits
  * Relational.mergeAsRewrite; UPDATE is a `when` rewrite and DELETE a
  * Relational.antiJoin over `read`, committed with `overwrite`.
  */
class Warehouse(spark: SparkSession, root: String) {

  private val rootPath = new Path(root)
  private def fs: FileSystem = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tableDir(schema: String, table: String): String = s"$root/$schema/$table"

  private def currentPath(dir: String) = new Path(s"$dir/_current")
  private def logPath(dir: String, v: Long) = new Path(s"$dir/_log/v$v.list")

  private def writeFile(p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readFile(p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(bytes); new String(bytes, StandardCharsets.UTF_8)
    } finally in.close()
  }

  def currentVersion(schema: String, table: String): Long = {
    val dir = tableDir(schema, table)
    val p = currentPath(dir)
    if (fs.exists(p)) readFile(p).trim.toLong
    else {
      // recovery path: version lists are committed BEFORE the pointer swap
      // (and their data dirs before them), so when a crash lands between
      // delete and rename of `_current`, the max committed list is a fully
      // readable version — `_current` is a fast-path cache, not the truth
      val logDir = new Path(s"$dir/_log")
      if (!fs.exists(logDir)) 0L
      else fs.listStatus(logDir).map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".list") =>
          n.stripPrefix("v").stripSuffix(".list").toLong }
        .foldLeft(0L)(math.max)
    }
  }

  def exists(schema: String, table: String): Boolean =
    currentVersion(schema, table) > 0

  /** Data dirs visible at the given (default current) version. */
  def dataDirs(schema: String, table: String, version: Long = -1L): Seq[String] = {
    val dir = tableDir(schema, table)
    val v = if (version < 0) currentVersion(schema, table) else version
    if (v == 0) Seq.empty
    else readFile(logPath(dir, v)).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .map(e => if (e.startsWith("/") || e.contains("://")) e else s"$dir/$e")
  }

  /** Whether version `v`'s file list is on disk (the metadata-log prune
    * deletes the lists of retired versions). */
  def hasVersionLog(schema: String, table: String, v: Long): Boolean =
    fs.exists(logPath(tableDir(schema, table), v))

  def read(schema: String, table: String): DataFrame = {
    val dirs = dataDirs(schema, table)
    require(dirs.nonEmpty, s"no such table $schema.$table")
    readDirs(schema, table, dirs)
  }

  /** Time travel: read the table as of an earlier committed version (the
    * Iceberg snapshot-read equivalent — every version's file list survives
    * until OrphanSweep/pruneMetadataLog retire it). */
  def readAt(schema: String, table: String, version: Long): DataFrame = {
    val dirs = dataDirs(schema, table, version)
    require(dirs.nonEmpty, s"no version $version of $schema.$table")
    readDirs(schema, table, dirs)
  }

  /** An unpartitioned table reads with the schema in one data file's
    * footer ([[ParquetFooter]]), so opening it starts no Spark job.
    * A hive-partitioned table appended more than once has SEVERAL
    * partitioned roots (`data/v1/label=…`, `data/v2/label=…`) — Spark's
    * multi-path reader refuses to infer partitions across them
    * (CONFLICTING_DIRECTORY_STRUCTURES), so each version dir reads as its
    * own partitioned root and the versions union. Partition pruning still
    * applies per root (each scan keeps its partition columns). */
  private def readDirs(schema: String, table: String, dirs: Seq[String]): DataFrame =
    if (partitioning(schema, table).isEmpty)
      ParquetFooter.read(spark, dirs)
    else if (dirs.size > 1) {
      // an empty partitioned write leaves a dir with no parquet footers
      // (no partition values existed to create subdirs) — it contributes
      // no rows AND no inferable schema, so drop it from the union
      val nonEmpty = dirs.filter { d =>
        val it = fs.listFiles(new Path(d), true)
        var found = false
        while (!found && it.hasNext) found = ParquetFooter.isDataFile(it.next().getPath.getName)
        found
      }
      val use = if (nonEmpty.nonEmpty) nonEmpty else dirs
      use.map(spark.read.parquet(_)).reduce(_ unionByName _)
    } else spark.read.parquet(dirs: _*)

  private def commit(dir: String, v: Long, rels: Seq[String]): Unit = {
    writeFile(logPath(dir, v), rels.mkString("\n"))
    val tmp = new Path(s"$dir/_current.tmp")
    writeFile(tmp, v.toString)
    val cur = currentPath(dir)
    if (fs.exists(cur)) fs.delete(cur, false)
    fs.rename(tmp, cur)
  }

  /** Registered hive-partition columns for the table (sticky: rewrites —
    * compaction, MERGE — re-apply them so the layout survives). */
  def partitioning(schema: String, table: String): Seq[String] = {
    val p = new Path(s"${tableDir(schema, table)}/_partitioning")
    if (fs.exists(p)) readFile(p).trim.split(",").toSeq.filter(_.nonEmpty) else Seq.empty
  }

  private def resolvePartitioning(schema: String, table: String,
                                  requested: Seq[String]): Seq[String] = {
    val effective = if (requested.nonEmpty) requested else partitioning(schema, table)
    if (effective.nonEmpty)
      writeFile(new Path(s"${tableDir(schema, table)}/_partitioning"), effective.mkString(","))
    effective
  }

  /** Overwrite: new version referencing only the new data dir.
    * `partitionBy`: hive-style partition columns (the reference warehouse
    * partitions fact tables by etl_date/source_name — etl_manager.py:80-87
    * filters on both, so scans prune partitions for free; SURVEY §4).
    * Omitting it KEEPS the table's registered partitioning — otherwise a
    * compaction or MERGE rewrite would silently flatten the layout. */
  def overwrite(schema: String, table: String, df: DataFrame,
                partitionBy: Seq[String] = Nil): Long = {
    val dir = tableDir(schema, table)
    val parts = resolvePartitioning(schema, table, partitionBy)
    val v = currentVersion(schema, table) + 1
    df.write.mode("overwrite").partitionBy(parts: _*).parquet(s"$dir/data/v$v")
    commit(dir, v, Seq(s"data/v$v"))
    v
  }

  /** Append: new version referencing previous dirs plus the new one — no
    * data rewrite (the chunked-INSERT path, reference etl_manager.py:131-155).
    * Appending zero rows to an existing table commits nothing: the empty
    * data dir is deleted and the current version returned. The first append
    * creates the table even when empty, so only appends to an existing
    * table count their rows, as an Observation riding the write (no extra
    * Spark job). */
  def append(schema: String, table: String, df: DataFrame,
             partitionBy: Seq[String] = Nil): Long = {
    val dir = tableDir(schema, table)
    val parts = resolvePartitioning(schema, table, partitionBy)
    val cur = currentVersion(schema, table)
    val v = cur + 1
    val prev = if (cur == 0) Seq.empty else dataDirs(schema, table).map(_.stripPrefix(s"$dir/"))
    val written = Observation()
    (if (cur == 0) df else df.observe(written, count(lit(1)).as("rows")))
      .write.mode("overwrite").partitionBy(parts: _*).parquet(s"$dir/data/v$v")
    if (cur > 0 && written.get("rows") == 0L) {
      fs.delete(new Path(s"$dir/data/v$v"), true)
      cur
    } else {
      commit(dir, v, prev :+ s"data/v$v")
      v
    }
  }

  /** MERGE INTO as full-outer join-and-rewrite (Relational.mergeAsRewrite). */
  def merge(schema: String, table: String, source: DataFrame, keys: Seq[String]): Long =
    overwrite(schema, table, Relational.mergeAsRewrite(read(schema, table), source, keys))

  /** The metadata-log system table: (version, file) rows, one per log entry
    * — queryable like `"{t}$metadata_log_entries"`. */
  def metadataLog(schema: String, table: String): DataFrame = {
    import spark.implicits._
    val dir = tableDir(schema, table)
    val logDir = new Path(s"$dir/_log")
    val rows = if (!fs.exists(logDir)) Seq.empty[(Long, String, Long)]
    else fs.listStatus(logDir).toSeq.map { st =>
      val v = st.getPath.getName.stripPrefix("v").stripSuffix(".list").toLong
      (v, st.getPath.toString, st.getModificationTime)
    }
    rows.toDF("version", "file", "last_updated_ms")
  }

  /** Catalog backup manifest: one row per table with its current version
    * and data locations — everything needed to re-register the catalog
    * after metadata loss (reference backup_nessie_postgres.py:67-115, the
    * generated `register_table` CALLs). */
  def backupManifest(): DataFrame = {
    import spark.implicits._
    val rows = listTables().collect().map { r =>
      val (s, t) = (r.getString(0), r.getString(1))
      (s, t, currentVersion(s, t), dataDirs(s, t))
    }.toSeq
    rows.toDF("table_schema", "table_name", "version", "data_dirs")
  }

  /** Re-register a table from its data locations (restore path / external
    * registration — `CALL system.register_table` equivalent). Absolute
    * paths are stored as-is; relative entries resolve under the table dir. */
  def registerTable(schema: String, table: String, dirs: Seq[String]): Unit = {
    val dir = tableDir(schema, table)
    commit(dir, currentVersion(schema, table) + 1, dirs)
  }

  /** Restore every table in a backup manifest (no data movement — the data
    * dirs are the ground truth; only pointers are rebuilt). */
  def restore(manifest: DataFrame): Unit =
    manifest.collect().foreach { r =>
      registerTable(r.getAs[String]("table_schema"), r.getAs[String]("table_name"),
        r.getAs[scala.collection.Seq[String]]("data_dirs").toSeq)
    }

  /** information_schema.tables equivalent: scan the warehouse directory
    * tree for committed tables (reference utlis/clean_data.py:79-81). */
  def listTables(): DataFrame = {
    import spark.implicits._
    val rows = for {
      schemaDir <- if (fs.exists(rootPath)) fs.listStatus(rootPath).toSeq.filter(_.isDirectory) else Seq.empty
      tableDir <- fs.listStatus(schemaDir.getPath).toSeq.filter(_.isDirectory)
      if fs.exists(new Path(tableDir.getPath, "_current"))
    } yield (schemaDir.getPath.getName, tableDir.getPath.getName)
    rows.toDF("table_schema", "table_name")
  }
}
