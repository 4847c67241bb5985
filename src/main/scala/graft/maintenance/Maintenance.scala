package graft.maintenance

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Warehouse

/** Storage-maintenance jobs — the engine's version of the reference's
  * housekeeping DAGs:
  *   - compaction to ~500 MB files (reference utlis/clean_data.py:49
  *     `optimize(file_size_threshold => '500MB')`, monthly `0 12 1 * *`)
  *   - orphan-file sweep (clean_data.py:52 `remove_orphan_files(30d)` and
  *     the manual listing-vs-catalog set difference in
  *     clean_metadata.py:190-199,397-419, daily `0 6 * * *`)
  *   - metadata-log prune: keep current-month entries, else the latest
  *     (clean_metadata.py:339-343,367-394, monthly `0 12 L * *`)
  *
  * Each job here works on one table. The reference fans them out over
  * ThreadPools of 10-20 workers; Housekeeping's graphs run them one task
  * per table, `defaultParallelism` tables at a time, which is safe because
  * no two of them touch the same table.
  */
object Maintenance {

  val TargetFileBytes: Long = 500L * 1024 * 1024 // reference clean_data.py:49

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Total bytes of the table's current data files. */
  def tableBytes(spark: SparkSession, wh: Warehouse, schema: String, table: String): Long =
    wh.dataDirs(schema, table).map { d =>
      val p = new Path(d)
      val fs = fsOf(spark, p)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum

  /** Rewrite the table into ceil(bytes / 500MB) files — the `optimize` call.
    * Returns the new version (or -1 when the table is already a single
    * right-sized version; idempotent like Iceberg's optimize). */
  def compact(spark: SparkSession, wh: Warehouse, schema: String, table: String,
              targetBytes: Long = TargetFileBytes): Long = {
    val bytes = tableBytes(spark, wh, schema, table)
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val dirs = wh.dataDirs(schema, table)
    if (dirs.size == 1 && dataFileCount(spark, dirs.head) <= parts) -1L
    else wh.overwrite(schema, table, wh.read(schema, table).repartition(parts))
  }

  /** Parquet files under a data dir, partition subdirs included (names
    * starting with `_` or `.` are markers and checksums). */
  private def dataFileCount(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val it = fsOf(spark, p).listFiles(p, true)
    var n = 0
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) n += 1
    }
    n
  }

  /** Files on disk MINUS files any retained version references → delete.
    * `retainMs`: only files older than this horizon are deleted (the 30-day
    * guard). Returns deleted paths (sorted, for the housekeeping log).
    *
    * Fails closed: a version below current whose file list is absent was
    * retired by [[pruneMetadataLog]] and references nothing; any other
    * version that cannot be read (the current one included) throws before
    * anything is deleted, since its data would otherwise look orphaned. */
  def orphanSweep(spark: SparkSession, wh: Warehouse, schema: String, table: String,
                  retainMs: Long = 0L, now: Long = System.currentTimeMillis()): Seq[String] = {
    val dir = wh.tableDir(schema, table)
    val dataRoot = new Path(s"$dir/data")
    val fs = fsOf(spark, dataRoot)
    if (!fs.exists(dataRoot)) return Seq.empty
    val current = wh.currentVersion(schema, table)
    val referenced = (1L to current)
      .filter(v => v == current || wh.hasVersionLog(schema, table, v))
      .flatMap(v => wh.dataDirs(schema, table, v))
      .map(d => new Path(d).toUri.getPath).toSet
    val orphans = fs.listStatus(dataRoot).toSeq
      .filter(st => !referenced.contains(st.getPath.toUri.getPath))
      .filter(st => now - st.getModificationTime >= retainMs)
      .map(_.getPath)
    orphans.foreach(p => fs.delete(p, true))
    orphans.map(_.toUri.getPath).sorted
  }

  /** Keep current-month metadata-log entries; if none are current-month,
    * keep only the latest entry — the reference's retention policy. Returns
    * deleted log files. */
  def pruneMetadataLog(spark: SparkSession, wh: Warehouse, schema: String, table: String,
                       currentMonth: String): Seq[String] = {
    val log = wh.metadataLog(schema, table)
      .withColumn("month", date_format(timestamp_millis(col("last_updated_ms")), "yyyy-MM"))
    val rows = log.collect() // metadata-scale: one row per commit
    if (rows.isEmpty) return Seq.empty
    val current = wh.currentVersion(schema, table)
    val keep = rows.filter(r => r.getAs[String]("month") == currentMonth)
      .map(_.getAs[Long]("version")).toSet ++ Set(current, rows.map(_.getAs[Long]("version")).max)
    val doomed = rows.filter(r => !keep.contains(r.getAs[Long]("version")))
    val fsys = fsOf(spark, new Path(wh.tableDir(schema, table)))
    doomed.foreach(r => fsys.delete(new Path(r.getAs[String]("file")), false))
    doomed.map(_.getAs[String]("file")).sorted.toSeq
  }
}
