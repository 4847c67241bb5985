package graft.core

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet reads that start no Spark job. `spark.read.parquet(paths)`
  * infers the schema with a one-task job; this reads the same schema on
  * the driver, from the footer of the data file Spark's inference would
  * open, and hands it to `spark.read.schema`. The fixtures ([[Tables]])
  * and the [[Warehouse]]'s unpartitioned tables both read through here. */
private[core] object ParquetFooter {

  /** Spark's file listing skips `_`- and `.`-prefixed names (`_SUCCESS`,
    * `.crc` checksums). */
  def isDataFile(name: String): Boolean = !name.startsWith("_") && !name.startsWith(".")

  /** `spark.read.parquet(paths)`, with the footer schema when there is one. */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    schema(spark, paths).fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))

  /** The schema `spark.read.parquet(paths)` infers, read on the driver;
    * each path is a data file or a flat directory of them. Without schema
    * merging Spark takes it from the data file with the smallest full
    * path, as the Spark schema JSON in that file's footer. None, and so
    * Spark's own inference job, when schema merging is on, when there is
    * no data file (or no such path: Spark names the error), or when the
    * footer carries no Spark schema (a file Spark did not write). */
  def schema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      def list(p: Path): Seq[FileStatus] =
        try p.getFileSystem(conf).listStatus(p).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      paths.flatMap(p => list(new Path(p)))
        .filter(f => f.isFile && isDataFile(f.getPath.getName))
        .minByOption(_.getPath.toString)
        .flatMap { f =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
            HadoopReadOptions.builder(conf).withMetadataFilter(SKIP_ROW_GROUPS).build())
          val json = try Option(reader.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata")) finally reader.close()
          json.flatMap(j => Try(DataType.fromJson(j)).toOption).collect { case s: StructType => s }
        }
    }
}
