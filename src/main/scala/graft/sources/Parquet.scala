package graft.sources

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The program's one parquet reader: `spark.read.parquet` without the
  * schema-inference job.
  *
  * A schema-less `spark.read.parquet` starts one Spark job to read footers,
  * even for a single file. With `mergeSchema` off that job reads exactly
  * one footer: `_common_metadata` if present, else `_metadata`, else the
  * first data file in path order. This reader reads that same footer on
  * the driver and passes the schema in, so the DataFrame is built without
  * a job and with the schema Spark would have inferred — the way table
  * formats take the schema from table metadata instead of inferring it
  * from data files. Partition columns (`k=v` dirs below a path) are still
  * discovered by Spark. */
object Parquet {

  /** Open `paths` (files, directories or globs) as one DataFrame. Falls
    * back to plain `spark.read.parquet` when `mergeSchema` is on or no
    * footer can be read, so errors (a missing path, no data files) are
    * Spark's own. Finding the footer lists every path once on the driver,
    * as Spark's file index does again when the DataFrame is built. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    open(spark, paths, footerSchema(spark, paths))

  /** `read` for paths already known to be parquet DATA files (no
    * directories, globs or summary files), such as a table's live files:
    * the footer is then the first path in order, found without listing. */
  def readFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    open(spark, files, schemaFrom(spark) { conf =>
      val qualified = files.map { p =>
        val path = new Path(p)
        path.getFileSystem(conf).makeQualified(path)
      }
      qualified.minByOption(_.toString).map(f => f.getFileSystem(conf).getFileStatus(f))
    })

  /** The schema Spark infers for `paths` with `mergeSchema` off, read from
    * one footer on the driver; None when `mergeSchema` is on or no footer
    * can be read. */
  def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    schemaFrom(spark) { conf =>
      // Spark's choice (ParquetUtils.inferSchema; its splitFiles is
      // private): leaves sorted by path, then the first common summary,
      // else the first summary, else the first data file
      val leaves = paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        roots(fs, path).flatMap(leafFiles(fs, _)).map(f => fs.makeQualified(f.getPath).toString -> f)
      }.sortBy(_._1).map(_._2)
      def named(n: String) = leaves.find(_.getPath.getName == n)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(leaves.find(f => !Summaries.contains(f.getPath.getName)))
    }

  private val Summaries =
    Set(ParquetFileWriter.PARQUET_METADATA_FILE, ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)

  private def open(spark: SparkSession, paths: Seq[String], schema: Option[StructType]): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The schema in the footer `pick` chooses; None when `mergeSchema` is
    * on, `pick` finds no file, or anything on the way fails. */
  private def schemaFrom(spark: SparkSession)(pick: Configuration => Option[FileStatus]): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (sqlConf.isParquetSchemaMergingEnabled) None
    else Try {
      val conf = spark.sessionState.newHadoopConf()
      pick(conf).map { f =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        // Spark's row-metadata key when present, else the converter
        // configured from the session conf
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, meta), new ParquetToSparkSchemaConverter(sqlConf))
      }
    }.toOption.flatten
  }

  private def roots(fs: FileSystem, path: Path): Seq[FileStatus] =
    if (path.toString.exists("{}[]*?\\".contains(_)))
      Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Nil)
    else Seq(fs.getFileStatus(path))

  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (st.isDirectory)
      fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(leafFiles(fs, _))
    else Seq(st)

  /** Names Spark's file index skips (HadoopFSUtils.shouldFilterOutPathName). */
  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
  }
}
