package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S2: pattern-based dataset discovery — the engine form of the reference's
  * bucket listing + regex selection (`str_subset(dataset_paths, "sleeplogs$")`,
  * /root/reference/scripts/etl/fetch-data.R:45-56;
  * /root/reference/scripts/daily-measures.R:5). A storage root is listed
  * ONCE (one metadata RPC) and datasets are chosen by name regex, so
  * pipelines bind to naming conventions instead of hard-coded paths. */
object Catalog {

  /** List the entries directly under `root` and keep those whose NAME
    * matches `pattern` (regex, `findFirstIn` semantics like str_subset).
    * Returns full paths, name-sorted for determinism. */
  def discoverTables(spark: SparkSession, root: String, pattern: String): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val re = pattern.r
    fs.listStatus(rootPath).toSeq
      .map(_.getPath)
      .filter(p => re.findFirstIn(p.getName).isDefined)
      .sortBy(_.getName)
      .map(_.toString)
  }

  /** Dataset name (dir or file basename without .parquet) → path. */
  def discoverByName(spark: SparkSession, root: String, pattern: String): Seq[(String, String)] =
    discoverTables(spark, root, pattern).map { p =>
      new Path(p).getName.stripSuffix(".parquet") -> p
    }

  /** Open one discovered parquet dataset. */
  def open(spark: SparkSession, path: String): DataFrame = Parquet.read(spark, path)
}
