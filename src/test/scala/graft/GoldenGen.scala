package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
/** Dev tool: regenerate the golden files for the three non-SQL-expressible
  * (no_oracle) queries at sf0.001. Run when their parameters are
  * intentionally changed; GoldenSpec pins the behavior in between.
  * Usage: sbt "Test/runMain graft.GoldenGen" */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.001"
    val out = "src/test/resources/golden"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def dump(name: String, cols: Seq[String]): Unit = {
      val rows = graft.Queries.queries(name)(spark, dir)
        .select(cols.map(col): _*)
        .collect()
        .map(_.toSeq.mkString(","))
        .sorted
      Files.write(Paths.get(s"$out/$name.csv"), (cols.mkString(",") +: rows.toSeq).mkString("\n").getBytes)
      println(s"[golden] $name: ${rows.length} rows")
    }
    dump("q_minhash_lsh", Seq("id_a", "id_b"))
    dump("q_simhash_pairs", Seq("id_a", "id_b", "hamming"))
    dump("q_ann_lsh", Seq("vec_id", "neighbour_id", "rank"))
    dump("q_ann_ivf", Seq("vec_id", "neighbour_id", "rank"))
    spark.stop()
  }
}
