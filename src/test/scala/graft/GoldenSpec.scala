package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Hard signal for the three no_oracle (non-SQL-expressible) queries: their
  * output is DETERMINISTIC (seeded hyperplanes / seeded hash permutations /
  * fixed fingerprint blocks), so it is pinned against golden files at
  * sf0.001. Regenerate with graft.GoldenGen on an INTENTIONAL
  * parameter change; anything else failing here is a behavior regression
  * the driver's rows-only check would miss. */
class GoldenSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def golden(name: String): (Seq[String], Set[String]) = {
    val lines = Files.readAllLines(
      Paths.get(s"src/test/resources/golden/$name.csv")).asScala.toSeq
    (lines.head.split(",").toSeq, lines.tail.toSet)
  }

  private def check(name: String): Unit = {
    val (cols, want) = golden(name)
    val got = Queries.queries(name)(spark, dir)
      .select(cols.map(col): _*)
      .collect()
      .map(_.toSeq.mkString(","))
      .toSet
    val missing = want -- got
    val extra = got -- want
    assert(missing.isEmpty && extra.isEmpty,
      s"$name drifted from golden: missing=${missing.take(5)} extra=${extra.take(5)} " +
        s"(want ${want.size} rows, got ${got.size})")
  }

  test("q_minhash_lsh matches its golden pair set (deterministic LSH)") { check("q_minhash_lsh") }
  test("q_simhash_pairs matches its golden pair set") { check("q_simhash_pairs") }
  test("q_ann_lsh matches its golden top-k (incl. ranks)") { check("q_ann_lsh") }
  test("q_ann_ivf matches its golden top-k (incl. ranks)") { check("q_ann_ivf") }
}
