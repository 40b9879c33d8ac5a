package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import graft.functions.{Gorilla, GorillaAgg}
import graft.sources.TranscriptGen

/** Gorilla codec properties (SURVEY.md §5.3): round-trip, merge
  * associativity, and Spark-aggregate equivalence (salted == unsalted). */
class GorillaSpec extends SparkSpec {

  /** ScalaCheck without the scalatestplus bridge (offline cache has only
    * scalacheck itself): run 200 cases, fail the suite on any counterexample. */
  private def check(p: Prop): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private val pointGen: Gen[(Long, Double)] = for {
    t <- Gen.chooseNum(0L, 4102444800000000L) // µs up to year 2100
    v <- Gen.oneOf(
      Gen.chooseNum(-1e9, 1e9),
      Gen.oneOf(0.0, -0.0, 1.0, -1.0, Double.MinPositiveValue, 1e300, -1e300),
      Gen.chooseNum(-100.0, 100.0).map(math.floor)) // constant-ish runs
  } yield (t, v)

  private val seriesGen: Gen[List[(Long, Double)]] = Gen.listOf(pointGen)

  private def canon(s: Seq[(Long, Double)]): Seq[(Long, Double)] =
    s.sortBy { case (t, v) => (t, java.lang.Double.doubleToRawLongBits(v)) }

  private def decodeSeq(block: Array[Byte]): Seq[(Long, Double)] = {
    val (ts, vs) = Gorilla.decode(block)
    ts.zip(vs).toSeq
  }

  test("decode(encode(s)) == s for arbitrary series (incl. sign flips, extremes)") {
    check(Prop.forAll(seriesGen) { s =>
      decodeSeq(Gorilla.encode(s)) == canon(s)
    })
  }

  test("merge(encode(a), encode(b)) == encode(a ++ b) — associative block merge") {
    check(Prop.forAll(seriesGen, seriesGen) { (a, b) =>
      Gorilla.merge(Gorilla.encode(a), Gorilla.encode(b)).sameElements(Gorilla.encode(a ++ b))
    })
  }

  test("merge is order-independent (commutative) and handles empty blocks") {
    check(Prop.forAll(seriesGen, seriesGen) { (a, b) =>
      val ab = Gorilla.merge(Gorilla.encode(a), Gorilla.encode(b))
      val ba = Gorilla.merge(Gorilla.encode(b), Gorilla.encode(a))
      ab.sameElements(ba)
    })
    assert(Gorilla.merge(Array.emptyByteArray, Array.emptyByteArray).isEmpty)
    val one = Gorilla.encode(Seq((42L, 1.5)))
    assert(Gorilla.merge(one, Array.emptyByteArray).sameElements(one))
  }

  test("regular series compresses well (delta-of-delta + xor payoff)") {
    // 1-minute cadence, slowly varying integer-ish values — the tier shape.
    val s = (0 until 5000).map(i => (i * 60000000L, (100 + (i % 7)).toDouble))
    val block = Gorilla.encode(s)
    val bytesPerPoint = block.length.toDouble / s.length
    assert(decodeSeq(block) == canon(s))
    assert(bytesPerPoint < 3.0, f"bytes/point $bytesPerPoint%.2f — expected < 3 on regular data")
  }

  test("Spark aggregate: gorilla blocks match local encode, salted merge identical") {
    import spark.implicits._
    val df = TranscriptGen
      .withMeasures(TranscriptGen.turns(spark, nConvs = 12L, withDuplicates = false).toDF)
      .select($"conv_id", $"ts", $"text_len")
      .cache()

    val tier = GorillaAgg
      .compressedTier(df, $"conv_id", $"ts", $"text_len", "1 day")
      .collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[java.sql.Timestamp]("bucket_start")) ->
        r.getAs[Array[Byte]]("block"))
      .toMap

    // local oracle: same grouping computed on the driver
    val local = df
      .withColumn("b", date_trunc("day", $"ts"))
      .select($"conv_id", $"b", unix_micros($"ts".cast("timestamp")).as("tus"), $"text_len")
      .collect()
      .groupBy(r => (r.getAs[String]("conv_id"), r.getAs[java.sql.Timestamp]("b")))
      .map { case (k, rows) =>
        k -> Gorilla.encode(rows.toSeq.map(r => (r.getAs[Long]("tus"), r.getAs[Double]("text_len"))))
      }

    assert(tier.keySet == local.keySet)
    tier.foreach { case (k, block) =>
      assert(block.sameElements(local(k)), s"block mismatch for $k")
    }

    // repartition to a different layout → identical blocks (merge determinism)
    val tier2 = GorillaAgg
      .compressedTier(df.repartition(13), $"conv_id", $"ts", $"text_len", "1 day")
      .collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[java.sql.Timestamp]("bucket_start")) ->
        r.getAs[Array[Byte]]("block"))
      .toMap
    tier2.foreach { case (k, b) => assert(b.sameElements(tier(k))) }
  }
}
