package graft

import org.apache.spark.sql.functions._
import graft.plans.CosineSim

/** Native CosineSim expression: equivalence with the composed built-in
  * version, codegen path, SQL registration, and edge cases. */
class CosineSimSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("expression matches zip_with/aggregate composition bit-for-bit on real embeddings") {
    val q = emb.where($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val both = emb.select(
      $"vec_id",
      CosineSim.cosineSim($"embedding", typedlit(q)).as("fast"),
      Oracles.cosine($"embedding", typedlit(q)).as("ref"))
    assert(both.where($"fast" =!= $"ref").count() == 0)
    assert(both.where($"fast".isNull =!= $"ref".isNull).count() == 0)
  }

  test("interpreted eval matches codegen eval") {
    // force interpreted path via a row-by-row local eval through collect on
    // a non-codegen context: compare two plans (codegen on by default; the
    // nullSafeEval path is covered via the driver-side expression eval)
    val a = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = a.select(CosineSim.cosineSim($"a", $"b")).head().getDouble(0)
    val exp = (4.0 + 10.0 + 18.0) / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(got - exp) < 1e-12)
  }

  test("zero vector → 0.0; null input → null") {
    val df = Seq(
      (Seq(0.0f, 0.0f), Option(Seq(1.0f, 2.0f))),
      (Seq(1.0f, 2.0f), Option.empty[Seq[Float]]))
      .toDF("a", "b")
    val rows = df.select(CosineSim.cosineSim($"a", $"b").as("c")).collect()
    assert(rows(0).getDouble(0) == 0.0)
    assert(rows(1).isNullAt(0))
  }

  test("registered SQL function works and stays codegen (no CodegenFallback)") {
    CosineSim.register(spark)
    emb.createOrReplaceTempView("emb_v")
    val df = spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS sim
        |FROM emb_v a JOIN emb_v b ON b.vec_id = 0""".stripMargin)
    assert(df.count() == emb.count())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), "cosine_sim must run inside whole-stage codegen")
  }

  test("GraftExtensions injects cosine_sim for a fresh session (spark-submit path)") {
    import org.apache.spark.sql.SparkSession
    // extensions apply only when the builder actually CREATES a session —
    // getOrCreate would otherwise return the active suite session (whose
    // cosine_sim comes from the per-session register call in another test,
    // which made this test pass vacuously). Clear active/default so a
    // fresh session (sharing the context) is built with the extensions.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val r = s2.sql("SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c").head()
      assert(r.getDouble(0) == 1.0)
      // the full custom-expression surface is SQL-reachable
      assert(s2.sql("SELECT quant_cosine(array(3L, 4L), array(3L, 4L)) AS c")
        .head().getDouble(0) == 1.0)
      assert(s2.sql("SELECT size(char_shingle_hashes('abcd', 3)) AS n").head().getInt(0) == 2)
      assert(s2.sql("SELECT size(word_shingle_hashes('a b c d', 2)) AS n").head().getInt(0) == 3)
      assert(s2.sql("SELECT size(minhash_sig(array('x'), 8)) AS n").head().getInt(0) == 8)
      assert(s2.sql("SELECT simhash_text('hello world') AS f").head().getLong(0) != 0L)
      // non-literal width is rejected with a clear message, not garbage codegen
      val e = intercept[Exception](
        s2.sql("SELECT char_shingle_hashes('ab', CAST(length('abc') AS INT) + id) FROM range(1)")
          .collect())
      assert(e.getMessage.contains("literal") ||
        Option(e.getCause).exists(_.getMessage.contains("literal")))
    } finally {
      // do not stop: shares the SparkContext with the suite session;
      // restore BOTH registries (we cleared default above)
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("length mismatch raises a clear error") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f))).toDF("a", "b")
    val e = intercept[Exception] { df.select(CosineSim.cosineSim($"a", $"b")).collect() }
    assert(e.getMessage.contains("length mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("length mismatch")))
  }

  test("quantCosine: exact-integer accumulation, long/double inputs, edge cases") {
    import graft.plans.QuantCosine
    // integral doubles vs longs: same value; matches the hand-computed
    // fixed op sequence (double)dot / sqrt((double)na * (double)nb)
    val d = Seq((Seq(3.0, -4.0, 0.0), Seq(6.0, 8.0, 1.0))).toDF("a", "b")
    val l = Seq((Seq(3L, -4L, 0L), Seq(6L, 8L, 1L))).toDF("a", "b")
    val exp = (3.0 * 6 - 4 * 8 + 0).toDouble / math.sqrt(25.0 * 101.0)
    assert(d.select(QuantCosine.quantCosine($"a", $"b")).head().getDouble(0) == exp)
    assert(l.select(QuantCosine.quantCosine($"a", $"b")).head().getDouble(0) == exp)
    // zero norm and length mismatch → 0.0 (never null on non-null input)
    val z = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0)), (Seq(1.0), Seq(1.0, 2.0)))
      .toDF("a", "b")
    assert(z.select(QuantCosine.quantCosine($"a", $"b")).collect().map(_.getDouble(0)).toSeq
      == Seq(0.0, 0.0))
    // quantization at scale 2^20 on real float embeddings ranks identically
    // to FP cosine on this data (sanity: top-1 neighbour of vec 0 agrees)
    val q = emb.select($"vec_id", QuantCosine.quantizeEmb($"embedding").as("qe"))
    val probe = q.where($"vec_id" === 0).head().getSeq[Double](1)
    val fpProbe = emb.where($"vec_id" === 0).head().getSeq[Float](1)
    def top(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.where($"vec_id" =!= 0).orderBy(c.desc, $"vec_id").select($"vec_id").head().getLong(0)
    assert(top(q, QuantCosine.quantCosine($"qe", typedlit(probe)))
      == top(emb, CosineSim.cosineSim($"embedding", typedlit(fpProbe))))
  }

  test("cosineDupPairs: full probe equals brute-force pairs; partial probe is a subset") {
    import graft.operators.Similarity
    import graft.plans.QuantCosine
    val q = emb.select($"vec_id", QuantCosine.quantizeEmb($"embedding").as("qe"))
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val brute = q.as("a").join(q.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id",
        QuantCosine.quantCosine($"a.qe", $"b.qe").as("c"))
      .where($"c" >= 0.3).collect().map(key).toSet
    val full = Similarity.cosineDupPairs(q, $"vec_id", $"qe", 0.3,
      nLists = 32, nProbe = 32, sim = QuantCosine.quantCosine).collect().map(key).toSet
    assert(full == brute && brute.nonEmpty)
    val partial = Similarity.cosineDupPairs(q, $"vec_id", $"qe", 0.3,
      nLists = 32, nProbe = 8, sim = QuantCosine.quantCosine).collect().map(key).toSet
    assert(partial.subsetOf(brute), "partial probe must never invent pairs")
  }
}
