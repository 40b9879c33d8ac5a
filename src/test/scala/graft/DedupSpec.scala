package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

/** Dedup family + text functions + similarity search semantics on planted
  * fixtures (the driver's documents table has no true dups, so recall is
  * verified here). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox jumped over the lazy dog"), // near dup of 0
    (3L, "The  quick brown fox jumps over the lazy dog "), // case/ws dup of 0
    (4L, "completely different content about spark engines"),
    (5L, "ein kleines haus und der alte baum ist nicht hier"),
    (6L, "le chat est sur la table et je suis une personne"),
    (7L, "")).toDF("doc_id", "text").cache()

  test("exact dedup removes full-row duplicates (D1)") {
    assert(Dedup.exact(docs.union(docs)).count() == docs.count())
  }

  test("canonicalByContent unifies case/whitespace variants") {
    val canon = Dedup.canonicalByContent(docs, $"doc_id", $"text").collect()
    val byCopies = canon.map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("n_copies")).toMap
    assert(byCopies(0L) == 3L, "docs 0,1,3 share one normalized fingerprint")
  }

  test("ngram jaccard: near-dup scores high, unrelated scores low") {
    val g = docs.select($"doc_id", Oracles.ngramSet(lower($"text"), 3).as("ng"))
    val pairs = g.as("a").join(g.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"),
        Oracles.jaccard($"a.ng", $"b.ng").as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs((0L, 2L)) > 0.8)
    assert(pairs((0L, 4L)) < 0.2)
  }

  test("prefix-filtered jaccard join equals brute-force all-pairs (exactness)") {
    // wider fixture: the planted docs + perturbed copies to create pairs at
    // and around the threshold
    val extra = (10L to 29L).map { i =>
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      (i, if (i % 3 == 0) base else base + s" suffix${i % 5}")
    }
    val all = docs.union(extra.toDF("doc_id", "text")).where(length($"text") > 0)
    val g = all.select($"doc_id",
      transform(Oracles.ngramSet(lower($"text"), 3), sh => xxhash64(sh)).as("ng"))
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val brute = g.as("a").join(g.as("b"), $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
          Oracles.jaccard($"a.ng", $"b.ng").as("j"))
        .where($"j" >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val fast = Dedup.prefixJaccardPairs(g, $"doc_id", $"ng", t)
        .collect().map(r =>
          (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSet
      assert(fast == brute, s"threshold $t: prefix join must equal brute force")
      assert(brute.nonEmpty, s"fixture must produce pairs at t=$t")
    }
    // block keys restrict pairs to equal keys
    val withSrc = all.withColumn("src", ($"doc_id" % 2).cast("int"))
      .select($"doc_id", $"src",
        transform(Oracles.ngramSet(lower($"text"), 3), sh => xxhash64(sh)).as("ng"))
    val blocked = Dedup.prefixJaccardPairs(withSrc, $"doc_id", $"ng", 0.5,
      blockKeys = Seq("src" -> $"src")).collect()
    assert(blocked.nonEmpty)
    val bySrc = withSrc.select($"doc_id", $"src").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(blocked.forall(r => bySrc(r.getAs[Long]("id_a")) == bySrc(r.getAs[Long]("id_b"))))
  }

  test("blocked jaccard join: exact within blocks, oversized blocks dropped by the cap") {
    val extra = (10L to 29L).map { i =>
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      (i, if (i % 3 == 0) base else base + s" suffix${i % 5}")
    }
    val all = docs.union(extra.toDF("doc_id", "text")).where(length($"text") > 0)
      .withColumn("src", ($"doc_id" % 2).cast("int"))
    val g = all.select($"doc_id", $"src", Oracles.ngramSet(lower($"text"), 3).as("ng"))
    val brute = g.as("a").join(g.as("b"),
      $"a.doc_id" < $"b.doc_id" && $"a.src" === $"b.src")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"), Oracles.jaccard($"a.ng", $"b.ng").as("j"))
      .where($"j" >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the string shingles hashed and sorted, as charShingleHashes emits them
    val hashed = sort_array(transform(Oracles.ngramSet(lower($"text"), 3), s => xxhash64(s)))
    val fast = Dedup.blockedJaccardPairsHashed(all, $"doc_id", hashed, 0.5,
      blockKeys = Seq("src" -> $"src"))
      .collect().map(r =>
        (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSet
    assert(fast == brute && brute.nonEmpty)
    // cap: with maxBlockSize below the block population, blocks drop out
    val capped = Dedup.blockedJaccardPairsHashed(all, $"doc_id", hashed, 0.5,
      blockKeys = Seq("src" -> $"src"), maxBlockSize = 2)
    assert(capped.count() == 0, "both blocks exceed the cap of 2 → no pairs")
  }

  test("native charShingleHashes equals the composed ngramSet+hash form (incl. non-ASCII)") {
    // the composed reference form: sorted hashes of the distinct lowered
    // char 3-grams (ngramSet's short-text rule: <n chars → whole string)
    val multi = docs.union(Seq(
      (20L, "héllo wörld ünïcode ünïcode héllo"), // multi-byte UTF-8 chars
      (21L, "ab"), // shorter than n → whole-string shingle
      (22L, "日本語のテキストです 日本語")).toDF("doc_id", "text"))
    val rows = multi.select(
      graft.plans.TextHashes.charShingleHashes($"text", 3).as("nat"),
      sort_array(transform(Oracles.ngramSet(lower($"text"), 3), s => xxhash64(s))).as("comp"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("one-pass SimHashText equals composed simHash64(tokens(lower(text)))") {
    // edge shapes: leading/trailing/multiple separators (split(-1)'s empty
    // edge tokens), tabs surviving SQL trim, non-ASCII, empty, ws-only
    val edge = Seq((30L, "\tleading tab"), (31L, "trailing space "), (32L, "\t"),
      (33L, "  "), (34L, "a\t\tb\nc"), (35L, "héllo WÖRLD"), (36L, "one"))
      .toDF("doc_id", "text")
    val sample = docs.union(edge).union(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id" + 1000, $"text").toDF("doc_id", "text"))
    val cmp = sample.select(
      graft.plans.TextHashes.simHashText($"text").as("one"),
      Oracles.simHash64(TextFunctions.tokens(lower($"text"))).as("two"))
    assert(cmp.where($"one" =!= $"two").count() == 0)
  }

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs.where(length($"text") > 0), $"doc_id", $"text",
      threshold = 0.35).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("minhash LSH across the similarity spectrum: sound below threshold, complete above") {
    // planted pairs at graded similarity: doc 100 is the anchor; docs
    // 101..106 replace a growing suffix of its 12 words — true word-shingle
    // Jaccard decays from ~0.9 toward ~0.1, crossing the LSH band boundary
    val words = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12".split(" ")
    val graded = (0 to 6).map { k =>
      (100L + k, (words.dropRight(k * 2) ++ (1 to k * 2).map(i => s"z$i$k")).mkString(" "))
    }
    val df = graded.toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, $"doc_id", $"text", threshold = 0.35)
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    // exact jaccard per pair (driver-side, word 3-shingles)
    def shingles(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val truth = (for {
      a <- graded; b <- graded if a._1 < b._1
      sa = shingles(a._2); sb = shingles(b._2)
    } yield (a._1, b._1) -> sa.intersect(sb).size.toDouble / sa.union(sb).size).toMap
    // soundness: every returned pair is a true pair (verify step is exact)
    pairs.foreach { case (k, j) =>
      assert(math.abs(j - truth(k)) < 1e-9 && j >= 0.35, s"$k: returned $j true ${truth(k)}")
    }
    // completeness well above the threshold: banding (k=32, b=16, r=2) has
    // >=99% candidate probability at j>=0.6 — all such pairs must surface
    val strong = truth.filter(_._2 >= 0.6).keySet
    assert(strong.nonEmpty && strong.forall(pairs.contains),
      s"missing strong pairs: ${strong.filterNot(pairs.contains)}")
    // and nothing below the threshold leaks through
    assert(pairs.keySet.forall(k => truth(k) >= 0.35))
  }

  test("simhash: identical text → distance 0, near-dup small, unrelated large") {
    val fp = docs.select($"doc_id", Dedup.simhash64($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(0L), fp(1L)) == 0)
    assert(ham(fp(0L), fp(2L)) < 16)
    assert(ham(fp(0L), fp(4L)) > 16)
  }

  test("langId picks the marker language; empty → und") {
    val got = docs.select($"doc_id", TextFunctions.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "en" && got(5L) == "de" && got(6L) == "fr" && got(7L) == "und")
  }

  test("token count / quality handle empty text") {
    val r = docs.where($"doc_id" === 7)
      .select(size(TextFunctions.tokens($"text")), TextFunctions.qualityScore($"text")).head()
    assert(r.getInt(0) == 0)
    assert(!r.isNullAt(1))
  }

  test("embedding cosine + brute-force top-k vs hand computation") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs.where($"vec_id" =!= 0), $"vec_id", $"embedding",
      Seq(1.0f, 0.0f, 0.0f), 2).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(math.abs(top.head.getAs[Double]("sim") - 0.9 / math.sqrt(0.81 + 0.01)) < 1e-6)
  }

  test("packed RHP signature is bit-identical to the HOF reference form") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dims = emb.select(size($"embedding")).head().getInt(0)
    val nPlanes = 24
    val planes = Array.tabulate(nPlanes, dims)((p, d) => Similarity.planeComponent(p, d))
    val rows = emb.select(
      graft.plans.RhpSigPacked.rhpSigPacked($"embedding", planes).as("packed"),
      Oracles.rhpSignature($"embedding", nPlanes, dims).as("bits")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val packed = r.getLong(0)
      val bits = r.getSeq[Int](1)
      (0 until nPlanes).foreach { p =>
        assert(((packed >> p) & 1L).toInt == bits(p), s"plane $p differs")
      }
    }
    // degenerate inputs keep parity too: a null element (HOF nulls every
    // dot → all bits 0) and a length-mismatched vector (zip_with null-pads)
    val weird = spark.range(1).select(
      expr("array(cast(1.0 as float), cast(null as float))").as("e2"),
      expr("array(cast(1.0 as float))").as("eShort"))
    val w = weird.select(
      graft.plans.RhpSigPacked.rhpSigPacked($"e2", planes.map(_.take(2))),
      graft.plans.RhpSigPacked.rhpSigPacked($"eShort", planes)).head()
    assert(w.getLong(0) == 0L, "null element must zero the signature (HOF parity)")
    assert(w.getLong(1) == 0L, "length mismatch must zero the signature (HOF parity)")
  }

  test("LSH ANN recall vs brute force on real embeddings (sf0.001)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ann = Similarity.lshTopK(emb, $"vec_id", $"embedding", k = 5)
      .select($"vec_id", $"neighbour_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact top-5 for 20 sample queries via driver-side compute
    val all = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val sample = all.keys.toSeq.sorted.take(20)
    val hits = sample.map { q =>
      val exact = (all - q).map { case (i, v) => i -> cos(all(q), v) }
        .toSeq.sortBy(-_._2).take(5).map(_._1).toSet
      val got = ann.collect { case (a, b) if a == q => b }.toSet
      (exact intersect got).size.toDouble / 5.0
    }
    val recall = hits.sum / sample.size
    assert(recall >= 0.8, f"LSH recall@5 too low: $recall%.2f (defaults measured ~0.99)")
  }

  test("IVF ANN: recall@5 >= 0.9 vs brute force AND candidates bounded by list sizes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count().toDouble
    val ann = Similarity.ivfTopK(emb, $"vec_id", $"embedding", k = 5)
      .select($"vec_id", $"neighbour_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val sample = all.keys.toSeq.sorted.take(40)
    val hits = sample.map { q =>
      val exact = (all - q).map { case (i, v) => i -> cos(all(q), v) }
        .toSeq.sortBy(-_._2).take(5).map(_._1).toSet
      val got = ann.collect { case (a, b) if a == q => b }.toSet
      (exact intersect got).size.toDouble / 5.0
    }
    val recall = hits.sum / sample.size
    assert(recall >= 0.9, f"IVF recall@5 too low: $recall%.2f (defaults measured 0.94)")

    // the structural scale property: every vector sits in exactly ONE list,
    // lists stay balanced (Lloyd), and total candidates = Σ probed-list
    // sizes = n·nProbe/nLists — a bound set by parameters, not bucket luck.
    // On this near-uniform corpus 0.9 recall COSTS a ~0.6 fraction (recall
    // ≈ fraction probed is a property of uniform data); the point is the
    // fraction is chosen, bounded, and skew-free, where RHP banding at the
    // same recall silently degenerated to ~all pairs through ONE hot bucket.
    val (_, indexed, probed) = Similarity.ivfParts(
      emb, $"vec_id", $"embedding", nLists = 32, nProbe = 20, lloydIters = 3)
    assert(indexed.groupBy($"neighbour_id").count().agg(max($"count")).head().getLong(0) == 1L)
    val listSizes = indexed.groupBy($"list").count().collect()
      .map(r => r.getAs[Int]("list") -> r.getAs[Long]("count")).toMap
    assert(listSizes.values.max <= 3 * n.toLong / 32,
      s"IVF lists must stay balanced, max=${listSizes.values.max} of n=$n")
    val candidates = probed.collect()
      .map(r => listSizes.getOrElse(r.getAs[Int]("list"), 0L)).sum.toDouble
    assert(candidates <= (20.0 / 32 + 0.05) * n * n,
      f"IVF candidates ${candidates}%.0f must respect the n·P/L structural bound")
  }

  test("IVF tolerates malformed embeddings: NaN / null-element / wrong-dim vectors drop out") {
    // ANSI mode errors on element_at over empty arrays and the NaN argmax
    // once indexed taken(-1) — both must degrade to "vector probes
    // nothing", never a job failure
    val good = (0 until 20).map(i => (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 80.0f)))
      .toDF("vec_id", "embedding")
    val bad = spark.sql(
      """SELECT * FROM VALUES
        |  (100L, array(cast('NaN' as float), 0.1f, 0.2f, 0.3f)),
        |  (101L, array(cast(null as float), 0.1f, 0.2f, 0.3f)),
        |  (102L, array(0.1f, 0.2f))
        |AS t(vec_id, embedding)""".stripMargin)
    // nLists > corpus size: EVERY vector (incl. the malformed ones) falls
    // inside the seed-sample window, so the seeding path must sanitize —
    // an unfiltered NaN seed poisons all dots, a short seed breaks the
    // uniform-centroid-dims contract
    val ann = Similarity.ivfTopK(good.unionByName(bad), $"vec_id", $"embedding",
      k = 3, nLists = 30, nProbe = 4, lloydIters = 1)
    val ids = ann.select($"vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!ids.exists(_ >= 100L), s"malformed vectors must not appear as queries: $ids")
    assert(ann.where($"neighbour_id" >= 100L).count() == 0,
      "malformed vectors must not appear as neighbours")
    assert(ids.nonEmpty, "well-formed vectors still get neighbours")
  }
}
