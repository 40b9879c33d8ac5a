package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Two paths per the builder contract:
  *   - brute-force cosine top-k: exact baseline, one scan, no shuffle
  *     beyond the final top-k (local top-k per partition via
  *     sort+limit — Spark's TakeOrderedAndProject);
  *   - LSH-bucketed ANN (random hyperplane signatures, Charikar 2002):
  *     the scale path — candidates share a signature bucket, so the join
  *     is an equi-join on bucket keys that shuffles ONLY bucket-sized
  *     groups, never the full cross product. At 10^9 vectors this is the
  *     difference between a bucket-local O(n·b) and an impossible O(n²).
  *
  * Hyperplanes are derived deterministically from a seed via the same
  * splittable-hash trick as TranscriptGen (no RNG state, reproducible
  * across runs/partitions).
  */
object Similarity {

  /** Cosine similarity between an embedding column and a literal query
    * vector (broadcast as a column literal). Uses the native codegen'd
    * CosineSim expression (bit-identical to the composed built-in form,
    * test oracle `Oracles.cosine` — CosineSimSpec). */
  def cosineToQuery(emb: Column, query: Seq[Float]): Column =
    graft.plans.CosineSim.cosineSim(emb, typedlit(query))

  /** Exact brute-force top-k by cosine against one query vector. */
  def bruteForceTopK(df: DataFrame, id: Column, emb: Column, query: Seq[Float], k: Int): DataFrame =
    df.select(id.as("vec_id"), cosineToQuery(emb, query).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * a hash mapped to [-1, 1). Computed ONCE on the driver with the exact
    * Catalyst xxhash64 (seed 42, same type layout as the former column
    * expression), so signatures are bit-identical to the hash-per-element
    * form while the per-row work becomes pure multiply-add. The packed
    * signature's bit parity with the readable HOF form (test oracle
    * `Oracles.rhpSignature`) is pinned by DedupSpec. */
  private[graft] def planeComponent(p: Int, d: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal("hp"), Literal(p), Literal(d)), 42L)
      .eval(null).asInstanceOf[Long]
    val m = ((h % 2000001L) + 2000001L) % 2000001L // pmod
    (m - 1000000L).toDouble / 1e6
  }

  /** LSH-bucketed ANN: top-k neighbours per query id, candidates limited to
    * shared RHP band buckets, verified by exact cosine. Output:
    * (vec_id, neighbour_id, sim, rank<=k).
    *
    * Recall depends on (nPlanes, bands): r = nPlanes/bands bits per band,
    * P(candidate) = 1 − (1 − cosSimAngle^r)^bands. Defaults (24, 12 → r=2)
    * measure recall@5 ≈ 0.99 on the 64-dim test embeddings (the old 16/4 →
    * r=4 measured 0.41). Buckets larger than `maxBucketSize` are dropped —
    * an over-full RHP bucket means the hyperplanes don't discriminate that
    * region and its B² candidate pairs would dominate the join; members
    * still meet through their other bands (same hot-bucket guard as
    * Dedup.minhashLshPairs).
    *
    * `nPlanes` must be in 1..63: the production signature is packed into a
    * single long (RhpSigPacked) — one sign bit per plane plus the sign bit
    * of the long itself kept clear. */
  def lshTopK(
      df: DataFrame,
      id: Column,
      emb: Column,
      k: Int,
      nPlanes: Int = 24,
      bands: Int = 12,
      maxBucketSize: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = df.select(id.as("id"), emb.as("e"))
    // one-row peek for the embedding dimensionality (drives the literal
    // hyperplane matrix; a metadata-scale driver action like the reference's
    // schema probes). Embeddings are assumed uniform-length; the first row's
    // length defines the signature space — dims beyond it are ignored and
    // shorter vectors would fail in zip_with, so mixed-dim inputs belong in
    // separate calls (public API contract).
    val dims = vecs.select(size(col("e"))).limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        "lshTopK: input has no rows — cannot infer embedding dimensionality"))
    val rows = nPlanes / bands
    // native packed signature (one primitive pass over all planes — the
    // HOF form allocated a lambda frame + array zip per plane per row);
    // band buckets are BIT SLICES of the packed signature, grouping on
    // exactly the same sign-bit-equality relation the old hashed-string
    // slices did, so candidate sets and results are unchanged. Band-index
    // explode first: Generate barrier keeps the signature evaluated once
    // per row (see Dedup.minhashLshPairs scaladoc).
    val planesArr = Array.tabulate(nPlanes, dims)((p, d) => planeComponent(p, d))
    val banded = vecs
      .select(col("id"), graft.plans.RhpSigPacked.rhpSigPacked(col("e"), planesArr).as("sig"))
      .select(col("id"), col("sig"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("id"), col("band"),
        call_function("shiftright", col("sig"), col("band") * rows)
          .bitwiseAND(lit((1L << rows) - 1)).as("bucket"))
    val kept = banded.join(
      banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("_bsz"))
        .where(col("_bsz") <= maxBucketSize)
        .select(col("band"), col("bucket")),
      Seq("band", "bucket"))
    // candidate ids only through the band join (embeddings don't ride the
    // band fan-out). Candidates are generated as UNORDERED pairs
    // (id_a < id_b in the join condition): that halves the band-join
    // output, halves the pair-dedup shuffle (map-side partial dedup then
    // one exchange), and halves the exact-cosine evaluations — the cosine
    // is symmetric bit-for-bit (same products in the same order, FP
    // multiply commutes), so ONE verify per unordered pair serves both
    // ranking directions, restored by a constant 2-fan explode before the
    // per-query rank window (whose rn<=k filter compiles to a
    // WindowGroupLimit: map-side top-k precedes its exchange).
    val pairs = kept.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(kept.select(col("band"), col("bucket"), col("id").as("id_b")), Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val sims = pairs
      .join(vecs.select(col("id").as("id_a"), col("e").as("e_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("e").as("e_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.plans.CosineSim.cosineSim(col("e_a"), col("e_b")).as("sim"))
    val cand = fanOutSymmetric(sims.select(
      col("id_a").as("vec_id"), col("id_b").as("neighbour_id"), col("sim")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("neighbour_id"))
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Fan one verified UNORDERED pair (vec_id, neighbour_id, sim) out to
    * both ranking directions via a constant 2-explode — the shared tail of
    * the symmetric-similarity halving in [[lshTopK]] and [[ivfTopK]]
    * (valid only where both directions are known to be candidate pairs and
    * `sim` commutes bit-for-bit). */
  private def fanOutSymmetric(sims: DataFrame): DataFrame =
    sims.select(explode(array(
        struct(col("vec_id"), col("neighbour_id"), col("sim")),
        struct(col("neighbour_id").as("vec_id"), col("vec_id").as("neighbour_id"),
          col("sim")))).as("p"))
      .select(col("p.vec_id").as("vec_id"), col("p.neighbour_id").as("neighbour_id"),
        col("p.sim").as("sim"))

  /** IVF-bucketed ANN: top-k neighbours per vector through an inverted-file
    * coarse quantizer (Jégou et al. 2011's IVF stage) instead of hyperplane
    * buckets. Output schema matches `lshTopK`: (vec_id, neighbour_id, sim,
    * rank<=k).
    *
    * Why this exists next to `lshTopK`: RHP banding's candidate volume is
    * BUCKET LUCK — on weakly-clustered corpora the r bits stop
    * discriminating and the band join degenerates toward all pairs
    * (measured: recall-0.99 settings put ~every vector in shared buckets
    * on the synthetic embeddings). IVF bounds candidates STRUCTURALLY:
    * every vector is indexed in exactly ONE list (its nearest centroid),
    * each query probes its `nProbe` nearest lists, so per-query candidates
    * = the probed lists' sizes (≈ n·nProbe/nLists when balanced) no matter
    * how the corpus clusters, and a candidate pair can meet at most once —
    * no pair-dedup shuffle at all. At 10⁹ vectors that bound, not recall
    * tuning, is what keeps the join finite. A genuinely single-cluster
    * corpus degrades toward brute force — which is the correct answer
    * there, not a failure mode.
    *
    * Determinism (golden-pinnable): centroid seeds are the `nLists`
    * vectors with the smallest (xxhash64(id), id); each Lloyd refinement
    * averages per-dimension over the cluster (spherical k-means step) and
    * the result is L2-normalized then QUANTIZED to 1e-6 — distributed
    * summation order can wiggle the mean's last ulps, and quantization
    * makes the plan-literal centroids (and so every assignment) stable
    * across runs/partitionings. Driver work is metadata-scale: nLists
    * embeddings collected + nLists×dims means per iteration. */
  /** Defaults are tuned on the NEAR-UNIFORM test embeddings, where recall
    * tracks the probed fraction almost linearly (measured: recall@5 0.94 at
    * nProbe/nLists = 20/32, Lloyd×3; no partitioning scheme is sublinear on
    * uniform data). A genuinely clustered production corpus should raise
    * nLists (~sqrt(n)) and cut nProbe to single digits — candidates scale
    * as n·nProbe/nLists either way. */
  /** `sim` is the verification similarity (default: the codegen'd FP
    * CosineSim). Pass `QuantCosine.quantCosine` with pre-quantized integral
    * embeddings when the ranking must be cross-engine-deterministic (an
    * external oracle re-deriving the same top-k — see q_ann_ivf_recall);
    * setting `nProbe = nLists` then makes the output EXACTLY the
    * brute-force top-k (every vector lives in exactly one list and every
    * list is probed), which is how the approximate machinery's plumbing is
    * driver-verified end-to-end. */
  def ivfTopK(
      df: DataFrame,
      id: Column,
      emb: Column,
      k: Int,
      nLists: Int = 32,
      nProbe: Int = 20,
      lloydIters: Int = 3,
      sim: (Column, Column) => Column = graft.plans.CosineSim.cosineSim): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (_, indexed, probed) = ivfParts(df, id, emb, nLists, nProbe, lloydIters)
    // the query embedding rides the probe fan-out (n·nProbe rows), so the
    // verify is ONE equi-join on list — re-attaching e_a to the CANDIDATE
    // table by vec_id (the old shape) shuffled the strictly larger
    // n·nProbe·listSize pair rows a second time plus a third source scan
    val joined = probed.join(indexed, Seq("list"))
    val cand =
      if (nProbe >= nLists) {
        // FULL probe: every vector probes every list, so each ORDERED pair
        // meets exactly once and both directions are guaranteed present —
        // the symmetric sim (bit-equal under operand swap: dot and na·nb
        // commute) is computed once per UNORDERED pair and fanned back out
        // with a constant 2-explode. Halves the verify evaluations; the
        // rank window input is unchanged. At partial probe the candidate
        // relation is asymmetric (a probing b's list ≠ b probing a's), so
        // this rewrite applies only here.
        fanOutSymmetric(joined
          .where(col("vec_id") < col("neighbour_id"))
          .select(col("vec_id"), col("neighbour_id"),
            sim(col("e_a"), col("e_b")).as("sim")))
      } else {
        joined
          .where(col("vec_id") =!= col("neighbour_id"))
          .select(col("vec_id"), col("neighbour_id"),
            sim(col("e_a"), col("e_b")).as("sim"))
      }
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("neighbour_id"))
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Embedding-cosine NEAR-DUP PAIRS — the similarity-search instantiation
    * of the dedup family's blocking contract: every unordered pair (id_a <
    * id_b) whose verification cosine ≥ `threshold`, candidates limited to
    * IVF probed lists (each vector lives in exactly ONE list, so a
    * candidate pair meets at most once — no pair-dedup shuffle, the same
    * property ivfTopK relies on). At `nProbe = nLists` the candidate set
    * is ALL pairs and the result is exact (how q_embed_dup_pairs is
    * driver-verified against a brute-force oracle); at partial probe it is
    * the scale path with the documented IVF recall shape — a pair is found
    * when the LOWER id's vector probes the higher id's list (asymmetric:
    * the a<b restriction halves candidate volume; callers needing
    * both-direction recall at partial probe can union the transposed
    * call). `sim` as in [[ivfTopK]] (pass QuantCosine + pre-quantized
    * embeddings for a cross-engine-deterministic result). */
  def cosineDupPairs(
      df: DataFrame,
      id: Column,
      emb: Column,
      threshold: Double,
      nLists: Int = 32,
      nProbe: Int = 20,
      lloydIters: Int = 3,
      sim: (Column, Column) => Column = graft.plans.CosineSim.cosineSim): DataFrame = {
    val (_, indexed, probed) = ivfParts(df, id, emb, nLists, nProbe, lloydIters)
    // e_a rides the probe fan-out — see ivfTopK: one equi-join, no second
    // shuffle of the candidate pairs
    probed.join(indexed, Seq("list"))
      .where(col("vec_id") < col("neighbour_id"))
      .select(col("vec_id").as("id_a"), col("neighbour_id").as("id_b"),
        sim(col("e_a"), col("e_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** IVF internals exposed for specs: (vecs(id, e), indexed(neighbour_id,
    * e_b, list), probed(vec_id, e_a, list)) — lets tests assert the
    * structural candidate bound (list sizes), which the public result
    * hides. */
  private[graft] def ivfParts(
      df: DataFrame,
      id: Column,
      emb: Column,
      nLists: Int,
      nProbe: Int,
      lloydIters: Int): (DataFrame, DataFrame, DataFrame) = {
    import graft.plans.IvfProbes.ivfProbes
    // one scan of the source feeds the seed pass and every Lloyd
    // iteration (1 + lloydIters driver actions); released right after the
    // last collect below — the downstream frames re-scan the source
    val vecs = df.select(id.as("id"), emb.as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def toVec(a: Any): Array[Double] = a match {
      case s: scala.collection.Seq[_] => s.map(_.asInstanceOf[Number].doubleValue).toArray
      case other => throw new IllegalArgumentException(s"ivfTopK: embedding not an array: $other")
    }
    def normQuant(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      val u = if (n == 0) v else v.map(_ / n)
      u.map(x => math.rint(x * 1e6) / 1e6)
    }
    // deterministic hash-seeded centroids (metadata-scale collect). The
    // seed sample is SANITIZED: a null-element or NaN embedding chosen as
    // a seed would crash the driver-side normalize (or poison every dot
    // with NaN), and IvfProbes validates rows only against cents(0)'s
    // length, so all centroids must share one dimensionality — taken as
    // the majority size of the sample (ties → smaller), matching the
    // data-side drop-out rule for mixed-dim vectors.
    val seedRows = vecs
      .where(!exists(col("e"), x => x.isNull || isnan(x.cast("double"))))
      .orderBy(xxhash64(col("id")), col("id")).limit(nLists)
      .select(col("e")).collect()
    require(seedRows.nonEmpty, "ivfTopK: input has no well-formed rows")
    val seedVecs = seedRows.map(r => toVec(r.get(0)))
    val dims = seedVecs.groupBy(_.length).maxBy { case (len, vs) => (vs.length, -len) }._1
    var cents: Array[Array[Double]] = seedVecs.filter(_.length == dims).map(normQuant)
    val probes = math.min(nProbe, cents.length)

    (1 to lloydIters).foreach { _ =>
      // spherical k-means step: per-dim means by assigned list (the
      // posexplode Generate computes the assignment ONCE per row). The
      // size(...) guard drops malformed vectors (empty probe array) BEFORE
      // element_at — ANSI mode turns element_at on an empty array into a
      // runtime error, not a null.
      val means = vecs
        .select(ivfProbes(col("e"), cents, 1).as("_p"), col("e"))
        .where(size(col("_p")) > 0)
        .select(element_at(col("_p"), 1).as("list"), posexplode(col("e")))
        .groupBy(col("list"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .collect()
      val next = cents.map(identity) // empty lists keep their seed
      means.groupBy(_.getAs[Int]("list")).foreach { case (li, rows) =>
        val v = new Array[Double](dims)
        rows.foreach(r => v(r.getAs[Int]("pos")) = r.getAs[Double]("m"))
        next(li) = normQuant(v)
      }
      cents = next
    }

    // Release the cache as soon as the driver-side actions (seed sample +
    // Lloyd iterations) that motivated it are done: the downstream
    // index/probe/verify frames lazily re-derive from the source scan (a
    // cheap columnar read) instead of pinning a session-lifetime copy of
    // the embeddings — repeated ivfTopK calls in a long-lived session
    // would otherwise accumulate MEMORY_AND_DISK copies until eviction
    // thrash (observed as CacheManager "already cached" warnings).
    vecs.unpersist(blocking = false)

    // ONE probes evaluation per row serves both sides: the nearest list is
    // the first (descending-ordered) probe, so the index is element_at(_p,
    // 1) and the query side explodes the same array. Malformed vectors
    // (empty _p) drop out before element_at — ANSI errors on empty arrays.
    val withProbes = vecs
      .select(col("id"), col("e"), ivfProbes(col("e"), cents, probes).as("_p"))
      .where(size(col("_p")) > 0)
    // inverted lists: each vector in exactly ONE list; its embedding rides
    // the (single-copy) index row, so the verify needs no second join for
    // the neighbour side
    val indexed = withProbes.select(
      col("id").as("neighbour_id"), col("e").as("e_b"),
      element_at(col("_p"), 1).as("list"))
    // query side: nProbe nearest lists per vector, the query's OWN
    // embedding riding the fan-out (n·nProbe embedding copies — strictly
    // fewer bytes than shuffling the n·nProbe·listSize candidate pair
    // table a second time to re-attach it by vec_id, which is what an
    // ids-only probe side forces the verify stage to do)
    val probed = withProbes.select(col("id").as("vec_id"), col("e").as("e_a"),
      explode(col("_p")).as("list"))
    (vecs, indexed, probed)
  }
}
