package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication family for training-data pipelines:
  *   exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash,
  *   embedding-cosine near-dup.
  *
  * The reference's D1 (`distinct()` on load, /root/reference/scripts/
  * daily-measures.R:54-58) is the exact case; the near-dup family is the
  * 100 TB-scale extension (public MinHash/LSH literature: Broder 1997;
  * SimHash: Charikar 2002).
  *
  * Scale design: every near-dup path is blocking-based — candidates are
  * generated ONLY within identical LSH/SimHash buckets (an equi-join the
  * planner shuffles by bucket key), never via cross join. Verification
  * (true Jaccard / cosine) runs per candidate pair. AQE handles bucket
  * skew; pathological buckets (stop-shingles) can additionally be salted.
  */
object Dedup {

  /** D1: full-row exact dedup. */
  def exact(df: DataFrame): DataFrame = df.distinct()

  /** Exact-content canonicalization: one representative (min id) per
    * normalized-content fingerprint. */
  def canonicalByContent(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(TextFunctions.fingerprint(text).as("fp"))
      .agg(min(id).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature: k independent permutations approximated by seeded
    * xxhash64; sig[i] = min over shingles of xxhash64(shingle, i).
    *
    * Native expression (plans.TextHashes.MinHashSig): each shingle is
    * string-hashed ONCE and the k slot values come from cheap int mixes —
    * bit-identical to the earlier single-pass HOF fold (whose per-slot
    * `xxhash64(s, i)` lambda re-hashed the string k times per shingle; and
    * the naive transform-of-transforms before IT re-tokenized k times per
    * row, measured 70× slower — no CSE inside higher-order lambdas). */
  def minhashSignature(shingles: Column, k: Int): Column =
    graft.plans.TextHashes.minHashSig(shingles, k)

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    *
    * Scale shape (matters at 10^9 docs, and measurably at 10^4 similar
    * docs):
    *   1. the band self-join carries ONLY (band, bucket, id) — never the
    *      shingle arrays (naively they ride the join duplicated per band:
    *      8× the shuffle bytes);
    *   2. candidate pairs are deduped BEFORE verification, so each pair's
    *      Jaccard is computed once, not once per shared band;
    *   3. buckets larger than `maxBucketSize` are dropped — a bucket with B
    *      members yields B² candidates, and overwhelmingly-common shingle
    *      patterns (stop-shingles) are non-discriminative for near-dup;
    *      this is the standard LSH hot-bucket guard. Pass Int.MaxValue to
    *      disable. */
  def minhashLshPairs(
      df: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 16, // r=2 rows/band: ~94% candidate recall at j=0.4
      threshold: Double = 0.35,
      maxBucketSize: Int = 100): DataFrame = {
    // one-pass sorted-distinct shingle HASHES (TextHashes.WordShingleHashes):
    // the string-shingle composition re-ran the tokenizer inside every HOF
    // lambda iteration (no CSE in lambdas) — measured as the dominant cost;
    // MinHashSig chains its int mixes from these hashes bit-identically,
    // and the exact-Jaccard verify walks the sorted hash arrays directly
    val sh = df.select(id.as("id"), graft.plans.TextHashes.wordShingleHashes(text, n).as("sh"))
    val rows = k / bands
    // explode the band INDEX first (Generate is an expression barrier: the
    // signature is computed once per row and duplicated as a VALUE), then
    // derive each band's bucket from the materialized sig attribute —
    // otherwise the sig expression re-evaluates inside the per-band lambda.
    val banded = sh
      .select(col("id"), minhashSignature(col("sh"), k).as("sig"))
      .select(col("id"), col("sig"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("id"), col("band"),
        xxhash64(concat_ws(",", slice(col("sig"), col("band") * rows + 1, lit(rows)).cast("array<string>"))).as("bucket"))
    val kept = banded
      .join(
        banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("_bsz"))
          .where(col("_bsz") <= maxBucketSize),
        Seq("band", "bucket"))
    val pairs = kept.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(kept.select(col("band"), col("bucket"), col("id").as("id_b")), Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      // exact size-ratio bound (j <= min/max of set sizes) prunes pairs
      // before the expensive intersect/union — result-preserving
      .where(least(size(col("sh_a")), size(col("sh_b"))).cast("double")
        / greatest(size(col("sh_a")), size(col("sh_b"))) >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.plans.SetOps.sortedJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact Jaccard pairs WITHIN blocks, with a block-size guard: every pair
    * of docs sharing the blockKeys whose Jaccard ≥ threshold — computed as
    * a block self-join with the size-ratio bound in the join condition and
    * the codegen'd merge-walk verify (SetOps.sortedJaccard) in the output.
    *
    * Takes SORTED distinct 64-bit shingle hashes (array&lt;long&gt;, e.g.
    * `TextHashes.charShingleHashes` / `wordShingleHashes`) — no per-row
    * string-shingle materialization, which for multi-KB documents
    * allocates thousands of short strings per row before any join work.
    *
    * Blocks larger than `maxBlockSize` are DROPPED (a B-member block yields
    * B² candidate pairs — the standard hot-block guard; same contract as
    * minhashLshPairs.maxBucketSize). Choose the cap above the expected
    * block size so it only trips on pathological keys; pass Int.MaxValue
    * to disable. When blocking keys are unavailable or blocks can grow
    * unboundedly, prefer `prefixJaccardPairs` (exact, no key needed, no B²
    * term). Output: (blockKeys..., id_a, id_b, jaccard). */
  def blockedJaccardPairsHashed(
      docs: DataFrame,
      id: Column,
      shingleHashes: Column,
      threshold: Double,
      blockKeys: Seq[(String, Column)],
      maxBlockSize: Int = 1024): DataFrame = {
    val keyNames = blockKeys.map(_._1)
    val base = docs.select(
      (id.as("id") +: shingleHashes.as("sh") +: blockKeys.map { case (n, c) => c.as(n) }): _*)
      .withColumn("n", size(col("sh")))
    // block-size guard: per-block count aggregate, applied as a left-semi
    // join with NO broadcast hint — distinct block keys are unbounded at
    // corpus scale (one per (source, len_band)), the same forced-broadcast
    // OOM class the retention/eligibility queries deliberately avoid; AQE
    // picks broadcast at runtime when the key list IS small
    val kept = base.join(
      base.groupBy(keyNames.map(col): _*).agg(count(lit(1)).as("_bsz"))
        .where(col("_bsz") <= maxBlockSize)
        .select(keyNames.map(col): _*),
      keyNames, "left_semi")
    val a = kept.select(
      (keyNames.map(col) :+ col("id").as("id_a") :+ col("sh").as("sh_a") :+ col("n").as("n_a")): _*)
    val b = kept.select(
      (keyNames.map(k => col(k).as(s"${k}_b")) :+ col("id").as("id_b") :+
        col("sh").as("sh_b") :+ col("n").as("n_b")): _*)
    val cond = keyNames
      .map(k => col(k) === col(s"${k}_b"))
      .foldLeft(
        col("id_a") < col("id_b") &&
          least(col("n_a"), col("n_b")).cast("double") / greatest(col("n_a"), col("n_b")) >= threshold)(_ && _)
    a.join(b, cond)
      .select((keyNames.map(col) :+ col("id_a") :+ col("id_b") :+
        graft.plans.SetOps.sortedJaccard(col("sh_a"), col("sh_b")).as("jaccard")): _*)
      .where(col("jaccard") >= threshold)
  }

  /** Exact set-similarity self-join via PREFIX FILTERING (the AllPairs /
    * PPJoin candidate scheme: Bayardo, Ma & Srikant, "Scaling Up All Pairs
    * Similarity Search", WWW 2007 — public literature). Returns every pair
    * with Jaccard(sh_a, sh_b) >= threshold, exactly — no blocking key and
    * no B² all-pairs blowup.
    *
    * Why it is exact: order each document's shingles by a GLOBAL total
    * order (ascending document frequency, ties by value — rarest first).
    * If J(A,B) ≥ t, the sets must overlap in ≥ t/(1+t)·(|A|+|B|) elements,
    * so A and B each must contain a shared element within their first
    * p = |x| − ⌈t·|x|⌉ + 1 ordered elements (we use the safe upper bound
    * p = |x| − ⌊t·|x|⌋ + 1, immune to FP rounding of t·|x|). Candidates are
    * therefore EXACTLY the pairs sharing a prefix token — an equi-join on
    * token — and the exact Jaccard verify keeps only true pairs.
    *
    * Scale shape:
    *   - candidate generation joins only PREFIX tokens (the ~30% rarest
    *     per doc at t=0.7), and rare-by-construction tokens make small join
    *     groups — the B² hot-block problem of naive length/source blocking
    *     disappears;
    *   - the size-ratio bound least/greatest ≥ t rides the join condition,
    *     so length-incompatible pairs never materialize;
    *   - pairs are distinct()-ed before the (expensive) verify join, so
    *     each pair's Jaccard is computed once.
    *
    * Verification uses the codegen'd merge-walk SortedIntersectSize over
    * sort_array'd shingles plus inclusion-exclusion for the union size
    * (one O(|A|+|B|) pass per pair, no per-pair hash sets — the built-in
    * array_intersect/array_union pair is ~5× slower on the verify join).
    *
    * `docs` must have one row per id; `shingles` must be DISTINCT elements
    * (array_distinct, or the sorted distinct hashes of
    * `TextHashes.wordShingleHashes`). `blockKeys`
    * optionally restricts pairs to equal key values (e.g. same source) and
    * carries those columns into the output.
    * Output: (blockKeys..., id_a, id_b, jaccard). */
  def prefixJaccardPairs(
      docs: DataFrame,
      id: Column,
      shingles: Column,
      threshold: Double,
      blockKeys: Seq[(String, Column)] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyNames = blockKeys.map(_._1)
    // 64-bit-hash the shingles (fixed-width compares downstream; a
    // collision needs two distinct shingles of one union to collide in 64
    // bits) and sort for the merge-walk verify; the prefix theorem only
    // needs SOME consistent global total order, so hashed order is fine.
    // An array<long> input (TextHashes.wordShingleHashes — already sorted
    // distinct hashes, built in one pass per row) is used as-is: the
    // composed hash-of-strings form re-evaluates the shingle expression
    // inside the HOF lambda per element, which measured as the dominant
    // cost of this operator.
    val hashed = docs.select(shingles.as("_s")).schema.head.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, _) =>
        sort_array(shingles) // pre-hashed; sort is idempotent on WordShingleHashes output
      case _ => sort_array(transform(shingles, s => xxhash64(s)))
    }
    val base = docs.select(
      (id.as("id") +: hashed.as("sh") +: blockKeys.map { case (n, c) => c.as(n) }): _*)
      .withColumn("n", size(col("sh")))
    val tok = base.select(
      (col("id") +: col("n") +: keyNames.map(col) :+ explode(col("sh")).as("t")): _*)
    val dfreq = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
    // prefix size: safe bound |x| − ⌊t·|x|⌋ + 1 (≥ the tight ⌈⌉ form, so FP
    // rounding can only ADD a candidate token, never lose a true pair)
    val p = (col("n") - floor(lit(threshold) * col("n"))).cast("int") + 1
    val prefix = tok
      .join(dfreq, Seq("t"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("id")).orderBy(col("df"), col("t"))))
      .where(col("rn") <= p)
      .select((col("t") +: col("id") +: col("n") +: col("rn") +: keyNames.map(col)): _*)
    val a = prefix.select(
      (col("t") +: col("id").as("id_a") +: col("n").as("n_a") +: col("rn").as("rn_a") +:
        keyNames.map(col)): _*)
    val b = prefix.select(
      (col("t").as("t_b") +: col("id").as("id_b") +: col("n").as("n_b") +: col("rn").as("rn_b") +:
        keyNames.map(k => col(k).as(s"${k}_b"))): _*)
    // PPJoin POSITIONAL filter (Xiao, Wang, Lin & Yu, WWW 2008 — public
    // literature): J ≥ t ⟺ |A∩B| ≥ t/(1+t)·(|A|+|B|); a shared prefix
    // token at ordered position i of A and j of B bounds the achievable
    // overlap by 1 + min(|A|−i, |B|−j) (everything strictly before the
    // match on either side is disjoint in the shared total order), so
    // pairs below the bound never reach the verify join. Real-valued RHS
    // (no ceil) is a safe relaxation — can only ADD candidates.
    val overlapBound =
      (lit(1) + least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b"))).cast("double") >=
        lit(threshold / (1 + threshold)) * (col("n_a") + col("n_b"))
    val joinCond = keyNames
      .map(k => col(k) === col(s"${k}_b"))
      .foldLeft(
        col("t") === col("t_b") && col("id_a") < col("id_b") &&
          least(col("n_a"), col("n_b")).cast("double") / greatest(col("n_a"), col("n_b")) >= threshold &&
          overlapBound)(_ && _)
    val pairs = a.join(b, joinCond)
      .select((col("id_a") +: col("id_b") +: keyNames.map(col)): _*)
      .distinct()
    pairs
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select((keyNames.map(col) :+ col("id_a") :+ col("id_b") :+
        graft.plans.SetOps.sortedJaccard(col("sh_a"), col("sh_b")).as("jaccard")): _*)
      .where(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash of the token multiset: per-bit majority vote over token
    * hashes (Charikar 2002). Native ONE-PASS expression
    * (plans.TextHashes.SimHashText): tokenizes by scanning the
    * lowered-trimmed bytes for whitespace runs and votes each token's byte
    * span in place — no token array materialization at all. Bit-identical
    * to `simHash64(tokens(lower(text)))` (the prior composed form, itself
    * bit-identical to the original 64-slot HOF vote fold) — parity pinned
    * by DedupSpec and the q_simhash_pairs golden. */
  def simhash64(text: Column): Column =
    graft.plans.TextHashes.simHashText(text)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = call_function("bit_count", a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on rotated fingerprint bytes (4 blocks of
    * 16 bits → dups within hamming<=maxHamming share ≥1 block w.h.p. for
    * small distances), verify with exact hamming. */
  def simhashPairs(df: DataFrame, id: Column, text: Column, maxHamming: Int = 6): DataFrame = {
    val fp = df.select(id.as("id"), simhash64(text).as("fp"))
    // explode block index first — Generate barrier keeps the (expensive)
    // simhash expression evaluated once per row (see minhashLshPairs)
    val blocked = fp
      .select(col("id"), col("fp"), explode(sequence(lit(0), lit(3))).as("blk"))
      .select(col("id"), col("blk"),
        call_function("shiftright", col("fp"), col("blk") * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
    // dedupe candidate pairs BEFORE verification (see minhashLshPairs notes)
    val pairs = blocked.select(col("blk"), col("key"), col("id").as("id_a"))
      .join(blocked.select(col("blk"), col("key"), col("id").as("id_b")), Seq("blk", "key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(fp.select(col("id").as("id_a"), col("fp").as("fp_a")), Seq("id_a"))
      .join(fp.select(col("id").as("id_b"), col("fp").as("fp_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }
}
