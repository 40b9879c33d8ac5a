package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{GapFill, Similarity, Sri}

/** Reference forms the production operators are pinned against. Each one
  * is the literal, readable composition of an operator whose engine form
  * is faster but harder to check by eye; the specs compare the two, bit
  * for bit where the forms allow. Nothing in src/main calls them. */
object Oracles {

  // ------------------------------------------------------------- gap-fill

  private val wDesc = Window.partitionBy(col("conv_id")).orderBy(col("bucket_start").desc)

  /** Next-observation-carried-backward: first non-null at-or-after the
    * current row, as a running `last` over the DESCENDING order. */
  private def nocb(c: Column): Column = last(c, ignoreNulls = true)
    .over(wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** The two-sort (ascending LOCF + descending NOCB) form of
    * `GapFill.interpolatedFrom`: the same lerp over the same prev/next
    * (value, x) doubles, with the next observation from a second,
    * descending sort of the grid instead of the run-index join. */
  def interpolatedTwoSort(grid: DataFrame, valueCol: String): DataFrame = {
    val x = unix_timestamp(col("bucket_start")).cast("double")
    val v = col(valueCol)
    val prevV = GapFill.locf(v)
    val nextV = nocb(v)
    val prevX = GapFill.locf(when(v.isNotNull, x))
    val nextX = nocb(when(v.isNotNull, x))
    val lerp = prevV + (nextV - prevV) * (x - prevX) / (nextX - prevX)
    grid.withColumn(
      s"${valueCol}_interp",
      when(v.isNotNull, v)
        .when(prevV.isNull, nextV)          // leading gap
        .when(nextV.isNull, prevV)          // trailing gap
        .when(nextX === prevX, prevV)
        .otherwise(lerp))
  }

  // ------------------------------------------------------------------ SRI

  /** Two-level dense tick grid: input (e, lo, hi) tick spans → one row per
    * (e, tick) for every tick in [lo, hi]. Level 1 explodes day-sized chunk
    * indices, level 2 the ticks within a chunk clipped to the span.
    * Negative (pre-1970) ticks are handled: chunk indexing floor-divides,
    * so a chunk always starts at/below `lo`. */
  private def denseTickGrid(span: DataFrame, tickSeconds: Int): DataFrame = {
    val chunk = math.max(86400L / tickSeconds, 1L) // ≈ one day of ticks
    span
      .selectExpr("e", "lo", "hi",
        s"explode(sequence(cast(floor(lo / $chunk.0D) as bigint), " +
          s"cast(floor(hi / $chunk.0D) as bigint))) AS c")
      .selectExpr("e",
        s"explode(sequence(greatest(lo, c * $chunk), least(hi, c * $chunk + ${chunk - 1}))) AS tick")
  }

  /** Reference SRI score over a status series: 200·mean(agree)−100. */
  private def score(statusOrdered: DataFrame, entity: Column, lagTicks: Int): DataFrame = {
    val w = Window.partitionBy(entity).orderBy(col("tick"))
    statusOrdered
      .withColumn("_prev", lag(col("status"), lagTicks).over(w))
      .where(col("_prev").isNotNull)
      .groupBy(entity.as("conv_id"))
      .agg((lit(200.0) * avg((col("status") === col("_prev")).cast("double")) - 100.0).as("sri"))
  }

  /** The dense-grid form of `Sri.episodeSri` (functions/sri.R:27-61 as
    * written): materialize the per-entity tick grid, left-join the
    * keep-last-deduped episode ticks, fill the gaps with `fillStatus`,
    * lag and score. */
  def episodeSriDense(
      episodes: DataFrame,
      entity: Column,
      start: Column,
      end: Column,
      status: Column,
      srcOrder: Column,
      tickSeconds: Int,
      lagTicks: Int,
      fillStatus: Int = 0): DataFrame = {
    val deduped = Sri.dedupedEpisodeTicks(episodes, entity, start, end, status, srcOrder, tickSeconds)
    val span = deduped.groupBy(col("e")).agg(min("tick").as("lo"), max("tick").as("hi"))
    val filled = denseTickGrid(span, tickSeconds)
      .join(deduped, Seq("e", "tick"), "left")
      .withColumn("status", coalesce(col("st"), lit(fillStatus)))
    score(filled.select(col("e"), col("tick"), col("status")), col("e"), lagTicks)
  }

  // ----------------------------------------------------- similarity, dedup

  /** The nPlanes × dims hyperplane matrix of `Similarity` as a literal
    * column. */
  private def planeMatrix(nPlanes: Int, dims: Int): Column =
    typedlit((0 until nPlanes).map(p => (0 until dims).map(d => Similarity.planeComponent(p, d))))

  /** `nPlanes`-bit random-hyperplane signature of an embedding as
    * array<int> of 0/1: bit p = sign(dot(plane_p, v)). The HOF form of
    * the native packed `RhpSigPacked` that `Similarity.lshTopK` runs. */
  def rhpSignature(emb: Column, nPlanes: Int, dims: Int): Column = {
    val planes = planeMatrix(nPlanes, dims)
    transform(sequence(lit(0), lit(nPlanes - 1)), p => {
      val dot = aggregate(
        zip_with(emb, element_at(planes, p + 1), (x, w) => x.cast("double") * w),
        lit(0.0), (s, x) => s + x)
      when(dot >= 0, 1).otherwise(0)
    })
  }

  /** Embedding cosine as a zip_with/aggregate composition — the built-in
    * form of the native `CosineSim` expression. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (s, x) => s + x)
    val na = sqrt(aggregate(a, lit(0.0), (s, x) => s + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (s, x) => s + x.cast("double") * x.cast("double")))
    when(na > 0 && nb > 0, dot / (na * nb)).otherwise(lit(0.0))
  }

  /** Character n-gram (shingle) set, distinct. Short texts (<n chars) get
    * the whole string as a single shingle — the string form of the native
    * `TextHashes.charShingleHashes`. */
  def ngramSet(text: Column, n: Int): Column =
    when(length(text) < n, array(text)).otherwise(
      array_distinct(transform(sequence(lit(1), length(text) - (n - 1)), i => text.substr(i, lit(n)))))

  /** Jaccard similarity of two shingle sets, with the built-in set
    * functions (the engine verifies with `SetOps.sortedJaccard`). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** 64-bit SimHash of a token array (Charikar 2002): per-bit majority
    * vote over the tokens' xxhash64 (seed 42) values, `votes[i] > 0 → bit
    * i`; null tokens are skipped, an empty array gives 0. The composed
    * form of the one-pass `TextHashes.simHashText` over
    * `tokens(lower(text))`. */
  val simHash64: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (toks: Seq[String]) =>
      if (toks == null) null
      else {
        val votes = new Array[Long](64)
        toks.filter(_ != null).foreach { t =>
          val h = XXH64.hashUTF8String(UTF8String.fromString(t), 42L)
          (0 until 64).foreach(i => votes(i) += ((h >> i) & 1L) * 2L - 1L)
        }
        java.lang.Long.valueOf((0 until 64).foldLeft(0L)((fp, i) => if (votes(i) > 0L) fp | (1L << i) else fp))
      }
    }
}
