package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SRI-style lag-agreement over a dense regular grid — the reference's
  * flagship epoch-grid engine (/root/reference/scripts/functions/sri.R:
  * episodes → 30s ticks :27-39 → keep-last dedup :37-39 → complete per-day
  * grid :47-54 → gap-fill :57-61 → score 200·mean(s[t]==s[t+lag])−100
  * :4-9), re-expressed as ONE distributed dataflow instead of the
  * reference's per-participant future_lapply fan-out
  * (/root/reference/scripts/sri.R:102-141).
  *
  * Two surfaces:
  *  - `episodeSri` — the faithful reference shape: (entity, start, end,
  *    status) episodes to ticks with keep-last overlap dedup;
  *  - `activityRegularity` (and its per-bucket integer counts,
  *    `activityRegularityBucketedCounts`) — the transcripts instantiation:
  *    status = "any turn in this tick", measuring day-over-day
  *    conversation regularity.
  *
  * Scale: neither surface materializes the dense grid. A tick can disagree
  * with its lag partner only where at least one side carries a non-fill
  * status, so both count disagreements over the sparse support with a
  * constant 2-fan explode (`lagDisagreements`): O(active ticks), not
  * O(span/tick). The dense-grid form survives only as the test oracle
  * both are pinned against.
  */
object Sri {

  /** Faithful reference pipeline over (entity, episode_start, episode_end,
    * status) episodes: explode to ticks, keep-last per tick (overlapping
    * episodes: later source wins, sri.R:37-39), dense per-entity grid over
    * the full span with `fillStatus` in the gaps (sri.R:57-61 fills 0),
    * then the lag score.
    *
    * Computed WITHOUT materializing the dense grid: a tick t can disagree
    * with t−lag only if at least one of them carries a non-fill status
    * (everywhere else both sides are `fillStatus` and agree trivially), so
    * |disagree| is a full-outer join of the non-fill SUPPORT with its
    * +lag shift, restricted to the compared range — O(episode-ticks)
    * instead of the grid's O(span/tick) per entity (at the bench shape
    * ~300k support rows vs a 13M+ row grid; at a sparse 100 TB corpus the
    * difference between scanning activity and scanning time itself). The
    * keep-last dedup runs BEFORE the support filter, so a later source
    * overriding a tick to `fillStatus` removes it from the support exactly
    * as the dense grid would. Result-identical to the dense-grid form
    * (test oracle `Oracles.episodeSriDense`; the score's (T−D)/T
    * arithmetic is exact-integer in double, so the forms agree bit-for-bit
    * mod the documented 200·x−100 association, absorbed by callers'
    * 6-decimal rounding). */
  def episodeSri(
      episodes: DataFrame,
      entity: Column,
      start: Column,
      end: Column,
      status: Column,
      srcOrder: Column,
      tickSeconds: Int,
      lagTicks: Int,
      fillStatus: Int = 0): DataFrame = {
    // re-cluster the deduped ticks by entity once — hash(e) satisfies the
    // per-tick and disagreement aggregates and the final span join (same
    // single-partitioning argument as activeTicks); the repartition moves
    // the time-bounded deduped set, not raw episode ticks
    val deduped = dedupedEpisodeTicks(episodes, entity, start, end, status, srcOrder, tickSeconds)
      .repartition(col("e"))
    // span straight from the EPISODES (no explode, no dedup): keep-last
    // changes which status a tick carries, never which ticks exist, so
    // the deduped span equals the episode tick-bound span — deriving it
    // here keeps the expensive explode+dedup subtree out of the span's
    // (reused) plan branches. Tick-explode parity: an episode with a NULL
    // start or end yields NO ticks (sequence(null, ...) is null → Generate
    // drops the row) and must not stretch the span either; an INVERTED
    // episode (end < start) yields the descending sequence's tick set, so
    // its span contribution is [least, greatest].
    val ta = tickOf(start, tickSeconds)
    val tb = tickOf(end, tickSeconds)
    val span = episodes
      .where(ta.isNotNull && tb.isNotNull)
      .groupBy(entity.as("e"))
      .agg(min(least(ta, tb)).as("lo"), max(greatest(ta, tb)).as("hi"))
      .where(col("hi") - col("lo") >= lagTicks)
    val support = deduped.where(col("st") =!= lit(fillStatus))
    val ranged = span.select(col("e"), (col("lo") + lagTicks).as("_rlo"), col("hi").as("_rhi"))
    val dis = lagDisagreements(support, ranged, lagTicks, fillStatus, bucketOf = None)
    span.join(dis, Seq("e"), "left")
      .withColumn("_t", col("hi") - col("lo") + 1 - lagTicks)
      .withColumn("_d", coalesce(col("_disagree"), lit(0L)))
      .select(col("e").as("conv_id"),
        (lit(200.0) * (col("_t") - col("_d")) / col("_t") - 100.0).as("sri"))
  }

  /** Shared sparse lag-disagreement core: count compared ticks where a
    * keyed status series disagrees with its own +lag shift, gaps reading
    * as `fillStatus`. ONE pass over the sparse `support` (e, tick, st)
    * instead of a full-outer self-join (whose two branches would each
    * re-derive the support's subtree): every support tick matters at two
    * compared positions — as the CURRENT value at `tick` and as the LAG
    * value at `tick + lag` — so a constant 2-fan explode plus an
    * (e, tick) aggregate reconstructs both sides of every comparison that
    * can possibly disagree (everywhere else both sides are `fillStatus`).
    * `ranged` = (e, _rlo, _rhi) clips to the compared range; `bucketOf`
    * groups the disagreement counts by a tick bucket (daily SRI series). */
  private def lagDisagreements(
      support: DataFrame,
      ranged: DataFrame,
      lagTicks: Int,
      fillStatus: Int,
      bucketOf: Option[Column => Column]): DataFrame = {
    val sides = support.select(col("e"), explode(array(
        struct(col("tick"), col("st").as("v"), lit(1).as("is_cur")),
        struct((col("tick") + lagTicks).as("tick"), col("st").as("v"), lit(0).as("is_cur"))
      )).as("s"))
      .select(col("e"), col("s.tick").as("tick"), col("s.v").as("v"), col("s.is_cur").as("is_cur"))
    val perTick = sides.join(ranged, Seq("e"))
      .where(col("tick") >= col("_rlo") && col("tick") <= col("_rhi"))
      .groupBy(col("e"), col("tick"))
      .agg(
        max(when(col("is_cur") === 1, col("v"))).as("_stc"),
        max(when(col("is_cur") === 0, col("v"))).as("_stp"))
      .where(coalesce(col("_stc"), lit(fillStatus)) =!= coalesce(col("_stp"), lit(fillStatus)))
    val keyed = bucketOf match {
      case Some(f) => perTick.groupBy(col("e"), f(col("tick")).as("_bucket"))
      case None => perTick.groupBy(col("e"))
    }
    keyed.agg(count(lit(1)).as("_disagree"))
  }

  /** Epoch tick index of a timestamp column (UTC session ⇒ lossless) —
    * floor semantics via the single shared [[graft.functions.TimeBuckets.epochIdx]]. */
  private def tickOf(ts: Column, tickSeconds: Int): Column =
    graft.functions.TimeBuckets.epochIdx(ts, tickSeconds)

  /** Episode ticks after keep-last overlap dedup (sri.R:27-39). */
  private[graft] def dedupedEpisodeTicks(
      episodes: DataFrame,
      entity: Column,
      start: Column,
      end: Column,
      status: Column,
      srcOrder: Column,
      tickSeconds: Int): DataFrame = {
    val ticks = episodes
      .select(
        entity.as("e"),
        srcOrder.as("src"),
        status.as("st"),
        explode(sequence(tickOf(start, tickSeconds), tickOf(end, tickSeconds))).as("tick"))
    // keep-last as a hash aggregate (status of the max source order) rather
    // than a row_number window: identical pick (srcOrder is the total
    // order; ties were arbitrary in both forms), but max_by PARTIALLY
    // aggregates map-side — the shuffle carries one row per (e, tick)
    // instead of every exploded episode tick, and the per-partition sort
    // the window needed disappears entirely.
    ticks
      .groupBy(col("e"), col("tick"))
      .agg(max_by(col("st"), col("src")).as("st"))
  }

  /** Active tick set + span per entity (shared by the sparse SRI forms).
    * (An e-only re-clustering of the active set was measured here and
    * REVERTED: the span branch collapses to a direct scan-side aggregate
    * today, and forcing it through the repartitioned active subtree cost
    * more than the downstream exchanges it saved at every tested scale.) */
  private def activeTicks(
      turns: DataFrame,
      entity: Column,
      ts: Column,
      tickSeconds: Int): (DataFrame, DataFrame) = {
    val active = turns
      .select(entity.as("e"), tickOf(ts, tickSeconds).as("tick"))
      .groupBy(col("e"), col("tick"))
      .agg(count(lit(1)).as("_n"))
      .select(col("e"), col("tick"))
    val span = active.groupBy(col("e")).agg(min("tick").as("lo"), max("tick").as("hi"))
    (active, span)
  }

  /** Per-entity DISAGREEMENT counts over the compared range [lo+lag, hi],
    * WITHOUT materializing the dense grid: with binary status (active=1,
    * gap=0), tick t disagrees with t−lag iff exactly one of t, t−lag is
    * active — so |disagree| = |A \ (A+lag)| + |(A+lag) \ A| restricted to
    * the range, two ANTI-JOINS over the ACTIVE set. O(|active|) instead of
    * the grid's O(span/tick) (13M rows → thousands at the test shape; at a
    * sparse 100 TB corpus this is the difference between scanning activity
    * and scanning time itself). If buckets are requested the counts group
    * by the tick's bucket. */
  private def sparseDisagreements(
      active: DataFrame,
      span: DataFrame,
      lagTicks: Int,
      bucketOf: Option[Column => Column]): DataFrame = {
    // the binary-activity instantiation of the shared 2-fan core: status 1
    // on active ticks, fill 0 elsewhere — a compared tick disagrees iff
    // exactly one side is active (the old anti-join pair consumed the
    // active set from four plan branches; the core uses one)
    val ranged = span.select(col("e"), (col("lo") + lagTicks).as("_rlo"), col("hi").as("_rhi"))
    lagDisagreements(active.withColumn("st", lit(1)), ranged, lagTicks,
      fillStatus = 0, bucketOf = bucketOf)
  }

  /** Bucketed activity regularity (e.g. a daily SRI series) as EXACT
    * INTEGER counts: per (entity, bucket-of-tick) the number of compared
    * ticks (`cmp_ticks`) and of lag disagreements (`disagree`). Buckets
    * with zero disagreements still emit, via an arithmetic per-bucket
    * compared-tick count. Callers derive their own score from these
    * integers (200·(cmp_ticks − disagree)/cmp_ticks − 100, or an integer
    * micro-unit form for bit-stable sliding stats) — any fixed FP op
    * sequence over them is deterministic in every engine, unlike
    * aggregate-computed floats. */
  def activityRegularityBucketedCounts(
      turns: DataFrame,
      entity: Column,
      ts: Column,
      tickSeconds: Int,
      lagTicks: Int,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds % tickSeconds == 0,
      s"bucketSeconds ($bucketSeconds) must be a multiple of tickSeconds ($tickSeconds)")
    val ticksPerBucket = bucketSeconds / tickSeconds
    val (active, span) = activeTicks(turns, entity, ts, tickSeconds)
    // every (entity, bucket) with ≥1 compared tick: bucket index range of
    // [lo+lag, hi] — a per-entity explode bounded by span/bucket (days)
    val buckets = span
      .select(col("e"), (col("lo") + lagTicks).as("_rlo"), col("hi").as("_rhi"))
      .where(col("_rlo") <= col("_rhi"))
      .select(col("e"), col("_rlo"), col("_rhi"),
        // floor-div (SQL `div` truncates toward zero — wrong bucket for
        // negative ticks, inconsistent with tickOf/bucketOf)
        explode(expr(s"sequence(cast(floor(_rlo / $ticksPerBucket.0D) as bigint), " +
          s"cast(floor(_rhi / $ticksPerBucket.0D) as bigint))")).as("_bucket"))
      // compared ticks of this bucket: overlap of the bucket's tick range
      // with [rlo, rhi] (pure arithmetic — no grid rows)
      .withColumn("_t",
        least(col("_rhi"), (col("_bucket") + 1) * ticksPerBucket - 1)
          - greatest(col("_rlo"), col("_bucket") * ticksPerBucket) + 1)
      .select(col("e"), col("_bucket"), col("_t"))
    // floor-div like tickOf: negative ticks must bucket downward, not
    // toward zero (exact: |t·tickSeconds| < 2^53, fraction ≥ 1/bucketSeconds)
    val dis = sparseDisagreements(active, span, lagTicks,
      Some(t => floor(t * tickSeconds / bucketSeconds).cast("long")))
    buckets
      .join(dis, Seq("e", "_bucket"), "left")
      .select(
        col("e").as("conv_id"),
        timestamp_seconds(col("_bucket") * ticksPerBucket * tickSeconds).as("bucket_start"),
        col("_t").as("cmp_ticks"),
        coalesce(col("_disagree"), lit(0L)).as("disagree"))
  }

  /** Transcripts instantiation: per-tick activity status (1 = at least one
    * turn in the tick) over each entity's first..last tick; day-over-day
    * regularity = lag of one day in ticks. Sparse O(|active|) form — the
    * dense status grid is never materialized (see sparseDisagreements). */
  def activityRegularity(
      turns: DataFrame,
      entity: Column,
      ts: Column,
      tickSeconds: Int,
      lagTicks: Int): DataFrame = {
    val (active, span) = activeTicks(turns, entity, ts, tickSeconds)
    val dis = sparseDisagreements(active, span, lagTicks, None)
    span
      .where(col("hi") - col("lo") >= lagTicks)
      .withColumn("_t", col("hi") - col("lo") + 1 - lagTicks)
      .join(dis, Seq("e"), "left")
      .withColumn("_d", coalesce(col("_disagree"), lit(0L)))
      .select(col("e").as("conv_id"),
        (lit(200.0) * (col("_t") - col("_d")) / col("_t") - 100.0).as("sri"))
  }
}
