package graft

import org.apache.spark.sql.functions._
import graft.operators.Rollup

/** Physical-plan shape assertions: the scale-readiness properties SURVEY.md
  * §4 claims (pushdown, pruning, broadcast, partial aggregation, codegen)
  * must be visible in the executed plan, not just intended. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter on raw scan is pushed to parquet (PushedFilters)") {
    val ev = spark.read.parquet(s"$dir/events.parquet").where(col("event_type") === "purchase")
    val p = plan(Rollup.rollupRaw(ev, col("user_id"), col("ts"), col("value"), "1 minute"))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("EqualTo(event_type,purchase)"), pushed)
  }

  test("column pruning: token stats scan reads only (doc_id, text)") {
    val q = Queries.queries("q_token_stats")(spark, dir)
    val p = plan(q)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"scan must not read unused columns: $readSchema")
  }

  test("metadata-driven projection reaches the scan (q_selected_vars ReadSchema)") {
    val p = plan(Queries.queries("q_selected_vars")(spark, dir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("user_id") && readSchema.contains("value"), readSchema)
    assert(!readSchema.contains("event_type") && !readSchema.contains("event_id"),
      s"CSV-selected projection must prune unselected columns: $readSchema")
  }

  test("join assembly broadcasts the customer dim") {
    val p = plan(Queries.queries("q_join_assembly")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("tier rollup does map-side partial aggregation (two HashAggregates, one Exchange)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val p = plan(Rollup.rollupRaw(ev, col("user_id"), col("ts"), col("value"), "1 hour"))
    val nAgg = p.linesIterator.count(l => l.contains("HashAggregate"))
    val nExch = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(nAgg == 2, s"expected partial+final HashAggregate, got $nAgg")
    assert(nExch == 1, s"expected exactly one shuffle, got $nExch")
  }

  test("cascade adds no extra shuffle per tier (merge is one Exchange each)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val t1m = Rollup.rollupRaw(ev, col("user_id"), col("ts"), col("value"), "1 minute")
    val t1h = Rollup.rollupTier(t1m, "1 hour")
    val p = plan(t1h)
    val nExch = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(nExch == 2, s"raw→1m→1h must shuffle exactly twice, got $nExch\n${p.take(3000)}")
  }

  test("co-partitioned cascade: ONE exchange for the whole raw→1m→1h→1d chain") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val (_, _, t1d) = Rollup.cascadeCoPartitioned(ev, col("user_id"), col("ts"), col("value"))
    t1d.collect()
    val p = t1d.queryExecution.executedPlan.toString
    val finalPlan = p.linesIterator.takeWhile(!_.contains("Initial Plan")).toSeq
    val nExch = finalPlan.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(nExch == 1, s"expected a single exchange, got $nExch:\n${finalPlan.mkString("\n").take(3000)}")
    // and it matches the direct raw→1d rollup (mod FP summation order)
    val ref = Rollup.rollupRaw(ev, col("user_id"), col("ts"), col("value"), "1 day")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("conv_id"), col("bucket_start"), col("n_rows"), col("n_vals"),
        round(col("sum"), 6), col("min"), col("max"), round(col("sum_sin"), 9))
      .orderBy("conv_id", "bucket_start").collect().toSeq
    assert(canon(t1d) == canon(ref))
  }

  test("retention/eligibility joins carry no broadcast hint on an unbounded per-entity side") {
    // a forced broadcast of a per-entity aggregate OOMs at 10^8+ entities;
    // the plan must leave the strategy to AQE (hint-free logical plan)
    for (q <- Seq("q_retention_14d", "q_eligibility", "q_ngram_jaccard_block",
        "q_weekly_concepts", "q_sleepsd_windows", "q_weekly_hrv", "q_episode_sri")) {
      val lp = Queries.queries(q)(spark, dir).queryExecution.analyzed.toString
      assert(!lp.contains("ResolvedHint") && !lp.contains("UnresolvedHint"),
        s"$q must not force a broadcast:\n${lp.take(1500)}")
    }
  }

  test("rollup stays inside whole-stage codegen (no UDFs in the hot path)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val df = Rollup.rollupRaw(ev, col("user_id"), col("ts"), col("value"), "1 minute")
    df.collect() // execute THIS plan so AQE finalizes and codegen spans appear
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"expected codegen stage markers in final plan:\n${p.take(2000)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), "hot path must be UDF-free")
  }

  test("tier level with gorilla is ONE fused aggregate: no stat/gorilla join, one exchange") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val df = Rollup.rollupRawWithGorilla(ev, col("user_id"), col("ts"), col("value"), "1 minute")
    val p = plan(df)
    assert(!p.contains("Join"), s"stat+gorilla must be one aggregate, found a join:\n${p.take(2000)}")
    val nAgg = p.linesIterator.count(_.contains("Aggregate"))
    val nExch = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(nAgg == 2, s"expected partial+final aggregate, got $nAgg")
    assert(nExch == 1, s"expected exactly one shuffle, got $nExch")
  }

  test("dense grid is two-level: days then ticks, identical points to a single-span sequence") {
    import graft.operators.{GapFill, Rollup}
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val t1h = Rollup.finalized(Rollup.rollupRaw(ev, col("user_id"), col("ts"), col("value"), "1 hour"))
      .select(col("conv_id"), col("bucket_start"), col("n_rows"))
    val grid = GapFill.denseGrid(t1h, "1 HOUR")
    // plan shape: two Generate (explode) levels — never one whole-span explode
    val nGen = plan(grid).linesIterator.count(_.contains("Generate "))
    assert(nGen == 2, s"expected day+tick Generate pair, got $nGen")
    // points identical to the naive single sequence(lo, hi, interval)
    val span = t1h.groupBy(col("conv_id"))
      .agg(min(col("bucket_start")).as("lo"), max(col("bucket_start")).as("hi"))
    val naive = span.select(col("conv_id"),
      explode(expr("sequence(lo, hi, INTERVAL 1 HOUR)")).as("bucket_start"))
    assert(grid.select("conv_id", "bucket_start").exceptAll(naive).isEmpty)
    assert(naive.exceptAll(grid.select("conv_id", "bucket_start")).isEmpty)
    assert(grid.count() == naive.count())
  }

  test("SRI activity score is sparse: only the bounded 2-fan Generate, no dense grid") {
    import graft.operators.Sri
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val sri = Sri.activityRegularity(ev, col("user_id"), col("ts"), tickSeconds = 300, lagTicks = 288)
    // exactly ONE Generate: the 2-fan cur/lag sides over the ACTIVE set
    // (constant fan-out 2 — never a span-sized grid explode); and the
    // active set must feed one branch, not the old 4-branch anti-join pair
    val p = plan(sri)
    val nGen = p.linesIterator.count(_.contains("Generate "))
    assert(nGen == 1, s"sparse SRI explodes the 2-fan sides once, got $nGen Generates")
    val nScan = p.linesIterator.count(_.contains("Scan parquet"))
    assert(nScan <= 3, s"sparse SRI must not re-derive the active set per branch, got $nScan scans")
    // bucketed form adds only the bucket-index Generate (also bounded)
    val bkt = Sri.activityRegularityBucketedCounts(ev, col("user_id"), col("ts"), 300, 288, 86400L)
    val nGenB = plan(bkt).linesIterator.count(_.contains("Generate "))
    assert(nGenB == 2, s"bucketed sparse SRI explodes bucket indices + 2-fan sides, got $nGenB")
  }

  test("gap-fill grid join co-partitions (no redundant exchange between join and window)") {
    val q = Queries.queries("q_gapfill_locf_1h")(spark, dir)
    val p = plan(q)
    assert(p.contains("Window"), p.take(1500))
  }

  test("gap-fill windows never use a FOLLOWING-anchored frame (those re-scan per row)") {
    // Spark evaluates UnboundedFollowing frames from scratch for every row
    // — O(partition²), measured 46 s for the interp query at bench scale;
    // NOCB must be a running frame over the DESCENDING order instead
    for (q <- Seq("q_gapfill_locf_1h", "q_gapfill_interp_1h")) {
      val p = plan(Queries.queries(q)(spark, dir)).toLowerCase
      assert(!p.contains("unboundedfollowing"),
        s"$q must not carry an unbounded-following frame:\n${p.take(2000)}")
    }
  }

  test("episode SRI is sparse: only the episode-tick Generate, no dense-grid pair, no cartesian") {
    val q = Queries.queries("q_episode_sri")(spark, dir)
    val p = plan(q)
    // exactly two bounded explodes: episode→ticks (dedup input) and the
    // 2-fan cur/lag sides — never a dense time grid, and never duplicated
    // copies of the episode explode feeding span/current/lag branches
    val nGen = p.linesIterator.count(_.contains("Generate "))
    assert(nGen == 2, s"episode SRI explodes ticks once + 2-fan sides once, got $nGen Generates")
    assert(!p.contains("Cartesian"), "episode SRI joins must be equi-joins")
  }

  test("IVF ANN plan: equi-joins only, no cartesian, no pair-dedup aggregate") {
    val q = Queries.queries("q_ann_ivf")(spark, dir)
    val p = plan(q)
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"IVF candidate generation must stay an equi-join:\n${p.take(2000)}")
    // a pair meets through exactly ONE list, so unlike the LSH path there
    // must be NO distinct/dedup aggregate between candidates and verify
    assert(!p.contains("HashAggregate(keys=[vec_id"), "IVF needs no pair-dedup")
  }
}
