package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}

/** Locks in the plan-hygiene claims mechanically: the physical plans
  * of key declared queries must keep the shapes PERF.md documents
  * (broadcast joins for dimensions, hash aggregation on the gram
  * stream, no window-based top-k, filters pushed to the scan). A
  * regression that silently flips one of these — a join outgrowing
  * broadcast, an agg falling back to sort, a top-k reverting to a
  * window — fails here, not in a later bench review.
  */
class PlanInvariantSpec extends AnyFunSuite {
  lazy val spark = {
    // the production session shape: Bench/Verify run with the graft
    // strategy installed, so the invariants are asserted against it
    val s = SparkTestSession.spark
    graft.Graft.install(s)
    s
  }
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("dimension joins broadcast (q03)") {
    val p = plan("q03_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("minhash signature aggregation stays hash-based (q43)") {
    val p = plan("q43_neardup_pairs")
    assert(!p.contains("SortAggregate"))
  }

  test("top-k runs through the bounded aggregate, not a window (q33/q44)") {
    for (q <- Seq("q33_cosine_topk", "q44_lsh_ann")) {
      val p = plan(q)
      assert(!p.contains("Window"), q)
      assert(p.contains("ObjectHashAggregate"), q) // TopKAgg partial
    }
  }

  test("filters reach the parquet scan (q32)") {
    val p = plan("q32_jaccard_pairs")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,60)]")
      || p.contains("LessThan(doc_id,60)"))
  }

  test("range join uses the broadcast interval strategy, not BNLJ (q07)") {
    val p = plan("q07_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("exact dedup is one digest shuffle, no join back (q30)") {
    val p = plan("q30_dedup_exact")
    assert(!p.contains("Join"))
  }

  test("unigram LM broadcasts the vocab side — the token stream never " +
      "shuffles on the Zipf-skewed token value (q60)") {
    val p = plan("q60_unigram_lm")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("v2 annotate fact path is ZERO-join: broadcast struct probes only (q64)") {
    val p = plan("q64_annotate_v2")
    // both snapshot groups probe via the broadcast binary-search
    // payload expression; the dimension joins ran once at snapshot
    // BUILD time, so the fact-side plan contains no join of any kind
    assert(p.contains("range_payload"))
    assert(!p.contains("Join"))
  }

  test("legacy .dat annotate fact path is ZERO-join, like the modern " +
      "path (q67)") {
    val p = plan("q67_annotate_legacy_dat")
    // the binary read + snapshot build (flatten, FIPS broadcast join)
    // run once at build time; the fact side probes the broadcast
    // binary-search payload expression only
    assert(p.contains("range_payload"))
    assert(!p.contains("Join"))
  }

  test("merge-hinted containment joins plan ShuffleRangeJoinExec — " +
      "never a BNLJ or cartesian product (q69, and q73's wide-span " +
      "twin)") {
    for (q <- Seq("q69_bucketed_range_join", "q73_bucketed_range_join_wide")) {
      val p = plan(q)
      assert(p.contains("ShuffleRangeJoin"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("as-of under the default-on hot-key guard: the no-hot-key " +
      "probe keeps q08 on the PURE merge plan — one window pass, no " +
      "join operator, no slice machinery, no expanded intermediate") {
    // the guard's eager probe finds no key over threshold on this
    // data, so the main plan must be exactly the unguarded merge —
    // the tag join / slice window appear only when a key IS hot
    // (AsOfGuardSpec covers that branch)
    val p = plan("q08_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("__asof_slice"), p)
    assert(p.contains("Window"), p)
  }

  test("asOfMerge unguarded core is still the pure merge: no join " +
      "operator, no expanded intermediate, one window pass") {
    // the round-9 regression guard (expand-then-aggregate: events ×
    // earlier orders, then max per event), asserted on the raw
    // operator with the guard off — the guarded cold path runs this
    // exact shape per key
    import org.apache.spark.sql.functions._
    val snaps = graft.Tables.orders(spark, sf)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"))
    val facts = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
        col("user_id"))
    val p = graft.operators.AsOf.asOfMerge(facts, snaps, col("ts"),
        "o_orderdate", keyCols = Seq("user_id"), joinType = "inner",
        maxKeyRows = 0)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"), p)
    assert(p.contains("Window"), p)
  }

  test("DSIR scoring broadcasts the bounded bucket-weight table (q65)") {
    val p = plan("q65_dsir_importance")
    assert(p.contains("BroadcastHashJoin"))
    // the only SortMergeJoin-eligible key would be the feature
    // bucket; it must never shuffle the exploded bigram stream
    assert(!p.contains("SortMergeJoin"))
    // the round-9 fusion: exactly TWO corpus scans — the filtered
    // scoring pass and ONE unfiltered count pass (totals derive from
    // a window over the count rows, never a third corpus lineage)
    assert("Scan parquet".r.findAllIn(p).length == 2, p)
  }

  test("PageRank iterations broadcast the node-scale rank table and " +
      "keep the cached edge list un-shuffled (q118)") {
    val p = plan("q118_pagerank")
    // three iterations -> three broadcast joins of edges x rd; the
    // only acceptable SortMergeJoin is the one-off edge BUILD
    // (lineitem x orders before the cache)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    assert(p.contains("InMemoryTableScan") ||
      p.contains("InMemoryRelation"), p)
  }

  test("set-similarity join: no SortAggregate anywhere; candidate " +
      "pipeline joins are hash joins (q125)") {
    val p = plan("q125_setsim_join")
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("merge-hinted range join plans ShuffleRangeJoinExec, not a " +
      "broadcast or BNLJ (q171)") {
    val p = plan("q171_shuffle_range_join")
    assert(p.contains("ShuffleRangeJoin"), p)
    assert(!p.contains("BroadcastRangeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("transitive closure doubling rounds are cached (q146)") {
    val p = plan("q146_transitive_closure")
    assert(p.contains("InMemoryTableScan") ||
      p.contains("InMemoryRelation"), p)
  }

  test("combined dedup screen: corpus side stays broadcast-joined and " +
      "partition-pruned — no shuffle join anywhere (q204)") {
    val p = plan("q204_dedup_index_screen")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("PartitionFilters"), p)
  }

  test("vector drift costs the BATCH: probe filter pushed to the " +
      "embeddings scan, corpus side is the persisted stats table, " +
      "hash aggregation throughout (q206)") {
    val p = plan("q206_vecstats_drift")
    assert(p.contains("LessThan(vec_id,20)"), p) // probe pushdown
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("SortMergeJoin"), p) // stats join broadcasts
  }

  test("materialized-view rewrite fires: the SQL aggregate over the " +
      "base table scans the aggview ARTIFACT, never lineitem " +
      "(q229/q230/q232/q233)") {
    for (q <- Seq("q229_mv_rewrite", "q230_mv_rollup",
        "q232_mv_global", "q233_mv_avg")) {
      val p = plan(q)
      assert(p.contains("graft-mvrw-"), s"$q\n$p")
      assert(!p.contains("lineitem.parquet"), s"$q\n$p")
    }
  }

  test("metadata-only aggregate serve: the global profile query " +
      "plans with ZERO file scans (q234)") {
    val p = plan("q234_meta_agg")
    assert(!p.contains("FileScan"), p)
    assert(!p.contains("parquet"), p)
  }

  test("rewritten key-complete probe additionally prunes to the " +
      "probed kb partition (q231)") {
    val p = plan("q231_mv_probe")
    assert(p.contains("graft-mvrw-") && !p.contains("lineitem.parquet"), p)
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("kb#"), p)
  }

  test("LIKE-prefix probe rewrites onto the view AND prunes kb " +
      "partitions through the pinned key zones (q241)") {
    val p = plan("q241_mv_zone_probe")
    assert(p.contains("/view/") && !p.contains("/orders/"), p)
    assert(p.contains("PartitionFilters: [kb"), p)
  }

  test("MOR-backed rewrite after a fleet batch + pin refresh serves " +
      "the view artifact, never the table's base/delta files (q235)") {
    val p = plan("q235_mv_mor")
    assert(p.contains("/view/"), p)
    assert(!p.contains("/tbl/"), p)
  }

  test("plain-SQL zone-map skipping scans fewer than all files and " +
      "keeps the predicate above the pruned scan (q236)") {
    val df = SparkEntry.queries("q236_zonemap_plain")(spark, sf)
    assert(df.inputFiles.nonEmpty && df.inputFiles.length < 8,
      df.inputFiles.mkString(", "))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters"), p)
  }

  test("aggregate-view probe serve prunes to the probe's kb " +
      "partitions and broadcasts the probe — no shuffle join, no " +
      "sort agg (q209)") {
    val p = plan("q209_aggview_lookup")
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("kb#"), p) // the prune is on the bucket column
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("SortAggregate"), p)
  }
}
