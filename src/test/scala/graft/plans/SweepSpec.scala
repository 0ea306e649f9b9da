package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}

/** The red-flag plan audit as a FAILING test, not a dev tool someone
  * must remember to run: every declared query's physical plan is
  * swept for the three scale-killer classes — BroadcastNestedLoopJoin,
  * CartesianProduct, SortAggregate — against an explicit allowlist of
  * the adjudicated intended shapes, and for partition-less windows
  * over unbounded children. A new query (or a plan regression in an
  * old one) that introduces any of these fails `sbt test` with the
  * offending plan named.
  *
  * Each query's DataFrame is built ONCE for all sweeps (building a
  * lifecycle query runs its artifact builds); each sweep derives its
  * physical plan from it right after the build, under that sweep's
  * own AQE setting.
  */
class SweepSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    graft.Graft.install(s)
    s
  }
  private val sf = "/root/testdata/sf0.001"

  /** Intended tiny-side BNLJ crosses, each adjudicated in VERDICT
    * r10: q27 scalar subquery (1 row), q32 bounded 60×60 Jaccard
    * verifier, q33 bounded brute-force ANN baseline, q36 literal
    * cross, q60 1-row totals cross (the vocab side is
    * BroadcastHashJoin, PlanInvariantSpec), q75 1-row probe-set
    * cross, q82 1-row corpus-stats cross (N/avgdl — the q60 totals
    * class; the df side is a BroadcastHashJoin), q85 bounded 60×60
    * hard-negative verifier cross (the q32 class; scale path is ANN
    * candidate generation), q88 #groups×#groups signature matrix
    * (groups are corpora/languages — dozens, never documents; the
    * signature table is numHashes longs per group), q91 1-row vector
    * probe cross (the q75 class; its BM25 arm re-plans q82's 1-row
    * stats cross), q93 1-row token-total cross (the q60/q82 totals
    * class; all five count-table joins are hash equi-joins), q100
    * bounded 200×200 ground-truth cross (the q32 class — recall
    * eval needs the full truth set on its bounded sample), q102
    * 1-row token-total cross (its LM arm re-plans q93's
    * stupid-backoff pipeline; the quality join is a hash equi-join
    * on doc_id). Anything else that plans a BNLJ is a bug. (q99
    * rides q93's 1-row totals cross too, but its scored stream is
    * checkpointed, so the sweep sees an RDD scan boundary instead of
    * the join — no entry.)
    */
  private val bnljAllowed = Set("q27_scalar_subquery", "q32_jaccard_pairs",
    "q33_cosine_topk", "q36_cross_join", "q60_unigram_lm", "q75_pq_adc_ann",
    "q82_bm25", "q85_hard_negatives", "q88_corpus_minhash",
    "q91_hybrid_rrf", "q93_trigram_lm", "q100_lsh_recall",
    // (q196/q197/q198 carried an adjudicated 1-row token-total cross
    // until round 16: LmIndex now serves N from the MANIFEST, so the
    // persisted-LM serve plans have no stats cross — entries deleted
    // per the honesty rule. q93's in-plan train path keeps its.)
    // (q199/q200/q201/q202/q203 carried an adjudicated 1-row
    // corpus-stats cross until round 16: Bm25Index now serves
    // N/avgdl from the MANIFEST, so the persisted-BM25 serve plans —
    // including q202's lex arm — have no stats join at all; entries
    // deleted per the honesty rule.)
    "q102_signal_correlation",
    // q116/q123: 1-row totals cross back onto a grouped table —
    // the q60/q82 totals-cross class.
    "q116_zscore_outliers", "q123_frequent_pairs",
    // q160: 25×25 nation-name edit-distance cross — the q36/q88
    // bounded dim×dim class (blocking keys bound it at scale).
    "q160_levenshtein_pairs",
    // q176: re-plans q82's BM25 arm → the same 1-row corpus-stats
    // cross (the q60/q82 totals-cross class).
    // (q177 needs no entry: its probe cross evaluates EAGERLY inside
    // mmrRerank's bounded collect, so the declared plan is a
    // LocalTableScan of the 5 re-ranked rows.)
    "q176_ndcg",
    // q182: the persisted-PQ search re-plans q75's adjudicated
    // 1-row-probe broadcast cross (probe LUT × S-byte codes,
    // Similarity.pqSearchInt); the persisted index only changes
    // where the codes scan reads FROM, not the join shape.
    "q182_pq_persisted_ann",
    // q185: the same q75-class 1-row-probe cross again — the
    // incremental (pqAppend) build changes which code FILES the scan
    // unions, not the join shape.
    "q185_pq_append_ann",
    // q187/q188: SQ8 ANN — the q75-class 1-row-probe broadcast cross
    // over per-row (scale, codes); the corpus side never shuffles.
    // q188 only changes where the codes scan reads from (persisted).
    "q187_sq8_ann", "q188_sq8_persisted_ann")

  /** q36 is the deliberate cartesian demonstration query (literal
    * 3×3); nothing else may plan one.
    */
  private val cartesianAllowed = Set("q36_cross_join")

  /** Empty since round 11: q31's min-over-md5-binary (the one
    * adjudicated SortAggregate) now takes its mins over 60-bit md5
    * BIGINTs and plans HashAggregate.
    */
  private val sortAggAllowed = Set.empty[String]

  /** Per declared query: its physical plan text under the session's
    * own settings (AQE on), and the partition-less windows over
    * unbounded children of its plan with AQE disabled (so the physical
    * tree is directly traversable — the shapes themselves are
    * AQE-independent). Both come from one construction of the query,
    * planned while the state it registered is live.
    */
  private lazy val swept: Seq[(String, String, Seq[String])] = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.execution.window.WindowExec
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val windows =
        try GraftBridge.ofRows(spark, GraftBridge.analyzedPlan(df))
          .queryExecution.executedPlan.collect {
            case w: WindowExec
                if w.partitionSpec.isEmpty && !bounded(w.child) =>
              s"$name (${w.child.nodeName})"
          }
        finally spark.conf.set("spark.sql.adaptive.enabled", prev)
      (name, plan, windows)
    }
  }

  test("every declared query plans free of BNLJ / cartesian / " +
      "sort-aggregate outside the adjudicated allowlist") {
    val offenders = swept.flatMap { case (name, p, _) =>
      Seq(
        ("BNLJ", p.contains("BroadcastNestedLoopJoin"), bnljAllowed),
        ("CARTESIAN", p.contains("CartesianProduct"), cartesianAllowed),
        ("SORTAGG", p.contains("SortAggregate"), sortAggAllowed))
        .collect { case (f, true, allow) if !allow(name) => s"$name:$f" }
    }
    assert(offenders.isEmpty,
      s"unexpected red-flag plans: ${offenders.mkString(", ")}")
  }

  /** Round 13's per-site "this global window is bounded" comments
    * (RetrievalQueries q91, AnalyticsQueries q126, TextAnalysis
    * vocabCoverage), promoted to a machine-checked contract: a
    * partition-less WindowExec funnels the whole input through ONE
    * task, so it is legal only when its child subtree provably
    * bounds cardinality — an aggregate (output = #groups), a
    * limit/top-k, or a local (driver-built) table. Any declared
    * query that plans a global window straight over an unbounded
    * scan fails here with the query named.
    */
  private def bounded(p: org.apache.spark.sql.execution.SparkPlan)
      : Boolean = p.exists {
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      => true
    case _: org.apache.spark.sql.execution.GlobalLimitExec => true
    case _: org.apache.spark.sql.execution.LocalLimitExec => true
    case _: org.apache.spark.sql.execution.CollectLimitExec => true
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
      => true
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case _: org.apache.spark.sql.execution.RDDScanExec => true
    case _ => false
  }

  /** Adjudicated exceptions (each re-justified here, not just
    * grandfathered): none — the allowlist is EMPTY, every global
    * window in the declared contract is structurally bounded.
    */
  private val globalWindowAllowed = Set.empty[String]

  test("every partition-less window runs over a structurally bounded " +
      "child (aggregate / limit / local table)") {
    val offenders = swept.filterNot(q => globalWindowAllowed(q._1))
      .flatMap(_._3).distinct
    assert(offenders.isEmpty,
      s"unbounded global windows: ${offenders.mkString(", ")}")
  }

  test("the allowlists stay honest: each named query still plans its " +
      "adjudicated flag (a vanished flag means the allowlist entry " +
      "should be deleted)") {
    val plans = swept.map(q => q._1 -> q._2).toMap
    for (name <- bnljAllowed) {
      val p = plans(name)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("CartesianProduct"), s"$name no longer crosses")
    }
  }
}
