package graft.plans

import org.scalatest.Assertions._
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.operators.RangeLookup

/** Differential check of both range-join execs against
  * `RangeLookup.lookupNaive` planned in a session without the
  * range-join strategy (Spark's own nested-loop join, an oracle
  * independent of both execs).
  */
object RangeJoinDifferential extends AdaptiveSparkPlanHelper {
  private lazy val withStrategy = {
    val s = SparkTestSession.spark.newSession()
    GraftBridge.addStrategy(s, RangeJoinStrategy)
    s
  }
  private lazy val oracle = SparkTestSession.spark.newSession()

  /** The partition bound of the shuffle path's joins. */
  def shufflePartitions: Long =
    withStrategy.conf.get("spark.sql.shuffle.partitions").toLong

  private def in(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The sorted (id, payload) rows of a left join. */
  type Rows = Seq[(Long, String)]

  private def rows(df: DataFrame): Rows =
    df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

  /** Left-joins probes(id: Long, bin) to ranges(lo, hi, payload)
    * through [[BroadcastRangeJoinExec]] and through the merge-hinted
    * [[ShuffleRangeJoinExec]], asserts each equals the oracle (which
    * must hold both hits and misses), and returns the oracle's rows
    * with each exec's `numRangeRows`, keyed by exec name.
    */
  def check(name: String, ranges: DataFrame,
      probes: DataFrame): (Rows, Map[String, Long]) = {
    val naive = RangeLookup.lookupNaive(in(oracle, probes),
      in(oracle, ranges), col("bin")).select("id", "payload")
    assert(naive.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"), name)
    val want = rows(naive)
    assert(want.exists(_._2 != null) && want.exists(_._2 == null), name)
    val (p, r) = (in(withStrategy, probes), in(withStrategy, ranges))
    val cond = col("bin") >= col("lo") && col("bin") <= col("hi")
    val built = Seq("BroadcastRangeJoin" -> r,
        "ShuffleRangeJoin" -> r.hint("merge")).map { case (exec, side) =>
      val got = p.join(side, cond, "left").select("id", "payload")
      assert(rows(got) == want, s"$name: $exec")
      val execs = collect(got.queryExecution.executedPlan) {
        case e: RangeJoinExec => e }
      assert(execs.map(_.nodeName) == Seq(exec), s"$name: $exec")
      exec -> execs.head.metrics("numRangeRows").value
    }
    (want, built.toMap)
  }
}
