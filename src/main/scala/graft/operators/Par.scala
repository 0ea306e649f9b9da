package graft.operators

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Two build-path throughput helpers shared by the artifact builders
  * (optimization guide §2.5 "input skew … repartition immediately
  * after the read" / §2.6 "overlap independent jobs").
  *
  * Both exist because artifact BUILDS have a shape regular queries do
  * not: their inputs are freshly-written small-file tables whose scan
  * parallelism is capped at the file count, and their outputs are
  * several small independent tables whose sequential write jobs pay
  * one driver round-trip each.
  */
object Par {

  /** Widen a narrow scan to the session's parallelism before
    * CPU-heavy downstream work (grain explosion + hash aggregation in
    * the profile builders). A profiling scan's natural partition
    * count is its file/split count; when that is BELOW the core count
    * the whole exploded aggregate runs on a handful of cores while
    * the rest idle (measured: a one-scan profile of q237's 4-file
    * table ran 7.0 s on 4 tasks of a 32-core session). The
    * round-robin exchange moves the UN-exploded rows once — strictly
    * fewer bytes than the exploded stream it parallelizes.
    *
    * SCALE-ADAPTIVE by construction, not tuned to local mode: at
    * corpus scale a table's split count exceeds any executor count,
    * the condition is false, and this is the identity — no shuffle is
    * ever added to a 100 TB scan. Only the small-table case (where
    * the shuffle is trivially cheap) changes.
    *
    * Callers that key on `input_file_name()` must project the file
    * key BEFORE calling (the exchange separates the downstream stage
    * from the scan, where `input_file_name()` returns "").
    */
  def widen(df: DataFrame): DataFrame = {
    // projected file scans ONLY: on any other plan (e.g. a
    // merge-on-read fold with a broadcast join) even PLANNING the RDD
    // below eagerly kicks off the broadcast subtree's jobs
    // (executeBroadcast fires on doExecute), turning a
    // partition-count peek into real work — measured as a q239
    // regression before this guard. A non-scan input is left alone:
    // its partitioning already came from a shuffle sized by
    // spark.sql.shuffle.partitions.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanOnly(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case s: SubqueryAlias => scanOnly(s.child)
        case pr: Project => scanOnly(pr.child)
        case f: Filter => scanOnly(f.child)
        case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
        case _ => false
      }
    val bare =
      try scanOnly(org.apache.spark.sql.GraftBridge.analyzedPlan(df))
      catch { case scala.util.control.NonFatal(_) => false }
    if (!bare) return df
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // planned partition count of the (pre-explosion) scan projection
    // — driver-side planning only, no job on a bare scan
    val planned = df.rdd.getNumPartitions
    if (planned >= target) df else df.repartition(target)
  }

  /** Whether `df` is small enough for a build to localCheckpoint its
    * projected batch (`spark.graft.build.checkpointMaxBytes`, default
    * 4 GiB). The single-pass build recipes checkpoint the tokenized /
    * projected batch once and fan the artifact writes out from it —
    * the right trade for CDC deltas and small builds, but a FULL
    * 100 TB corpus build would materialize the whole tokenized corpus
    * to executor-local disk (non-fault-tolerant, disk-bound — guide
    * §5's caching caveat). Callers fall back to their multi-scan form
    * when this returns false. Driver-side only: the optimizer's size
    * estimate comes from the logical plan (file-relation sizes are
    * already listed), no job runs.
    */
  def fitsCheckpointBudget(df: DataFrame): Boolean = {
    val maxBytes = df.sparkSession.conf
      .getOption("spark.graft.build.checkpointMaxBytes")
      .map(_.toLong).getOrElse(4L << 30)
    val est =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    est <= maxBytes
  }

  /** Run independent driver-side actions (artifact writes, bounded
    * collects) CONCURRENTLY and wait for all. Spark's scheduler runs
    * jobs from several driver threads side by side (guide §2.6), so
    * k independent metadata-scale writes cost max() instead of sum()
    * of their job+round-trip times. Daemon threads; pool is per-call
    * (builds run a handful of tasks, pool reuse would buy nothing).
    *
    * FAIL-FAST: results are awaited in COMPLETION order, so the first
    * failure is seen the moment it happens, not after the tasks
    * submitted before it finish. It then cancels every Spark job the
    * siblings started — each call tags its tasks' jobs with one
    * per-call job tag, because interrupting a driver thread does not
    * stop the job it is blocked on — gives the siblings a moment to
    * unwind from the cancellation, interrupts any still running
    * (driver-side work), waits for them, and rethrows the original
    * failure with its own type, so callers' error contracts are
    * unchanged. Every caller's writes target pre-commit staging paths,
    * so a cancelled sibling leaves garbage the caller GCs, never
    * corruption.
    */
  def inParallel(tasks: Seq[() => Unit]): Unit = {
    if (tasks.isEmpty) return
    if (tasks.size == 1) { tasks.head(); return }
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = s"graft-par-${UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(tasks.size,
      r => { val t = new Thread(r, "graft-build-par"); t.setDaemon(true); t })
    val done = new ExecutorCompletionService[Unit](pool)
    try {
      tasks.foreach(t => done.submit(new Callable[Unit] {
        override def call(): Unit = {
          sc.foreach(_.addJobTag(tag))
          try t() finally sc.foreach(_.removeJobTag(tag))
        }
      }))
      tasks.foreach { _ =>
        try done.take().get()
        catch {
          case e: ExecutionException =>
            sc.foreach(_.cancelJobsWithTag(tag))
            pool.shutdown()
            if (!pool.awaitTermination(2, TimeUnit.SECONDS)) pool.shutdownNow()
            pool.awaitTermination(1, TimeUnit.MINUTES)
            throw e.getCause
        }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      ()
    }
  }
}
