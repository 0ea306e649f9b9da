package graft.operators

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkException, TaskContext}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[Par.inParallel]]'s FAIL-FAST contract: the first failing task is
  * seen in completion order, its siblings' running Spark jobs are
  * cancelled (a thread interrupt alone never stops a job), and the
  * original exception is rethrown — so a refused guard stops the
  * staging write it overlaps, and the kernel GCs the staged dir.
  */
class ParSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Far past the bound below: a sibling that is NOT cancelled keeps
    * the call waiting this long.
    */
  private val SiblingSeconds = 60L
  private val BoundSeconds = 20L

  /** A one-task Spark job that runs until it is cancelled (or
    * [[SiblingSeconds]] pass).
    */
  private def jobUntilCancelled(): Unit = {
    val seconds = SiblingSeconds
    spark.sparkContext.parallelize(Seq(1), 1).foreach { _ =>
      val ctx = TaskContext.get()
      val end = System.nanoTime() + seconds * 1000L * 1000L * 1000L
      while (!ctx.isInterrupted() && System.nanoTime() < end)
        Thread.sleep(20)
    }
  }

  /** Blocks until some Spark job is running. */
  private def awaitActiveJob(): Unit = {
    val end = System.nanoTime() + 30L * 1000L * 1000L * 1000L
    while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty &&
        System.nanoTime() < end) Thread.sleep(20)
  }

  /** The job `body`'s thread ran was CANCELLED: its action failed
    * with Spark's cancellation error, not an interrupt or a timeout.
    */
  private def cancelled(t: Throwable): Boolean =
    t != null && t.isInstanceOf[SparkException] &&
      t.getMessage.toLowerCase.contains("cancel")

  private def secondsSince(t0: Long): Double =
    (System.nanoTime() - t0) / 1e9

  test("the first failure rethrows at once with its own type and " +
      "cancels the sibling's running Spark job") {
    val sibling = new AtomicReference[Throwable]()
    spark.sparkContext // the session the call's tasks run their jobs on
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.inParallel(Seq(
        () => { awaitActiveJob(); throw new IllegalStateException("refused") },
        () => try jobUntilCancelled() catch {
          case t: Throwable => sibling.set(t); throw t
        }))
    }
    assert(e.getMessage == "refused")
    assert(secondsSince(t0) < BoundSeconds,
      s"inParallel waited ${secondsSince(t0)} s for a sibling it should " +
        "have cancelled")
    assert(cancelled(sibling.get),
      s"the sibling's job was not cancelled: ${sibling.get}")
  }

  test("a kernel mutator whose guard refuses cancels its staging job " +
      "and GCs the staged dir") {
    import spark.implicits._
    def docs(from: Int, until: Int) = (from until until)
      .map(i => (i.toLong, s"doc $i word${i % 5}")).toDF("doc_id", "text")
    val path = Files.createTempDirectory("par-kernel").toUri.toString
      .stripSuffix("/") + "/bm25"
    val built = Bm25Index.buildIfAbsent(docs(0, 20), "text", "doc_id",
      path, tbParts = 4, dlParts = 4)
    val staging = new AtomicReference[Throwable]()
    val t0 = System.nanoTime()
    // the presence guard refuses (the ids were never indexed) while
    // the staging task runs a job that only ends when cancelled
    val e = intercept[IllegalArgumentException] {
      Artifact.withSeam(path, Artifact.Staging) {
        try jobUntilCancelled() catch {
          case t: Throwable => staging.set(t); throw t
        }
      }(Bm25Index.delete(docs(100, 103), path))
    }
    assert(e.getMessage.contains("not live"), e.getMessage)
    assert(secondsSince(t0) < BoundSeconds,
      s"the refusal took ${secondsSince(t0)} s")
    assert(cancelled(staging.get),
      s"the staging job was not cancelled: ${staging.get}")
    val deltas = new Path(path, "deltas")
    val fs = IndexDirs.fs(path)
    assert(fs.listStatus(deltas).filter(_.isDirectory).isEmpty,
      "the staged delta dir was not GC'd")
    val now = Bm25Index.append(docs(0, 0), path)
    assert(now.fingerprint == built.fingerprint && now.count == built.count)
  }
}
