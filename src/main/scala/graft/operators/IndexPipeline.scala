package graft.operators

import org.apache.spark.sql.DataFrame

/** One CDC feed, many artifacts: fan a micro-batch out to several
  * idempotent sinks from a single Structured Streaming `foreachBatch`
  * — anything with a per-batch-id skip:
  *  - every [[Artifact]] kernel instance's `cdcSink` (op-aware: `"D"`
  *    rows delete) or `foreachBatchSink` (insert-only) —
  *    [[Bm25Index]], [[LmIndex]], [[DedupIndex]], [[AnnIndex]],
  *    [[VecStats]], [[AggView]], [[ColStats]] (whose `cdcSink` refuses
  *    delete-bearing batches: its stats are append-only);
  *  - [[MergeOnRead.foreachBatchSink]].
  *
  * The composition provides NO cross-artifact atomicity — each
  * artifact commits independently — and doesn't need it: every sink
  * is exactly-once against its OWN watermark, so a crash between
  * sinks followed by the at-least-once replay re-applies the batch
  * only to the artifacts that missed it. The fleet of artifacts
  * CONVERGES to the sequential fold of the feed; the only observable
  * anomaly is bounded staleness of the crashed-past artifacts until
  * the replay lands, which is the same anomaly an independent
  * per-artifact stream would show.
  *
  * The batch is localCheckpointed once so N artifacts don't re-run
  * the upstream micro-batch plan N times.
  *
  * Reference grounding: the reference maintains several annotator
  * datasets from one update signal, each swapped independently
  * (directory/directory.go:230-240); this is that shape for index
  * maintenance.
  */
object IndexPipeline {

  /** `writeStream.foreachBatch(IndexPipeline.sink(a, b, c))`. */
  def sink(sinks: ((DataFrame, Long) => Unit)*)
      : (DataFrame, Long) => Unit =
    (df, id) => {
      val batch = df.localCheckpoint(false)
      sinks.foreach(s => s(batch, id))
    }

  /** The artifact's committed batch watermark (the `lastBatch` its
    * live manifest carries; -1 before any batch) — the public pin a
    * cross-artifact reader coordinates on.
    */
  def lastBatch(path: String): Long =
    IndexDirs.readManifest(path)
      .map(_.longOr("lb", -1L)).getOrElse(-1L)

  /** The highest batch id EVERY listed artifact has committed — the
    * consistent read point of a mid-convergence fleet (an artifact
    * ahead of it has extra batches applied; one behind defines it).
    */
  def commonBatch(paths: Seq[String]): Long = {
    require(paths.nonEmpty, "commonBatch needs at least one artifact")
    paths.map(lastBatch).min
  }

  /** The highest RETAINED manifest version of `path` whose watermark
    * is ≤ `batchId` — the version a time-travel serve
    * ([[AggView.readAsOf]], [[VecStats.summaryAsOf]]) pins to read
    * the artifact as of that batch. Throws when every retained
    * version is already past the batch (the window closed — fall
    * back to live reads, or retain more versions).
    */
  def versionAt(path: String, batchId: Long): Long =
    IndexDirs.listManifestVersions(path).reverse.find { v =>
      IndexDirs.readManifestAt(path, v)
        .exists(_.longOr("lb", -1L) <= batchId)
    }.getOrElse(throw new IllegalStateException(
      s"no retained manifest version of $path at or before batch " +
        s"$batchId — the consistent-read window has closed"))

  /** One consistent read point for a whole fleet: each artifact's
    * pinned manifest version at the fleet's COMMON watermark. A
    * reader joining several artifacts mid-convergence (a crash-replay
    * window, sinks that simply haven't run yet) serves every artifact
    * at the same batch id instead of mixing watermarks.
    */
  def pinnedVersions(paths: Seq[String]): Map[String, Long] = {
    val common = commonBatch(paths)
    paths.map(p => p -> versionAt(p, common)).toMap
  }
}
