package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.ExecutionContext

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, StreamingQuery, Trigger}

import graft.api.Api

/** Streaming surface (SURVEY §2.8 T1–T6).
  *
  * The reference's streams are (a) a request stream annotated against
  * the current directory and (b) a refresh stream that atomically
  * swaps the directory. Spark shape: Structured Streaming
  * `foreachBatch` for (a) — the SCD side input is driver-swapped
  * between micro-batches, never keyed state — and a scheduled
  * rebuild + [[DirectoryRef.swap]] for (b). Event-time as-of means
  * arbitrarily late requests are *served*, not dropped: no watermark
  * on the annotation path (T4). Watermarks appear only on
  * engine-general windowed aggregation ([[windowedEventCounts]]).
  */
object Streaming {

  /** T6 atomic directory swap (manager.go:27-46): readers pick up the
    * new snapshot set at the next micro-batch, loads never block
    * reads.
    */
  final class DirectoryRef(initial: Api.Directory) {
    private val ref = new AtomicReference[Api.Directory](initial)
    def get: Api.Directory = ref.get()
    def swap(d: Api.Directory): Unit = ref.set(d)
    /** T1/T2 refresh: rebuild from the loader and swap. */
    def refresh(build: () => Api.Directory): Unit = swap(build())
  }

  /** T3 request stream: annotate each micro-batch against the
    * directory current at batch time, each row through the as-of
    * snapshot of its own date ([[Api.annotateAsOf]]: a NULL date takes
    * the earliest), and call `sink` once per micro-batch, whatever its
    * dates, with its batch id. At-least-once, so a replay-safe sink
    * keys its output by batch id alone.
    *
    * Each micro-batch is one request-size observation
    * (handler.go:270-283 via `Metrics.observeRequestBatch`): the sink
    * call's time and the row count `Dataset.observe` takes in the
    * sink's first action, recorded once that action's listener event
    * arrives. A sink that runs no action records none, and no one waits.
    */
  def annotateStreamTo(spark: SparkSession, requests: DataFrame,
      dir: DirectoryRef, sink: (DataFrame, Long) => Unit,
      ipCol: String = "ip", dateCol: String = "date")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val rows = Observation()
      val t0 = System.nanoTime()
      sink(Api.annotateAsOf(batch, col(ipCol), col(dateCol), dir.get)
        .observe(rows, count(lit(1))), id)
      val nanos = System.nanoTime() - t0
      rows.future.foreach(r => graft.metrics.Metrics.observeRequestBatch(
        "v2", r.getLong(0), nanos))(ExecutionContext.parasitic)
    }

  /** T1/T2 event-driven refresh: watch a path for new dataset files
    * (the Pub/Sub notification analogue) and rebuild + swap the
    * directory whenever a micro-batch delivers new paths. The batch
    * passes the newly seen file names to `build` so the loader can
    * do an incremental refresh (Catalog.newPaths).
    */
  def refreshOnNewFiles(spark: SparkSession, watchPath: String,
      dir: DirectoryRef,
      build: Seq[String] => Api.Directory)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream
      .format("text")
      .load(watchPath)
      .select(input_file_name().as("path"))
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val paths = batch.select("path").distinct().collect()
          .map(_.getString(0)).toSeq
        if (paths.nonEmpty) dir.swap(build(paths))
      }

  /** T6 swap for the pre-cutoff branch: the legacy snapshot
    * [[graft.api.Annotate.annotateLegacy]] probes, swapped whole like
    * the modern directory (the reference's manager refreshes legacy
    * annotators through the same load-then-swap path,
    * manager.go:27-46).
    */
  final class LegacySnapshotRef(initial: DataFrame,
      initialBacking: Option[DataFrame] = None) {
    private final case class S(df: DataFrame, backing: Option[DataFrame])
    private val ref = new AtomicReference[S](S(initial, initialBacking))
    def get: DataFrame = ref.get().df
    /** Install a new snapshot and release the PREVIOUS one's persisted
      * backing table — persist() entries live in the CacheManager until
      * explicitly unpersisted (unlike localCheckpoint RDD blocks they
      * are never GC-cleaned), so a long-running refresh stream would
      * otherwise accumulate one cached range table per .dat drop.
      * Unpersist runs AFTER the install and non-blocking: a probe
      * still executing against the old snapshot recomputes evicted
      * blocks from lineage (LegacyDat.read keeps lineage precisely for
      * this).
      */
    def swap(d: DataFrame, backing: Option[DataFrame] = None): Unit = {
      val prev = ref.getAndSet(S(d, backing))
      prev.backing.foreach(_.unpersist(false))
    }
  }

  /** T1/T2 for the legacy branch: watch a drop path for files whose
    * names the catalog's legacy regexes accept (geoloader.go:37-41),
    * and on each batch that delivers new `.dat` paths rebuild the
    * legacy snapshot through the binary reader + FIPS enrichment and
    * swap it in. Non-matching files in the same drop are ignored, so
    * modern-zip and legacy-dat watchers can share a directory.
    *
    * The v4 and v6 editions refresh independently, as in the
    * reference (geoloader keeps one annotator per family): the
    * watcher remembers the latest delivered path PER FAMILY across
    * batches and rebuilds the snapshot from their union, so a batch
    * that drops only a v6 file replaces the v6 half without evicting
    * v4 coverage (and vice versa). "Latest" is the lexicographically
    * greatest path — the date-stamped filenames make that the newest
    * edition.
    */
  def refreshLegacyOnNewDats(spark: SparkSession, watchPath: String,
      ref: LegacySnapshotRef, fips: DataFrame,
      budget: graft.sources.Ingest.ErrorBudget =
        graft.sources.Ingest.ErrorBudget())
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    // per-watcher memory of the newest path per family ("v4"/"v6")
    val latest = new AtomicReference[Map[String, String]](Map.empty)
    spark.readStream
      .format("text")
      .load(watchPath)
      .select(input_file_name().as("path"))
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val paths = batch.select("path").distinct()
          .filter(col("path").rlike(graft.sources.Catalog.GeoLegacyRegex.regex)
            || col("path").rlike(
              graft.sources.Catalog.GeoLegacyV6Regex.regex))
          .collect().map(_.getString(0)).toSeq
        val v6 = paths.filter(
          graft.sources.Catalog.GeoLegacyV6Regex.pattern.matcher(_).matches())
        val v4 = paths.diff(v6)
        if (paths.nonEmpty) {
          val union = latest.updateAndGet { m =>
            m ++ v4.sorted.lastOption.map("v4" -> _) ++
              v6.sorted.lastOption.map("v6" -> _)
          }
          val table = graft.sources.LegacyDat.read(spark,
            union.values.toSeq.sorted, budget)
          ref.swap(graft.api.Annotate.buildLegacySnapshot(table, fips),
            backing = Some(table))
        }
      }
  }

  /** Watermarks (and session windows) require TIMESTAMP; parquet
    * written without isAdjustedToUTC arrives as TIMESTAMP_NTZ. The
    * session timezone is UTC at every entry point, so the cast is an
    * exact reinterpretation of the same micros — without it every
    * event-time operator would throw EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
    * on NTZ-vintage data.
    */
  private def eventTime(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast("timestamp"))
      case _ => df
    }

  /** Q23's streaming twin: tumbling 1-hour event-time windows with a
    * 1-hour watermark; batch-equivalent output in append mode once
    * the watermark passes.
    */
  def windowedEventCounts(events: DataFrame): DataFrame =
    eventTime(events, "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("c"), round(sum("value"), 4).as("sv"))
      .select(col("w.start").as("w"), col("event_type"), col("c"), col("sv"))

  /** Q17's streaming twin: event-time sessionization with a gap —
    * `session_window` keeps per-key open-session state and closes a
    * session once the watermark passes its last event + gap. Works in
    * batch mode too (the spec compares both). Append-mode output:
    * one row per closed (user, session).
    */
  def sessionizeEvents(events: DataFrame, gap: String = "30 minutes",
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame =
    eventTime(events, tsCol)
      .withWatermark(tsCol, gap)
      .groupBy(col(userCol), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n"), min(col(tsCol)).as("t0"))
      .select(col(userCol), col("w.start").as("w_start"), col("n"),
        col("t0"))

  /** Streaming exact dedup on the normalized content digest
    * ([[graft.operators.Dedup.contentKey]]) — the streaming face of
    * the batch exact-dedup operator. State is bounded: the watermark
    * evicts expired digests, so a 100 TB/day corpus dedups with
    * horizon-sized state instead of corpus-sized state.
    */
  def dedupStream(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", horizon: String = "1 hour"): DataFrame =
    eventTime(docs, tsCol)
      .withColumn("__key", graft.operators.Dedup.contentKey(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("__key")
      .drop("__key")

  /** Standing minhash-signature state for [[nearDupDedupStream]]:
    * signatures only (one id + one LONG array per doc ever seen), the
    * q62 incremental pattern — at 100 TB/day the state grows with the
    * corpus's SIGNATURE footprint, never its text.
    */
  trait SignatureStore {
    def get: DataFrame
    def append(sigs: DataFrame): Unit
  }

  /** In-memory [[SignatureStore]]: appends collapse the union into
    * fresh localCheckpoint blocks so the standing plan stays one RDD
    * scan regardless of batch count. Dies with the driver — use
    * [[ParquetSignatureStore]] when the stream must recover.
    */
  final class InMemorySignatureStore(initial: DataFrame)
      extends SignatureStore {
    private val ref = new AtomicReference[DataFrame](
      initial.localCheckpoint(true))
    def get: DataFrame = ref.get()
    def append(sigs: DataFrame): Unit =
      ref.set(ref.get().unionByName(sigs).localCheckpoint(true))
  }

  /** Durable [[SignatureStore]]: signatures append to a parquet
    * directory and the standing state is rebuilt from disk on
    * construction — so a killed driver resumes exactly where it
    * stopped (pair with the query's `checkpointLocation`, which
    * replays any uncommitted micro-batch). A replayed batch may
    * append its signatures twice; that is semantically idempotent
    * here — the flag join distincts on the new id, so duplicate
    * corpus signatures never change which docs are flagged.
    *
    * `init` supplies the signature schema (and any seed rows' plan)
    * for the not-yet-written case.
    */
  final class ParquetSignatureStore(spark: SparkSession, path: String,
      init: DataFrame) extends SignatureStore {
    def get: DataFrame =
      try spark.read.schema(init.schema).parquet(path)
      catch { case _: org.apache.spark.sql.AnalysisException => init }
    def append(sigs: DataFrame): Unit =
      sigs.write.mode("append").parquet(path)
  }

  /** Streaming near-dup dedup — the LSH face of [[dedupStream]],
    * composing the batch operators per micro-batch (foreachBatch, the
    * side-input pattern of [[annotateStreamTo]]):
    *
    *  1. within-batch near-dup dedup ([[Dedup.nearDupDedup]]: exact
    *     pre-pass → LSH pairs → connected components, batch-scale);
    *  2. flag survivors whose signature near-dups the standing corpus
    *     ([[Dedup.incrementalNearDupsFromSigs]] — asymmetric band
    *     join, corpus side signatures only, never a corpus self-join);
    *  3. emit the kept docs to `sink` and append ALL batch-canonical
    *     signatures (kept and corpus-flagged) to the store, so later
    *     batches inherit transitive links through dropped docs.
    *
    * Semantics note, documented honestly: a single streaming pass
    * keeps a doc iff it near-dups nothing seen before it. That equals
    * batch [[Dedup.nearDupDedup]] (keep the min id per component)
    * whenever near-dup classes are cliques and ids arrive in order —
    * the overwhelmingly common shape. Chain-shaped components split
    * across batches can diverge (doc B~C where C arrives later stays
    * kept even though batch clustering would fold B into A's
    * component via C); recovering that exactly requires a second
    * pass, which is what the batch operator is for.
    */
  def nearDupDedupStream(docs: DataFrame, store: SignatureStore,
      sink: (DataFrame, Long) => Unit, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.6): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Dedup
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val uniq = Dedup.nearDupDedup(batch, textCol, idCol, numHashes,
        bands, threshold).localCheckpoint(true)
      // signatures computed ONCE: the flag join and the state append
      // both read these blocks
      val sigs = Dedup.minhashSignatures(uniq, textCol, idCol, numHashes)
        .localCheckpoint(true)
      val flagged = Dedup.incrementalNearDupsFromSigs(sigs, store.get,
          idCol, bands, threshold)
        .select(col("new_id").as(idCol)).distinct()
      val kept = uniq.join(flagged, Seq(idCol), "left_anti")
      store.append(sigs)
      sink(kept, id)
    }
  }

  /** Streaming CCNet quality gate — the streaming face of the q99
    * batch operator ([[graft.operators.TextAnalysis.perplexityBuckets]]):
    * score each micro-batch under a STATIC trigram LM (`train`, the
    * side-input pattern of [[annotateStreamTo]]) and assign head /
    * middle / tail against STATIC per-group thresholds calibrated
    * once ([[graft.operators.TextAnalysis.perplexityThresholds]] on a
    * calibration corpus). Entirely STATELESS per batch — a doc's
    * bucket depends only on its own text and the two static side
    * inputs — so a replayed batch re-emits identical rows and the
    * sink needs no dedup for correctness (at-least-once delivery, by
    * [[annotateStreamTo]]'s contract). Docs with no score (< 3
    * tokens) are gated out; docs in groups the calibration never saw
    * carry a NULL bucket, the caller's policy decision.
    */
  def qualityGateStream(docs: DataFrame, train: DataFrame,
      thresholds: DataFrame, sink: (DataFrame, Long) => Unit,
      idCol: String = "doc_id", textCol: String = "text",
      grpCol: String = "lang"): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.TextAnalysis
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      // one materialization: the LM scoring reads the batch twice
      // (trigram stream + id spine) and the group join a third time
      val b = batch.localCheckpoint(true)
      val scored = TextAnalysis.stupidBackoff(train, b, idCol, textCol)
        .filter(col("score").isNotNull)
        .join(b.select(col(idCol), col(grpCol)), Seq(idCol))
      sink(TextAnalysis.bucketByThresholds(scored, thresholds, grpCol,
        "score"), id)
    }
  }

  /** Exactly-once streaming maintenance of MERGEABLE sketch state —
    * HLL registers ([[graft.operators.Hll.merge]] per-bucket MAX),
    * Count-Min cells ([[graft.operators.CountMin.merge]] per-cell
    * SUM), log-histogram bins ([[graft.operators.LogHist.merge]]),
    * Bloom bits (union+distinct). The state IS a snapshot directory
    * per micro-batch: batch N merges the batch's sketch into the
    * newest snapshot with id < N and overwrites `b=N`. foreachBatch
    * is at-least-once, but a replayed batch re-reads the PRE-batch
    * snapshot (its own earlier, uncommitted write is never an input)
    * and replaces its own output — so even sum-merged sketches never
    * double-count a replay. Snapshots older than the one a replay
    * could still need are pruned on commit.
    *
    * Scale shape: a sketch snapshot is m registers / depth×width
    * cells / ≤ 64 bins per group whatever the corpus size, so the
    * per-batch snapshot write is metadata-scale I/O — the 100 TB cost
    * stays in the batch-side partial aggregation, which is exactly
    * the mergeable-sketch contract ([[graft.operators.Hll]] scale
    * notes). Reference behavior anchor: the reference maintains
    * running metric state across requests and exposes it as gauges
    * (/root/reference/metrics/metrics.go:19-25); snapshot-per-batch
    * generalizes that to restart-safe distributed state.
    */
  class SketchSnapshotStore(spark: SparkSession, path: String,
      init: DataFrame) {
    private def committed: Seq[Long] = {
      val root = new java.io.File(path)
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("b="))
        .flatMap(f => scala.util.Try(f.getName.stripPrefix("b=").toLong)
          .toOption)
        .toSeq.sorted
    }
    private def read(id: Long): DataFrame =
      spark.read.schema(init.schema).parquet(s"$path/b=$id")

    /** The merge input for `batchId`: the newest snapshot STRICTLY
      * older than it — a replayed batch must not see its own earlier
      * write.
      */
    def stateBefore(batchId: Long): DataFrame =
      committed.filter(_ < batchId).lastOption.map(read).getOrElse(init)

    /** The newest committed state (query side). */
    def latest: DataFrame =
      committed.lastOption.map(read).getOrElse(init)

    /** Commit `batchId`'s merged state (overwrite = replay-safe) and
      * prune snapshots a future replay can no longer need (anything
      * older than `batchId - 1`).
      */
    def put(batchId: Long, state: DataFrame): Unit = {
      state.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/b=$batchId")
      committed.filter(_ < batchId - 1).foreach { id =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(s"$path/b=$id"))
      }
    }
  }

  /** Maintain a mergeable sketch over a stream: per micro-batch,
    * `sketcher` reduces the batch to its sketch rows and `merge`
    * folds them into the standing state via the sketch's merge law.
    * Pair with the query's `checkpointLocation`; exactly-once comes
    * from [[SketchSnapshotStore]]'s pre-batch-read + overwrite
    * discipline, not from any sink transactionality.
    */
  def sketchStream(input: DataFrame, store: SketchSnapshotStore,
      sketcher: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    input.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      store.put(id, merge(store.stateBefore(id), sketcher(batch)))
    }

  /** Streaming CDC apply — the streaming face of
    * [[graft.operators.Cdc.applyChanges]]: fold each micro-batch of
    * I/U/D change rows into a maintained table snapshot. State rides
    * [[SketchSnapshotStore]]'s snapshot-per-batch discipline, so a
    * replayed batch re-reads the PRE-batch snapshot and overwrites
    * its own output — exactly-once table state without any sink
    * transactionality. Within a batch, last-writer-wins by `seqCol`;
    * ACROSS batches, later batches win by construction (they apply
    * to the newer snapshot) — together that is global LWW whenever
    * the change feed delivers a key's changes in seq order across
    * batches (the CDC-source contract).
    *
    * Scale contract, stated honestly: the snapshot write is the FULL
    * maintained table per micro-batch — the mutable-DIMENSION
    * maintenance pattern (SCD upkeep, reference-data mirrors), not a
    * 100 TB fact path. Fact-scale mutation needs a table format with
    * transactional MERGE; this operator is the engine-native answer
    * below that threshold.
    */
  def cdcStream(changes: DataFrame, store: SketchSnapshotStore,
      keyCols: Seq[String], opCol: String = "op",
      seqCol: String = "seq"): DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      store.put(id, graft.operators.Cdc.applyChanges(
        store.stateBefore(id), batch, keyCols, opCol, seqCol))
    }

  /** Running per-user aggregates as custom keyed state
    * (mapGroupsWithState): the escalation path for stateful semantics
    * the built-in windows can't express. Update-mode output: each
    * micro-batch emits the new running (count, value-sum) for every
    * user it touched.
    */
  def runningUserStats(events: DataFrame): Dataset[UserStats] = {
    val session = events.sparkSession
    import session.implicits._
    events
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), UserStats](
        GroupStateTimeout.NoTimeout) {
        case (user, it, state) =>
          var (n, sv) = state.getOption.getOrElse((0L, 0.0))
          it.foreach { case (_, v) => n += 1; sv += v }
          state.update((n, sv))
          UserStats(user, n, math.rint(sv * 10000) / 10000)
      }
  }

  /** Stream-stream interval join (the attribution shape: every right
    * event matched to same-key left events it follows within
    * `maxDelay`). Both sides carry a watermark, so Spark BOUNDS the
    * join state: a buffered left row is dropped once the right
    * watermark passes its ts + maxDelay — without the time bound in
    * the join condition the state would grow forever and the query is
    * rejected for append mode. Inner join; `leftTs`/`rightTs` must be
    * TIMESTAMP columns with distinct names.
    *
    * Semantics joined per micro-batch pair up EXACTLY like the batch
    * interval join `rightTs in [leftTs, leftTs + maxDelay]` for
    * events inside the watermark; a right event arriving after its
    * window's state was reclaimed is dropped (late data, by
    * contract). StreamingSpec pins cross-batch matches — a right row
    * whose left partner arrived in an EARLIER micro-batch still
    * joins, which is the stateful part a per-batch join would lose.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      keyCol: String, leftTs: String, rightTs: String,
      maxDelay: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    require(leftTs != rightTs,
      "leftTs and rightTs must have distinct names")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
      .withColumnRenamed(keyCol, "__rk")
    l.join(r,
      col(keyCol) === col("__rk") &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxDelay"))
      .drop("__rk")
  }
}

/** Running per-user stats row for [[Streaming.runningUserStats]]. */
case class UserStats(user_id: Long, n: Long, sv: Double)
