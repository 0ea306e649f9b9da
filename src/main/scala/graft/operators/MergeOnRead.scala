package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read CDC table — the fact-scale mutation layout.
  *
  * [[Cdc.applyChanges]] gives MERGE semantics as a plan, but a
  * PERSISTED mutable table built on it alone must rewrite the full
  * snapshot after every change batch — the one documented scale gap
  * from round 13. This operator closes it with the standard
  * base+delta discipline (the same shape Hudi/Iceberg call
  * merge-on-read, re-derived here on plain parquet + a manifest):
  *
  *  - the BASE is hash-bucketed by key into `data/ver=V/bucket=K/`
  *    directories (`pmod(xxhash64(keys), nBuckets)`), written once;
  *  - each change batch APPENDS as `delta/batch=B/bucket=K/` parquet
  *    — cost ∝ batch size, the base is never touched;
  *  - READ serves base ⋈ deltas through the same LWW fold
  *    ([[Cdc.fold]]), ordered by (batch, seq): the window shuffle is
  *    over the DELTAS only (≪ base by contract) and the base pays
  *    one anti-join on the changed-key set — at 100 TB base / GB-day
  *    deltas that key set is broadcastable and the base never
  *    shuffles or sorts;
  *  - COMPACT folds pending deltas into the base
  *    PARTITION-BY-PARTITION: only buckets named by a delta file are
  *    read or rewritten (a new `ver=V+1` directory holds just those
  *    buckets; untouched buckets keep their existing files, re-linked
  *    by the manifest). Compaction cost ∝ touched data, not table
  *    size.
  *
  * All control-plane I/O goes through the Hadoop [[FileSystem]] API
  * (`file:` in tests, `hdfs:`-class stores in production — the
  * [[IndexDirs]] portability rule). Crash safety is rename-based:
  *
  *  - every append writes to a hidden `.staging-*` directory readers
  *    never list, then commits with ONE rename to `batch=<n>` — the
  *    rename doubles as the batch-id reservation (it fails if the id
  *    was taken, and the loser retries the next id), so two
  *    interleaved appends can never both land on one id and a torn
  *    append is an invisible orphan;
  *  - a batch is served only with its `_SUCCESS` marker (written by
  *    Spark's committer inside the staging dir, so it travels with
  *    the rename) — a batch directory whose marker was lost is
  *    invisible;
  *  - the manifest is the [[IndexDirs]] versioned sequence
  *    (`manifest.m<N>.json`, temp + no-overwrite rename, commits
  *    ANCHORED at the version the operation read — ONE commit
  *    protocol across the whole persisted-state layer): a crash
  *    mid-compaction leaves the old manifest live and the
  *    half-written `ver=` directory unreferenced, a racing
  *    maintenance run either retries onto fresh state or skips a
  *    stale fold, and compaction targets are CLAIMED suffixes so two
  *    racers write disjoint directories;
  *  - folded delta batches and replaced bucket directories are
  *    deleted only AFTER the manifest swap (best-effort GC; a crash
  *    between swap and GC leaves garbage, never corruption).
  *
  * Generalizes the reference's immutable snapshot-append discipline
  * (legacy/legacy-dataset.go:56-57, directory/directory.go:230-240)
  * to tables that mutate in place.
  */
object MergeOnRead {

  /** Table metadata, persisted in every manifest. */
  final case class Meta(keyCols: Seq[String], opCol: String,
      seqCol: String, nBuckets: Int)

  /** `dataVer` is the DATA generation (the `data/ver=N` directory a
    * compaction writes); `mv` the [[IndexDirs]] manifest version this
    * state was read at — the anchor a commit is checked against.
    *
    * `ao`/`brows` are the VERIFIED APPEND-ONLY tracking state
    * (opt-in via [[create]]'s `trackAppendOnly`): `ao` =
    * Some(true) while every fold so far has provably dropped no row
    * (compaction is the verification point — the fold is
    * materialized there anyway, so per-bucket `folded == base +
    * deltas` row-count checks are O(touched)); Some(false) forever
    * once any fold dropped a row (a delete, or an insert re-keying
    * an existing row); None when the table never tracked. `brows`
    * holds per-bucket row counts of the COMPACTED state (complete
    * iff tracking) — what lets a monotone-stats consumer
    * ([[graft.plans.ColStatsInjection]]) equate "rows the profile
    * absorbed" with "rows the folded table holds" without a scan.
    */
  final case class Manifest(dataVer: Int, meta: Meta,
      buckets: Map[Int, Int],   // bucket id -> data ver holding it
      folded: Set[Int],         // delta batch ids already compacted
      mv: Long = 0L,
      ao: Option[Boolean] = None,
      brows: Map[Int, Long] = Map.empty)

  private val Bucket = "__mor_bucket"

  private def bucketOf(meta: Meta) =
    pmod(xxhash64(meta.keyCols.map(col): _*), lit(meta.nBuckets))
      .cast("int")

  private def fs(dir: String): FileSystem = IndexDirs.fs(dir)

  private def writeFile(f: FileSystem, p: HPath, body: String): Unit = {
    val out = f.create(p, true)
    try out.write(body.getBytes(UTF_8))
    finally out.close()
  }

  /** Names of the directories directly under `dir` starting with
    * `prefix` — hidden (`.`-prefixed) staging dirs never match.
    */
  private def listDirs(dir: String, prefix: String): Seq[String] = {
    val f = fs(dir)
    val p = new HPath(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(prefix)).toSeq
  }

  /** Manifest commits ride [[IndexDirs.writeManifestText]]: versioned
    * `manifest.m<N>.json`, temp + no-overwrite rename, anchored at the
    * version the operation read (`mf.mv`) — ONE commit protocol across
    * the whole persisted-state layer (this replaced the table's
    * original `_VERSION`-pointer scheme).
    */
  private def writeManifest(dir: String, m: Manifest): Unit =
    IndexDirs.manifest()
      .put("dv", m.dataVer)
      .put("keys", m.meta.keyCols)
      .put("op", m.meta.opCol).put("seqc", m.meta.seqCol)
      .put("nb", m.meta.nBuckets)
      .put("folded", m.folded.toSeq.sorted.map(_.toString))
      .put("buckets", m.buckets.toSeq.sorted.map { case (b, v) =>
        s"$b:$v" })
      .put("ao", m.ao.map(a => if (a) "t" else "f").getOrElse(""))
      .put("brows", m.brows.toSeq.sorted.map { case (b, n) =>
        s"$b:$n" })
      .commit(dir, m.mv)

  private def parseManifest(r: IndexDirs.ManifestReader): Manifest =
    Manifest(r.int("dv"),
      Meta(r.seq("keys"), r.str("op"), r.str("seqc"), r.int("nb")),
      r.seq("buckets").map { s =>
        val i = s.indexOf(':')
        s.substring(0, i).toInt -> s.substring(i + 1).toInt
      }.toMap,
      r.seq("folded").map(_.toInt).toSet,
      mv = r.version,
      // pre-tracking manifests read as "never tracked" — consumers
      // that need the proof refuse, nothing rebuilds
      ao = r.strOr("ao", "") match {
        case "t" => Some(true)
        case "f" => Some(false)
        case _ => None
      },
      brows = r.seq("brows").map { s =>
        val i = s.indexOf(':')
        s.substring(0, i).toInt -> s.substring(i + 1).toLong
      }.toMap)

  def loadManifest(dir: String): Manifest =
    IndexDirs.readManifest(dir).map(parseManifest).getOrElse(
      throw new IllegalStateException(s"no merge-on-read table at $dir"))

  /** The table's OBSERVABLE state, as a value: the manifest version
    * (covers base generation, bucket map, folded set — every
    * compaction commits a higher one) plus the committed-but-unfolded
    * delta batch ids (appends commit by directory rename, not by
    * manifest, so they need their own component). Two reads see the
    * same rows iff their states are equal — the freshness pin a
    * consumer ([[graft.plans.AggViewRewrite]]) compares, priced at
    * one manifest read + one delta listing (metadata-scale).
    */
  final case class State(mv: Long, dataVer: Int, pending: Set[Int])

  def state(dir: String): State = {
    val m = loadManifest(dir)
    State(m.mv, m.dataVer,
      committedBatches(dir).filterNot(m.folded).toSet)
  }

  /** The table's STREAM coordination point: (highest committed
    * `_stream-<id>` micro-batch id — live batch dirs plus the
    * post-GC sidecar; -1 before any — , whether every live committed
    * batch dir carries a stream marker). A consumer keeping a sibling
    * artifact in sync from the SAME micro-batch feed
    * ([[graft.plans.RelationPins.refreshMor]]) re-trusts its
    * registration only when its own watermark has reached the max id
    * AND nothing landed out-of-band (an unmarked batch is a plain
    * [[append]] the feed never saw — the flag catches the live ones;
    * an unmarked batch already folded and GC'd is outside this check
    * and stays the caller-owned feed-discipline contract, exactly as
    * at registration).
    */
  def streamState(dir: String): (Long, Boolean) = {
    val f = fs(dir)
    def idsIn(names: Seq[String]): Seq[Long] =
      names.filter(_.startsWith("_stream-"))
        .map(_.stripPrefix("_stream-").toLong)
    val live = committedBatches(dir).map { b =>
      val bdir = new HPath(s"$dir/delta/batch=$b")
      idsIn(f.listStatus(bdir).filter(_.isFile)
        .map(_.getPath.getName).toSeq)
    }
    val sidecar = {
      val p = new HPath(s"$dir/delta/.stream-commits")
      if (!f.exists(p)) Seq.empty[Long]
      else idsIn(f.listStatus(p).map(_.getPath.getName).toSeq)
    }
    val all = live.flatten ++ sidecar
    (if (all.isEmpty) -1L else all.max, live.forall(_.nonEmpty))
  }

  /** Buckets actually written under `data/ver=<ver>` (a partitionBy
    * write emits no directory for an empty bucket).
    */
  private def writtenBuckets(dir: String, ver: Int): Seq[Int] =
    listDirs(s"$dir/data/ver=$ver", s"$Bucket=")
      .map(_.stripPrefix(s"$Bucket=").toInt).sorted

  /** Delta batch ids whose write COMMITTED (`_SUCCESS` present) —
    * a torn append never becomes visible.
    */
  private[operators] def committedBatches(dir: String): Seq[Int] = {
    val f = fs(dir)
    listDirs(s"$dir/delta", "batch=")
      .filter(n => f.exists(new HPath(s"$dir/delta/$n/_SUCCESS")))
      .map(_.stripPrefix("batch=").toInt).sorted
  }

  private def bucketsIn(dir: String, batch: Int): Seq[Int] =
    listDirs(s"$dir/delta/batch=$batch", s"$Bucket=")
      .map(_.stripPrefix(s"$Bucket=").toInt)

  /** Creates the table: full bucketed base write (the ONLY full
    * write in the table's life), schema file for empty reads.
    *
    * `trackAppendOnly` (opt-in): verify the snapshot's keys are
    * UNIQUE (one aggregate pass — the create already pays a full
    * write, so the verification rides the same scan budget) and
    * record per-bucket row counts; every later compaction then
    * re-verifies its fold dropped nothing ([[Manifest]]'s
    * `ao`/`brows`). The proof a monotone-statistics consumer needs
    * before trusting an append-only profile AS the folded table's
    * ([[appendOnlyRows]]). A snapshot with duplicate keys REFUSES
    * (a later change to such a key would fold several rows away at
    * once — unverifiable from counts).
    */
  def create(df: DataFrame, dir: String, keyCols: Seq[String],
      opCol: String = "op", seqCol: String = "seq",
      nBuckets: Int = 64, trackAppendOnly: Boolean = false): Unit = {
    require(keyCols.nonEmpty, "create needs at least one key column")
    val meta = Meta(keyCols, opCol, seqCol, nBuckets)
    // a re-create replaces any prior table: manifests first (readers
    // fall to "no table", never a half-replaced state), then the old
    // delta stream — stale batches must not leak into the new table
    IndexDirs.uncommit(dir)
    IndexDirs.rmTree(s"$dir/delta")
    df.limit(0).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/_schema")
    df.withColumn(Bucket, bucketOf(meta))
      .repartition(col(Bucket))
      .write.partitionBy(Bucket).mode("overwrite")
      .parquet(s"$dir/data/ver=0")
    val written = writtenBuckets(dir, 0)
    // the append-only proof (uniqueness + per-bucket counts) is
    // derived from the WRITTEN ver=0 snapshot, not a second
    // evaluation of `df`: a non-deterministic or concurrently-
    // changing source must not anchor a proof to data that was never
    // written. A duplicate-keyed snapshot refuses BEFORE the
    // manifest commit, so no table becomes visible.
    val (ao, brows) =
      if (!trackAppendOnly) (None, Map.empty[Int, Long])
      else if (written.isEmpty) (Some(true), Map.empty[Int, Long])
      else {
        val chk = df.sparkSession.read
          .option("basePath", s"$dir/data")
          .parquet(s"$dir/data/ver=0")
          .groupBy(col(Bucket))
          .agg(count(lit(1)).as("n"),
            count_distinct(struct(keyCols.map(col): _*)).as("nd"))
          .collect()
        val dup = chk.filter(r => r.getLong(1) != r.getLong(2))
        require(dup.isEmpty,
          "trackAppendOnly: the initial snapshot carries duplicate " +
            s"keys (bucket(s) ${dup.map(_.getInt(0)).sorted.take(3)
              .mkString(",")}) — a later change to such a key would " +
            "fold several rows away at once, which row-count " +
            "verification cannot prove sound; deduplicate first")
        (Some(true), chk.map(r => r.getInt(0) -> r.getLong(1)).toMap)
      }
    writeManifest(dir, Manifest(0, meta,
      written.map(_ -> 0).toMap, Set.empty,
      ao = ao, brows = brows))
  }

  /** Batch directories present on disk, committed or not — a torn
    * or in-flight batch directory still RESERVES its id (it is
    * invisible to readers, but its id must never be handed to a
    * second writer).
    */
  private def allBatchDirs(dir: String): Seq[Int] =
    listDirs(s"$dir/delta", "batch=")
      .map(_.stripPrefix("batch=").toInt).sorted

  /** Commit a fully-written staging directory as the next free
    * `batch=<n>`: ONE rename is both the id reservation and the
    * commit — it fails if the id was claimed (another writer won the
    * race) and the loser retries the next id, so no window exists in
    * which two writers hold the same id (the flaw of a separate
    * reserve-then-overwrite protocol: Spark's overwrite DELETES the
    * reserved directory before rewriting it, un-reserving the id
    * mid-write). Data, `_SUCCESS`, and any stream marker become
    * visible together or not at all; a crash before the rename
    * leaves an orphan hidden staging dir — garbage, never read.
    *
    * Honest contract: directory rename is atomic on POSIX/HDFS, not
    * on S3-class object stores — front the table with an HDFS-class
    * filesystem there, as for any rename-committed layout.
    */
  private def commitBatch(dir: String, staging: HPath,
      m: Manifest): Int = {
    val f = fs(dir)
    val ctx = FileContext.getFileContext(staging.toUri,
      IndexDirs.hadoopConf)
    // ids must clear the FOLDED set too: compaction GC removes folded
    // batch directories, and a recycled id would be silently filtered
    // out of every subsequent read
    var b = (allBatchDirs(dir) ++ m.folded).foldLeft(-1)(math.max) + 1
    var committed = false
    while (!committed) {
      val dst = f.makeQualified(new HPath(dir, s"delta/batch=$b"))
      try {
        ctx.rename(staging, dst)
        committed = true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => b += 1
        case _: java.nio.file.FileAlreadyExistsException => b += 1
        // some filesystems signal an existing target differently
        case e: java.io.IOException if f.exists(dst) => b += 1
      }
    }
    b
  }

  /** Appends one change batch (target columns + op + seq). Writes
    * ONLY a hidden staging dir then renames it to `delta/batch=<n>`
    * ([[commitBatch]]) — never touches base or manifest, so appends
    * are O(batch). Returns the batch id.
    *
    * CONCURRENCY CONTRACT: multiple appenders are safe — the commit
    * rename IS the id reservation, so interleaved appends serialize
    * on distinct ids with no reserve/overwrite window. Appends also
    * interleave safely with [[compact]]: compact folds only the
    * batches it SNAPSHOT as committed at entry, so a batch landing
    * mid-compact stays pending and is served by the next [[read]]
    * (proved by MorSpec's interleaving case).
    */
  def append(changes: DataFrame, dir: String): Int = {
    val m = loadManifest(dir)
    val f = fs(dir)
    f.mkdirs(new HPath(dir, "delta"))
    val staging = f.makeQualified(new HPath(dir,
      s"delta/.staging-append-${java.util.UUID.randomUUID()}"))
    changes.withColumn(Bucket, bucketOf(m.meta))
      .repartition(col(Bucket))
      .write.partitionBy(Bucket).mode("overwrite")
      .parquet(staging.toString)
    commitBatch(dir, staging, m)
  }

  /** Exactly-once streaming append — the `foreachBatch` form of
    * [[append]] for a CDC micro-batch stream. `foreachBatch` is
    * at-least-once: after a crash the last batch replays, and a
    * plain [[append]] would double-apply it. Here the micro-batch id
    * travels ATOMICALLY with the data: a `_stream-<id>` marker file
    * joins the data in the staging directory, and the [[commitBatch]]
    * rename makes data, `_SUCCESS`, and marker visible together or
    * not at all. A replay finds its id's marker inside some committed
    * batch directory (or the post-GC sidecar) and skips; a crash
    * before the rename leaves an orphan staging directory (garbage,
    * never read, never corruption). Returns the batch id, or -1 when
    * the id was already committed (the replay case).
    */
  def streamAppend(changes: DataFrame, streamBatchId: Long,
      dir: String): Int = {
    val f = fs(dir)
    f.mkdirs(new HPath(dir, "delta"))
    val marker = s"_stream-$streamBatchId"
    val replayed = listDirs(s"$dir/delta", "batch=").exists(n =>
        f.exists(new HPath(s"$dir/delta/$n/$marker"))) ||
      f.exists(new HPath(s"$dir/delta/.stream-commits/$marker"))
    if (replayed) return -1
    val m = loadManifest(dir)
    val staging = f.makeQualified(new HPath(dir,
      s"delta/.staging-$streamBatchId"))
    changes.withColumn(Bucket, bucketOf(m.meta))
      .repartition(col(Bucket))
      .write.partitionBy(Bucket).mode("overwrite")
      .parquet(staging.toString)
    writeFile(f, new HPath(staging, marker), "")
    commitBatch(dir, staging, m)
  }

  /** `writeStream.foreachBatch(MergeOnRead.foreachBatchSink(dir))` —
    * [[streamAppend]] in the closure shape Structured Streaming
    * wants.
    */
  def foreachBatchSink(dir: String): (DataFrame, Long) => Unit =
    (df, id) => { streamAppend(df, id, dir); () }

  /** Before GC deletes a folded batch directory, copy any
    * `_stream-<id>` markers it carries into the
    * `delta/.stream-commits/` sidecar — a stream batch folded and
    * GC'd between its [[streamAppend]] commit and Spark's checkpoint
    * advance must STILL be recognized as committed by a replay.
    * Ordered before the delete, so a crash between the two leaves
    * both (harmless); never neither.
    */
  private def preserveStreamMarkers(dir: String, batch: Int): Unit = {
    val f = fs(dir)
    val bdir = new HPath(s"$dir/delta/batch=$batch")
    if (!f.exists(bdir)) return
    val markers = f.listStatus(bdir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("_stream-"))
      .map(_.getPath.getName)
    if (markers.nonEmpty) {
      val sidecar = new HPath(s"$dir/delta/.stream-commits")
      f.mkdirs(sidecar)
      markers.foreach(n => writeFile(f, new HPath(sidecar, n), ""))
    }
  }

  private def readData(spark: SparkSession, dir: String,
      paths: Seq[String], basePath: String): DataFrame =
    if (paths.isEmpty)
      spark.read.parquet(s"$dir/_schema")
    else
      spark.read.option("basePath", basePath).parquet(paths: _*)

  /** Current state: manifest-selected base buckets + pending deltas
    * through the LWW fold, ordered (batch, seq). `broadcastKeys`
    * (default) broadcasts the changed-key set into the base
    * anti-join — the merge-on-read contract is delta ≪ base, and a
    * broadcast key set means the base side never shuffles; pass
    * false when a compaction has been skipped long enough that the
    * pending key set outgrows the driver.
    */
  def read(spark: SparkSession, dir: String,
      broadcastKeys: Boolean = true): DataFrame = {
    val m = loadManifest(dir)
    val basePaths = m.buckets.toSeq.sorted.map { case (b, v) =>
      s"$dir/data/ver=$v/$Bucket=$b" }
    val base = readData(spark, dir, basePaths, s"$dir/data")
      .drop("ver").drop(Bucket)
    foldPending(spark, dir, m, base, broadcastKeys)
  }

  private def foldPending(spark: SparkSession, dir: String,
      m: Manifest, base: DataFrame,
      broadcastKeys: Boolean): DataFrame = {
    val pending = committedBatches(dir).filterNot(m.folded)
    if (pending.isEmpty) return base
    val deltas = spark.read.option("basePath", s"$dir/delta")
      .parquet(pending.map(b => s"$dir/delta/batch=$b"): _*)
      .drop(Bucket)
    Cdc.fold(base, deltas, m.meta.keyCols, m.meta.opCol,
      Seq(col("batch").desc, col(m.meta.seqCol).desc),
      Seq(m.meta.opCol, m.meta.seqCol, "batch"),
      broadcastKeys = broadcastKeys)
  }

  /** The table's [[ZoneMap]] lives beside the data (readers never
    * list `_`-prefixed dirs).
    */
  def zoneMapPath(dir: String): String = s"$dir/_zonemap"

  /** Build the base-file zone map (idempotent — reuses while the base
    * file set is unchanged). Call after [[create]] or a compaction;
    * pair with a `clusterBy` compaction so base files actually have
    * tight zones. Deltas are NOT zone-mapped: [[readWhere]] folds the
    * full pending window (≪ base by the merge-on-read contract) and
    * the next compaction absorbs it into profiled base files.
    */
  def buildZoneMap(spark: SparkSession, dir: String,
      numCols: Seq[String], strCols: Seq[String],
      bloomCols: Seq[String] = Nil): ZoneMap.Build =
    ZoneMap.buildIfAbsent(spark, s"$dir/data", numCols, strCols,
      zoneMapPath(dir), bloomCols)

  /** Re-sync the zone map after a compaction: the new `ver=` files
    * profile alone, replaced bucket files retract exactly.
    */
  def refreshZoneMap(spark: SparkSession, dir: String): ZoneMap.Build =
    ZoneMap.refresh(spark, zoneMapPath(dir))

  /** [[read]], but the BASE file list is pruned through the table's
    * zone map before the scan is planned: manifest-selected bucket
    * dirs are expanded to files and any file the zone map PROVABLY
    * rules out for `filters` is dropped. Safety holds in both
    * directions of staleness — the killed set is subtracted from the
    * MANIFEST's file list (a lagging zone map keeps extra files, an
    * unprofiled file is never dropped), and dropping a base row that
    * cannot match a null-rejecting predicate commutes with the LWW
    * fold (a delta's latest version wins with or without the base
    * row; a base row that only survives the fold fails the predicate
    * anyway). Callers re-apply `filters` above — pruning is never
    * trusted as exact. No zone map built ⇒ plain [[read]].
    */
  def readWhere(spark: SparkSession, dir: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      broadcastKeys: Boolean = true): DataFrame = {
    val m = loadManifest(dir)
    val zp = zoneMapPath(dir)
    if (IndexDirs.readManifest(zp).isEmpty)
      return read(spark, dir, broadcastKeys)
    // one recursive listing per data GENERATION (few), filtered to
    // the manifest-selected buckets — not one FS call per bucket
    val byVer = m.buckets.groupBy(_._2)
    val files = byVer.toSeq.sortBy(_._1).flatMap { case (v, bs) =>
      val keep = bs.keySet.map(b => s"$Bucket=$b")
      ZoneMap.listDataFiles(s"$dir/data/ver=$v")
        .filter(f => keep.exists(seg => f.key.contains(s"/$seg/")))
    }
    val killed = ZoneMap.profiledFiles(spark, zp).toSet --
      ZoneMap.prune(spark, zp, filters)._1
    // kill set is keyed by the scheme-free join key; the scan reads
    // the listing's qualified URIs (they differ on non-default FSes)
    val base = readData(spark, dir,
        files.filterNot(f => killed(f.key)).map(_.uri),
        s"$dir/data")
      .drop("ver").drop(Bucket)
    foldPending(spark, dir, m, base, broadcastKeys)
  }

  /** The batch window's CHANGE FEED: every change row of the
    * committed delta batches in `(afterBatch, untilBatch]`, with the
    * table's op/seq columns and the `batch` id — "what changed since
    * watermark B" priced at the window, never the table
    * ([[AggView.diff]]'s question at row grain). Reads ONLY the
    * window's batch directories (partition-pruned by construction:
    * the paths ARE the window).
    *
    * Retention contract (the Delta/Hudi CDC-read shape): a batch's
    * rows are servable while its directory exists; `compact(gc =
    * true)` deletes folded batch dirs, closing the feed's window
    * over them. A window that spans a GC'd batch REFUSES (names the
    * missing ids) instead of silently under-reporting — run
    * compaction with `gc = false` + retention-window [[vacuum]] when
    * consumers tail with lag.
    */
  def changes(spark: SparkSession, dir: String, afterBatch: Int = -1,
      untilBatch: Int = Int.MaxValue): DataFrame = {
    // list the batch dirs BEFORE reading the manifest: a batch a
    // concurrent compaction GC'd before our listing is then
    // guaranteed to appear in the (later-read) manifest's folded set
    // and trips the guard below — the reverse order would let a
    // fold+GC landing between the two reads slip past it silently.
    // (A GC between our listing and the scan fails the read loudly —
    // the vacuum-race contract every MoR table shares.)
    val bs = committedBatches(dir)
      .filter(b => b > afterBatch && b <= untilBatch)
    val m = loadManifest(dir)
    val gone = m.folded.filter(b => b > afterBatch && b <= untilBatch)
      .diff(bs.toSet)
    require(gone.isEmpty,
      s"change window ($afterBatch, $untilBatch] spans compaction-GC'd " +
        s"batch(es) ${gone.toSeq.sorted.mkString(",")} of $dir — their " +
        "rows are gone; keep the feed open with compact(gc = false) " +
        "and retention-window vacuum")
    if (bs.isEmpty)
      return spark.read.parquet(s"$dir/_schema")
        .withColumn(m.meta.opCol, lit(null).cast("string"))
        .withColumn(m.meta.seqCol, lit(null).cast("long"))
        .withColumn("batch", lit(null).cast("int"))
        .limit(0)
    spark.read.option("basePath", s"$dir/delta")
      .parquet(bs.map(b => s"$dir/delta/batch=$b"): _*)
      .drop(Bucket)
  }

  /** STREAMING tail of the change feed: a Structured Streaming
    * DataFrame over the table's delta log — each committed batch's
    * rows arrive exactly once (checkpointed), carrying op/seq and
    * the `batch` partition column. Spark-first by construction: a
    * committed batch IS an atomically-renamed directory of immutable
    * parquet files, which is precisely the contract
    * `FileStreamSource` tails exactly-once — so the stream source is
    * the stock parquet file stream over `delta/`, not a custom
    * connector. Hidden `.staging-*` dirs and `_`-prefixed markers
    * are invisible to it, so a torn append can never enter the
    * stream; the rename makes a batch's files appear all-or-nothing.
    *
    * Feed an artifact fleet: `changeStream(spark, dir).writeStream
    * .foreachBatch(AggView.cdcSink(path))` (or
    * [[IndexPipeline.sink]]) gives per-artifact exactly-once
    * convergence off one CDC table.
    *
    * Retention contract as for [[changes]]: `compact(gc = true)`
    * deletes folded batch dirs — batches GC'd before the tail reads
    * them are lost to it (stock file-source semantics: deleted
    * unseen files are skipped). Tail with `gc = false` + vacuum
    * retention when consumers lag. Schema: op/seq types are pinned
    * from a committed batch when one exists, else (string, long).
    */
  def changeStream(spark: SparkSession, dir: String): DataFrame = {
    val m = loadManifest(dir)
    fs(dir).mkdirs(new HPath(s"$dir/delta"))
    import org.apache.spark.sql.types.{IntegerType, LongType,
      StringType, StructField, StructType}
    val data = spark.read.parquet(s"$dir/_schema").schema
    val opSeq = committedBatches(dir).headOption match {
      case Some(b) =>
        val s = spark.read.parquet(s"$dir/delta/batch=$b").schema
        Seq(s(m.meta.opCol), s(m.meta.seqCol))
      case None => Seq(StructField(m.meta.opCol, StringType),
        StructField(m.meta.seqCol, LongType))
    }
    val full = StructType(data.fields.toSeq ++ opSeq ++ Seq(
      StructField("batch", IntegerType),
      StructField(Bucket, IntegerType)))
    spark.readStream.schema(full)
      .option("basePath", s"$dir/delta")
      // the feed's window is the retention contract, not file age
      .option("maxFileAge", "35000d")
      .parquet(s"$dir/delta")
      .drop(Bucket)
  }

  /** Folds pending deltas into the base, partition-by-partition:
    * reads ONLY the buckets named by a pending delta directory,
    * writes ONLY those buckets under `ver=<version+1>`, re-links
    * every other bucket manifest-side. Returns the number of
    * buckets rewritten.
    */
  /** `clusterBy` (opt-in, the lakehouse OPTIMIZE-with-clustering
    * shape): the rewritten buckets range-partition on
    * (bucket, clusterBy…) into `filesPerBucket` files per bucket,
    * so each file covers a tight range of the cluster columns — the
    * [[buildZoneMap]]/[[readWhere]] file pruning then skips most of
    * the base for a range predicate. Costs one extra range shuffle
    * of the TOUCHED buckets only; Nil (default) keeps the plain
    * one-file-per-bucket rewrite.
    */
  def compact(spark: SparkSession, dir: String,
      gc: Boolean = true, clusterBy: Seq[String] = Nil,
      filesPerBucket: Int = 4): Int =
    compactBatches(spark, dir,
      committedBatches(dir).filterNot(loadManifest(dir).folded), gc,
      clusterBy, filesPerBucket)

  /** Compaction over an explicit pending-batch snapshot — the
    * separation exists so MorSpec can interleave an append between
    * the snapshot and the fold and prove no batch is lost: a batch
    * committed AFTER the snapshot is neither read nor marked folded,
    * so the post-compaction [[read]] still serves it as a delta.
    */
  private[operators] def compactBatches(spark: SparkSession, dir: String,
      pending: Seq[Int], gc: Boolean = true,
      clusterBy: Seq[String] = Nil, filesPerBucket: Int = 4): Int = {
    val m = loadManifest(dir)
    if (pending.isEmpty) return 0
    val touched = pending.flatMap(bucketsIn(dir, _)).distinct.sorted
    // CLAIMED data generation ([[IndexDirs.claimBaseSuffix]]): two
    // racing compactions write disjoint `data/ver=` dirs — neither
    // can clobber parquet the other's manifest might commit
    val newVer = IndexDirs.claimBaseSuffix(dir, "data.ver",
      m.dataVer + 1)
    val basePaths = touched.flatMap(b =>
      m.buckets.get(b).map(v => s"$dir/data/ver=$v/$Bucket=$b"))
    val base = readData(spark, dir, basePaths, s"$dir/data")
      .drop("ver").drop(Bucket)
    val deltasB = spark.read.option("basePath", s"$dir/delta")
      .parquet(pending.map(b => s"$dir/delta/batch=$b"): _*)
    val deltas = deltasB.drop(Bucket)
    val merged = Cdc.fold(base, deltas, m.meta.keyCols, m.meta.opCol,
      Seq(col("batch").desc, col(m.meta.seqCol).desc),
      Seq(m.meta.opCol, m.meta.seqCol, "batch"))
    val bucketed = merged.withColumn(Bucket, bucketOf(m.meta))
    val laidOut =
      if (clusterBy.isEmpty) bucketed.repartition(col(Bucket))
      else bucketed.repartitionByRange(
        math.max(1, touched.size * filesPerBucket),
        (Bucket +: clusterBy).map(col): _*)
    // APPEND-ONLY VERIFICATION at the fold (tracking tables only —
    // untracked tables pay nothing): per touched bucket, the folded
    // row count must equal base rows + delta rows, or some row was
    // dropped (a delete, or an insert re-keying an existing row) and
    // the append-only proof is gone FOREVER (ao = false). Both count
    // passes are O(touched)/O(pending); the folded side's count(1)
    // scan reads no data columns. Stable facts about written files,
    // computed once outside the commit-retry loop. The delta-side
    // count reads only the already-committed batch files, so for
    // tracking tables it runs CONCURRENTLY with the fold write
    // itself; the folded-side count needs the written files
    // (guide §2.6).
    lazy val deltaCounts: Map[Int, Long] =
      deltasB.groupBy(col(Bucket)).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val writeFold = () => laidOut
      .write.partitionBy(Bucket).mode("overwrite")
      .parquet(s"$dir/data/ver=$newVer")
    if (m.ao.contains(true))
      Par.inParallel(Seq(writeFold, () => { deltaCounts; () }))
    else writeFold()
    // a touched bucket absent from the new ver went empty (all rows
    // deleted) — drop it from the mapping entirely
    val rewritten = writtenBuckets(dir, newVer).toSet
    lazy val foldedCounts: Map[Int, Long] =
      spark.read.option("basePath", s"$dir/data")
        .parquet(s"$dir/data/ver=$newVer")
        .groupBy(col(Bucket)).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (m.ao.contains(true)) { foldedCounts; () }
    // anchored commit with retry: appends never write the manifest,
    // so the only racers are other maintenance runs — a fold whose
    // snapshot another compaction already folded (or whose base
    // buckets it rewrote) is STALE and skips; deltas that landed
    // after our snapshot stay pending for the next read/compact
    val committed = IndexDirs.commitWithRetry(
      IndexDirs.readManifest(dir).map(parseManifest),
      writeManifest(dir, _: Manifest), dir) { have =>
      val stale = pending.exists(have.folded) ||
        touched.exists(b => have.buckets.get(b) != m.buckets.get(b))
      if (stale) None
      else {
        val (nao, nbrows) =
          if (!have.ao.contains(true)) (have.ao, have.brows)
          else {
            // brows must COVER every touched base bucket, or the
            // sum check has no anchor — incomplete reads as violated
            val complete = touched.forall(b =>
              have.brows.contains(b) || have.buckets.get(b).isEmpty)
            val ok = complete && touched.forall { b =>
              foldedCounts.getOrElse(b, 0L) ==
                have.brows.getOrElse(b, 0L) +
                  deltaCounts.getOrElse(b, 0L)
            }
            (Some(ok),
              (have.brows -- touched) ++
                foldedCounts.view.filterKeys(touched.contains).toMap)
          }
        Some(Manifest(newVer, have.meta,
          (have.buckets -- touched) ++ rewritten.map(_ -> newVer),
          have.folded ++ pending, mv = have.mv,
          ao = nao, brows = nbrows))
      }
    }
    if (committed.isEmpty) { // another maintenance run covered ours
      IndexDirs.rmTree(s"$dir/data/ver=$newVer")
      return 0
    }
    if (gc) {
      // post-swap GC: folded batches + replaced bucket dirs (stream
      // markers outlive their directory via the sidecar)
      pending.foreach { b =>
        preserveStreamMarkers(dir, b)
        IndexDirs.rmTree(s"$dir/delta/batch=$b")
      }
      touched.foreach(b => m.buckets.get(b).foreach(v =>
        IndexDirs.rmTree(s"$dir/data/ver=$v/$Bucket=$b")))
    }
    // a zone map left describing the PRE-compaction layout would
    // still be safe (killed files subtract from the manifest list)
    // but useless over the new files — re-sync it here, priced at
    // the compaction's own output (only the new ver's files profile;
    // replaced files retract from the metadata-scale table). A
    // pre-format-4 zone map can't refresh (no per-file ledger with
    // fingerprint partials) — SKIP it rather than fail a compaction
    // that already committed; it stays stale-but-safe until rebuilt
    if (ZoneMap.format(zoneMapPath(dir)).exists(_ >= 4))
      refreshZoneMap(spark, dir)
    touched.size
  }

  /** The table's VERIFIED append-only row count, from manifest state
    * alone: Some(total rows of the COMPACTED state) iff the table
    * tracks append-only-ness ([[create]]'s `trackAppendOnly`), no
    * fold has ever dropped a row (verified per compaction), and the
    * per-bucket counts cover every live bucket. None otherwise —
    * including tables that never tracked (the proof cannot be
    * reconstructed after the fact) and tables where any fold dropped
    * a row (the violation is permanent: monotone statistics over the
    * feed stopped describing the fold at that moment). NOTE: counts
    * the compacted state only — callers coordinating with a live
    * feed ([[graft.plans.ColStatsInjection]]) must additionally
    * require `state(dir).pending.isEmpty` (compaction IS the
    * verification point; pending batches are unverified by
    * construction).
    */
  def appendOnlyRows(dir: String): Option[Long] = {
    val m = loadManifest(dir)
    if (m.ao.contains(true) && m.buckets.keySet.forall(m.brows.contains))
      Some(m.buckets.keysIterator.map(m.brows).sum)
    else None
  }

  /** Retained manifest versions, oldest first — [[IndexDirs]]
    * versions now (one commit protocol across the persisted-state
    * layer); `create` commits version 1, each compaction the next.
    */
  def versions(dir: String): Seq[Long] =
    IndexDirs.listManifestVersions(dir)

  /** TIME TRAVEL: the table's state AS OF manifest `version` — a
    * compaction point (the last [[IndexDirs.ManifestRetain]] versions
    * are retained; the data a version references survives as long as
    * compaction runs with `gc = false` and [[vacuum]] keeps the
    * version). Serves the version's base buckets only: deltas pending
    * at that moment were by definition not yet part of any committed
    * version, exactly like an Iceberg/Delta snapshot read.
    * Metadata-only resolution — no diff replay, no fold; cost
    * identical to a current-state base read.
    */
  def readAt(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val m = IndexDirs.readManifestAt(dir, version).map(parseManifest)
      .getOrElse(throw new IllegalArgumentException(
        s"no manifest for version $version in $dir " +
          s"(have ${versions(dir).mkString(",")})"))
    val f = fs(dir)
    val basePaths = m.buckets.toSeq.sorted.map { case (b, v) =>
      val p = s"$dir/data/ver=$v/$Bucket=$b"
      require(f.exists(new HPath(p)),
        s"version $version's bucket $b (ver=$v) was vacuumed")
      p
    }
    readData(spark, dir, basePaths, s"$dir/data")
      .drop("ver").drop(Bucket)
  }

  /** Retention GC: keep the newest `keepVersions` manifests (always
    * including the current one) and delete everything only older
    * versions reference — replaced bucket directories, delta batches
    * folded before the oldest kept version, and the dropped
    * manifests themselves. `compact(gc = true)` (the default) is
    * equivalent to compacting then `vacuum(keepVersions = 1)`.
    * Returns the number of versions dropped.
    */
  def vacuum(dir: String, keepVersions: Int = 1): Int = {
    require(keepVersions >= 1, s"must keep >= 1 version: $keepVersions")
    val vs = versions(dir)
    val (drop, keep) = vs.splitAt(math.max(0, vs.length - keepVersions))
    if (drop.isEmpty) return 0
    val kept = keep.flatMap(v =>
      IndexDirs.readManifestAt(dir, v).map(parseManifest))
    // .toSeq first: mapping a Map would collapse entries whose
    // swapped pairs share a key (many buckets per version)
    val liveData = kept.flatMap(_.buckets.toSeq.map { case (b, v) =>
      (v, b) }).toSet
    // a delta batch is deletable once the CURRENT version has folded
    // it: read() only consumes batches the current manifest hasn't
    // folded, and readAt() never reads deltas at all
    val deletableBatches = kept.last.folded
    val f = fs(dir)
    for {
      vName <- listDirs(s"$dir/data", "ver=")
      ver = vName.stripPrefix("ver=").toInt
      bName <- listDirs(s"$dir/data/$vName", s"$Bucket=")
      if !liveData((ver, bName.stripPrefix(s"$Bucket=").toInt))
    } IndexDirs.rmTree(s"$dir/data/$vName/$bName")
    deletableBatches.foreach { b =>
      preserveStreamMarkers(dir, b)
      IndexDirs.rmTree(s"$dir/delta/batch=$b")
    }
    drop.foreach { v =>
      f.delete(if (v == 0L) IndexDirs.manifestPath(dir)
        else IndexDirs.versionedPath(dir, v), false)
    }
    drop.length
  }
}
