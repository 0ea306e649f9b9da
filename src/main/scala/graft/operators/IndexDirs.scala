package graft.operators

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index state after a build/append/delete on a persisted artifact
  * ([[AnnIndex]], [[DedupIndex]], [[LmIndex]], [[Bm25Index]]):
  * `reused = true` means the manifest fingerprint matched and nothing
  * was rewritten.
  */
final case class IndexBuild(path: String, fingerprint: Long,
    count: Long, reused: Boolean)

/** Shared on-disk discipline for persisted index artifacts
  * ([[AnnIndex]], [[DedupIndex]], [[LmIndex]], [[Bm25Index]],
  * [[AggView]], [[VecStats]], [[BpeIndex]]): the "no manifest = no
  * index" crash rule, ATOMIC VERSIONED manifest commits with
  * optimistic concurrency, and the never-reused staged-delta naming —
  * all through the Hadoop [[FileSystem]] API, so the control plane
  * runs wherever the parquet data does (`file:` in tests,
  * `hdfs:`/compatible stores on a real cluster), not just on a local
  * mount.
  *
  * Every artifact follows the same contract:
  *  - the manifest is a sequence `manifest.m<N>.json`; readers trust
  *    the highest parsable N (falling back to a pre-versioning
  *    `manifest.json`, read as version 0). Each commit writes a
  *    uniquely-named temp file and renames it to `m<N+1>` WITHOUT
  *    overwrite — a crash mid-commit leaves the OLD manifest fully
  *    live, never a torn write;
  *  - a commit is anchored at the version its operation READ: if
  *    another writer committed in between, the no-overwrite rename
  *    fails and the operation throws
  *    [[java.util.ConcurrentModificationException]] instead of
  *    silently last-write-winning away the other writer's deltas —
  *    the same multi-writer lost-update guarantee [[MergeOnRead]]
  *    makes for its batch ids, made once here for every artifact;
  *  - appends stage into `deltas/<name>` directories CLAIMED by
  *    exclusive mkdir, so concurrent appenders stage disjointly and
  *    a crashed attempt leaves an orphan no live manifest references
  *    — garbage, never corruption;
  *  - superseded manifest versions are retained (last
  *    [[ManifestRetain]]) then GC'd, giving readers bounded time
  *    travel ([[readManifestAt]]) valid until a compaction/purge
  *    garbage-collects the delta directories an old version lists —
  *    the [[MergeOnRead]] time-travel/vacuum contract.
  *
  * The swap primitive is [[FileContext]]`.rename(NONE)` — atomic AND
  * exclusive at the namenode on HDFS-class stores (the primitive
  * Structured Streaming's checkpoint manager trusts), so concurrent
  * writers in separate processes resolve correctly there. The local
  * filesystem's rename/create-exclusive are check-then-act, so an
  * additional per-artifact intra-process monitor serializes the
  * swap within one JVM (Spark local mode, or N writer threads in
  * one driver); multi-writer across separate processes on a bare
  * local/NFS mount is outside the contract. On rename-as-copy
  * object stores (S3-class) the swap degrades to copy+delete;
  * there, front the index root with an HDFS-class or
  * consistent-rename filesystem, as for any rename-committed
  * layout.
  *
  * Reference grounding: the reference serves every request from an
  * immutable loaded dataset and swaps atomically on reload
  * (directory/directory.go:230-240); these helpers are that rule
  * applied to on-disk index state.
  */
private[operators] object IndexDirs {

  /** Superseded manifest versions kept on disk for time travel before
    * commit-time GC reclaims them.
    */
  val ManifestRetain = 8

  private val VersionedRe = """^manifest\.m(\d+)\.json$""".r

  /** Per-artifact intra-process monitors. HDFS-class stores make
    * `rename(NONE)` / `create(overwrite=false)` atomic-exclusive at
    * the namenode, so cross-PROCESS races resolve correctly there;
    * the local filesystem's implementations are check-then-act (and
    * local rename overwrites), so within one JVM — Spark local mode,
    * or many writer threads in one driver — this lock restores
    * exclusivity. Multi-writer across separate processes on a bare
    * local/NFS mount is outside the contract (as for any
    * rename-committed layout); use an HDFS-class store there.
    */
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockFor(path: String): Object = {
    val key = fs(path).makeQualified(new Path(path)).toString
    pathLocks.computeIfAbsent(key, _ => new Object)
  }

  /** Hadoop configuration of the active session (so `fs.*` settings
    * and filesystem implementations ride along); a bare default only
    * off-session.
    */
  def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def fs(path: String): FileSystem =
    new Path(path).getFileSystem(hadoopConf)

  /** The pre-versioning manifest file — still read (as version 0) so
    * artifacts written before the versioned scheme stay live; never
    * written anymore.
    */
  def manifestPath(path: String): Path = new Path(path, "manifest.json")

  def versionedPath(path: String, v: Long): Path =
    new Path(path, s"manifest.m$v.json")

  /** Committed manifest versions on disk, ascending (version 0 = the
    * legacy un-numbered file, when present).
    */
  def listManifestVersions(path: String): Seq[Long] = {
    val f = fs(path)
    val p = new Path(path)
    if (!f.exists(p)) Nil
    else {
      val named = f.listStatus(p).iterator.filter(_.isFile).flatMap { s =>
        s.getPath.getName match {
          case VersionedRe(n) => Some(n.toLong)
          case _ => None
        }
      }.toSeq
      val legacy = if (f.exists(manifestPath(path))) Seq(0L) else Nil
      (named ++ legacy).sorted
    }
  }

  private def readFileText(f: FileSystem, p: Path): Option[String] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }

  def readManifestTextAt(path: String, v: Long): Option[String] = {
    val f = fs(path)
    readFileText(f,
      if (v == 0L) manifestPath(path) else versionedPath(path, v))
  }

  /** Raw text of the HIGHEST committed manifest version. */
  def readManifestText(path: String): Option[String] =
    listManifestVersions(path).lastOption
      .flatMap(readManifestTextAt(path, _))

  /** ATOMIC VERSIONED manifest commit: the JSON is written to a
    * uniquely-named temp file in the index directory (a crash here
    * leaves the temp as garbage and the live manifest untouched),
    * then renamed to `manifest.m<expect+1>.json` WITHOUT overwrite in
    * one [[FileContext]] rename — readers see the old manifest or the
    * new one, never a prefix of either, and a concurrent commit of
    * the same successor version loses the rename and surfaces as
    * [[java.util.ConcurrentModificationException]] rather than a
    * silently-dropped update. `expect` is the version the writing
    * operation READ its state at.
    */
  def writeManifestText(path: String, json: String,
      expect: Long = -1L): Unit = {
    val f = fs(path)
    f.mkdirs(new Path(path))
    // best-effort GC of crashed commits' temp files. The cutoff is
    // deliberately generous (a day, not minutes): a live writer
    // stalled between create and rename — a long GC pause, a
    // suspended executor — must never have its temp swept from under
    // it, or its commit fails with FileNotFoundException instead of
    // the honest ConcurrentModificationException. A day-old temp is a
    // crashed commit, not a stalled one.
    val staleBefore = System.currentTimeMillis() - 24 * 60 * 60 * 1000L
    f.listStatus(new Path(path))
      .filter(s => s.isFile && s.getPath.getName.startsWith(".manifest-")
        && s.getPath.getName.endsWith(".tmp")
        && s.getModificationTime < staleBefore)
      .foreach(s => f.delete(s.getPath, false))
    val tmp = f.makeQualified(new Path(path,
      s".manifest-${java.util.UUID.randomUUID()}.tmp"))
    val out = f.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    var next = 0L
    def lost(cause: Throwable): Nothing = {
      f.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"manifest version $next at $path was committed by another " +
          "writer since this operation read the index state — " +
          "re-read and retry", cause)
    }
    // the swap itself is serialized per artifact within this process
    // (see pathLocks): local-FS rename is check-then-act AND
    // overwriting, so without the monitor two same-version racers
    // could BOTH "succeed" — a silent lost update. On HDFS-class
    // stores rename(NONE) is namenode-atomic and also covers racers
    // in other processes.
    lockFor(path).synchronized {
      val curMax = listManifestVersions(path).lastOption.getOrElse(0L)
      val base = if (expect >= 0L) expect else curMax
      next = base + 1L
      val dst = f.makeQualified(versionedPath(path, next))
      // stale-anchor guard: if the live version has advanced PAST
      // next, the slot m<next> may have been retention-GC'd — the
      // no-overwrite rename would then SUCCEED and land this write as
      // an ignored low version, a silent lost update instead of the
      // promised CME. `next <= curMax` also subsumes the plain
      // dst-exists case.
      if (next <= curMax) lost(null)
      try FileContext.getFileContext(dst.toUri, hadoopConf)
        .rename(tmp, dst, Options.Rename.NONE)
      catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          lost(e)
        case e: java.io.IOException
            if f.exists(dst) && f.exists(tmp) =>
          lost(e)
      }
    }
    // retention GC: superseded versions beyond the time-travel window
    listManifestVersions(path)
      .filter(v => v > 0L && v <= next - ManifestRetain)
      .foreach(v => f.delete(versionedPath(path, v), false))
  }

  /** Optimistic-concurrency COMMIT LOOP — multi-writer LIVENESS on
    * top of the versioned no-overwrite safety: the expensive work
    * (staging a delta directory, fingerprinting) happens once before
    * the loop; only the cheap read-manifest → compose → commit tail
    * retries when another writer wins the race. `compose` receives
    * the freshest manifest and returns the successor to commit, or
    * None to stop because the fresh state shows the work is already
    * applied (e.g. a replayed batch id another writer landed) — the
    * caller then GC's its orphaned staging. Families whose delta
    * algebra commutes (sums, xor fingerprints, set-disjoint appends)
    * can therefore run N uncoordinated writers against one artifact;
    * compose MUST re-derive everything it takes from the manifest
    * and re-run any state-dependent guard each attempt.
    *
    * Gives up after `maxAttempts` lost races (pathological
    * contention should surface, not spin).
    */
  def commitWithRetry[M](read: => Option[M], write: M => Unit,
      path: String, maxAttempts: Int = 20)(
      compose: M => Option[M]): Option[M] = {
    var attempts = 0
    while (attempts < maxAttempts) {
      val have = read.getOrElse(throw new IllegalStateException(
        s"no index at $path"))
      compose(have) match {
        case None => return None
        case Some(next) =>
          try { write(next); return Some(next) }
          catch {
            case _: java.util.ConcurrentModificationException =>
              attempts += 1
          }
      }
    }
    throw new IllegalStateException(
      s"$maxAttempts consecutive lost manifest races at $path — " +
        "writer contention is pathological; back off and retry")
  }

  def rmTree(path: String): Unit = {
    val f = fs(path)
    val p = new Path(path)
    if (f.exists(p)) f.delete(p, true)
    ()
  }

  /** Uncommit + clear: delete the manifests FIRST, newest version
    * down (readers fall back at most briefly, then see "no index"),
    * then best-effort remove stale delta directories, so the
    * following overwrite writes can never be observed half-done.
    */
  def uncommit(path: String): Unit = {
    val f = fs(path)
    listManifestVersions(path).reverse.foreach { v =>
      f.delete(
        if (v == 0L) manifestPath(path) else versionedPath(path, v),
        false)
    }
    f.delete(new Path(path, "deltas"), true)
    ()
  }

  /** CLAIM the next free delta directory name: `<prefix><k>` where k
    * exceeds the numeric suffix of EVERY directory on disk under
    * `deltas/` (manifest-listed or orphaned), reserved by an
    * EXCLUSIVE create so two concurrent appenders can never stage
    * into the same directory — a name is never reused, so a staged
    * write can never land inside a directory a live manifest still
    * references, and a crashed claim leaves an empty orphan no
    * manifest lists (garbage, never corruption).
    */
  def nextDeltaName(path: String, prefix: String): String =
    lockFor(path).synchronized { // see pathLocks: local create(false)
      val f = fs(path)           // is check-then-act cross-thread
      val d = new Path(path, "deltas")
      f.mkdirs(d)
      // suffix scan counts directories AND retained claim markers —
      // markers outlive a GC'd delta dir, so a suffix a time-travel
      // manifest version may still list is never handed out again
      val names = f.listStatus(d).map(_.getPath.getName)
        .map(n => n.stripPrefix(".claim-"))
      var k = names.flatMap(n => "\\d+$".r.findFirstIn(n))
        .map(_.toInt).foldLeft(-1)(math.max) + 1
      while (true) {
        val name = s"$prefix$k"
        // exclusive claim marker: FileSystem.create(overwrite=false)
        // throws if another claimant won the suffix — bump and retry
        try {
          f.create(new Path(d, s".claim-$name"), false).close()
          f.mkdirs(new Path(d, name))
          return name
        } catch {
          case _: java.io.IOException
              if f.exists(new Path(d, s".claim-$name")) => k += 1
        }
      }
      throw new IllegalStateException("unreachable")
    }

  /** Post-commit GC of folded delta directories (best-effort: they
    * are unreferenced once the compaction manifest is live).
    */
  def gcDeltas(path: String, names: Seq[String]): Unit =
    names.foreach(d => rmTree(s"$path/deltas/$d"))

  /** Claim a never-reused numeric suffix ≥ `from` for `prefix`
    * directly in the artifact root — the [[nextDeltaName]] recipe for
    * versioned BASE directories (`agg.v<k>` etc.), so two racing
    * purges write DISJOINT targets instead of silently overwriting
    * each other's parquet before the manifest race even resolves.
    */
  def claimBaseSuffix(path: String, prefix: String, from: Int): Int =
    lockFor(path).synchronized { // see pathLocks
      val f = fs(path)
      f.mkdirs(new Path(path))
      var k = from
      while (true) {
        try {
          f.create(new Path(path, s".claim-$prefix$k"), false).close()
          return k
        } catch {
          case _: java.io.IOException
              if f.exists(new Path(path, s".claim-$prefix$k")) => k += 1
        }
      }
      throw new IllegalStateException("unreachable")
    }

  /** Order-independent content fingerprint of the raw rows: xor-fold
    * of the per-row xxhash64 over `cols` plus the row count (xor
    * alone is blind to even-multiplicity duplicates). One
    * column-pruned scan — the reuse check stays cheap even when the
    * build would not be. Xor is self-inverse, so appends compose
    * (`fp' = fp ⊕ fold(delta)`) and deletes fold rows back out.
    */
  def contentFingerprint(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(
      bit_xor(xxhash64(cols.map(col): _*)).as("fp"),
      count(lit(1)).as("n")).collect()(0)
    val n = r.getLong(1)
    (if (n == 0) 0L else r.getLong(0), n)
  }

  /** Per-FILE partials of [[contentFingerprint]]: the same xor/count
    * algebra grouped by the scheme-free source file key. Because xor
    * and count are abelian, the partials of any file subset compose
    * to that subset's exact fingerprint — what lets a pin refresh
    * ([[graft.plans.RelationPins.composeFingerprint]]) fingerprint
    * only files it has no stored partial for and COMPOSE the rest,
    * O(delta) instead of one projected corpus scan per refresh. Same
    * scan cost as the ungrouped form (one map-side-combined
    * aggregate; ≤ |files| rows out — the altitude any scan's file
    * index already materializes). Zero-row files produce no group —
    * callers default them to the (0, 0) identity. Only meaningful
    * when `df` is evaluated in the same stage as a file-source scan
    * (a bare scan under narrow projections), where
    * `input_file_name()` names the scanned file.
    */
  def contentFingerprintByFile(df: DataFrame, cols: Seq[String],
      fileCol: Column = null): Map[String, (Long, Long)] = {
    // fileCol override: a caller whose rows are NOT in the same
    // stage as their source scan (a star's joined delta) passes the
    // pre-tagged file-key column instead — input_file_name() is
    // single-source-only
    val fc = Option(fileCol)
      .getOrElse(ZoneMap.fileKey(input_file_name()))
    // deliberately NOT Par.widen'd: this pass is one xxhash64 per row
    // (scan-bound, not CPU-bound like the exploding profile passes),
    // and it runs on every build/refresh — the extra exchange plus
    // per-call planning cost more than the parallelism buys
    df.select(fc.as("__file"),
        xxhash64(cols.map(col): _*).as("__h"))
      .groupBy("__file")
      .agg(bit_xor(col("__h")).as("fp"), count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
  }

  /** Typed accessors over a parsed manifest — the `...Or` variants
    * carry each field's compat default exactly once (a manifest
    * written before a field existed reads as the value that forces
    * one safe rebuild or a no-op, per field).
    */
  final class ManifestReader(node: JsonNode, val version: Long = 0L) {
    def long(name: String): Long = node.get(name).asLong()
    def longOr(name: String, default: Long): Long =
      Option(node.get(name)).map(_.asLong()).getOrElse(default)
    def int(name: String): Int = node.get(name).asInt()
    def intOr(name: String, default: Int): Int =
      Option(node.get(name)).map(_.asInt()).getOrElse(default)
    def str(name: String): String = node.get(name).asText()
    def strOr(name: String, default: String): String =
      Option(node.get(name)).map(_.asText()).getOrElse(default)
    def seq(name: String): Seq[String] =
      Option(node.get(name)).toSeq.flatMap { a =>
        (0 until a.size()).map(a.get(_).asText())
      }
  }

  /** The live manifest: the highest committed version that PARSES.
    * The commit protocol can never leave a torn versioned file, but a
    * reader is still self-healing against out-of-protocol damage —
    * an unparsable high version falls back to the next lower one, so
    * the index recovers instead of bricking.
    */
  def readManifest(path: String): Option[ManifestReader] = {
    val versions = listManifestVersions(path).reverse
    versions.iterator.flatMap { v =>
      try readManifestAt(path, v)
      catch { case _: com.fasterxml.jackson.core.JacksonException => None }
    }.nextOption()
  }

  /** Time-travel read of one committed version — valid while the
    * version is retained AND no compaction/purge has GC'd the delta
    * directories it lists.
    */
  def readManifestAt(path: String, v: Long): Option[ManifestReader] =
    readManifestTextAt(path, v).map(t =>
      new ManifestReader(new ObjectMapper().readTree(t), v))

  /** Builder for the manifest JSON; [[ManifestWriter.commit]] is the
    * atomic swap.
    */
  final class ManifestWriter {
    private val mapper = new ObjectMapper()
    private val node = mapper.createObjectNode()
    def put(name: String, v: Long): ManifestWriter = {
      node.put(name, v); this
    }
    def put(name: String, v: Int): ManifestWriter = {
      node.put(name, v); this
    }
    def put(name: String, v: String): ManifestWriter = {
      node.put(name, v); this
    }
    def put(name: String, vs: Seq[String]): ManifestWriter = {
      val arr = node.putArray(name); vs.foreach(arr.add); this
    }
    /** Atomic commit of version `expect + 1`, where `expect` is the
      * manifest version the writing operation read its state at
      * (0 for a fresh build) — throws
      * [[java.util.ConcurrentModificationException]] if another
      * writer got there first.
      */
    def commit(path: String, expect: Long): Unit =
      writeManifestText(path, mapper.writeValueAsString(node), expect)
  }

  def manifest(): ManifestWriter = new ManifestWriter
}

/** PUBLIC observability facade over the (package-private) control
  * plane: the retained manifest versions of any
  * [[IndexDirs]]-managed artifact, with the fields every family
  * shares surfaced typed and the manifest JSON verbatim for
  * family-specific ones. Read-only — the commit protocol stays
  * sealed inside the operators package. Backs the `indexmeta` SQL
  * source ([[graft.sources.IndexMetaSource]]).
  */
object ArtifactMeta {
  /** One retained manifest version. `baseVer`/`lastBatch` are -1
    * where a family doesn't carry the field (e.g. AnnIndex tracks
    * per-sub base names, not one `bv`).
    */
  final case class VersionMeta(version: Long, live: Boolean,
      baseVer: Long, lastBatch: Long, nDeltas: Long,
      manifestJson: String)

  /** Metadata rows, oldest version first — ≤ ManifestRetain rows by
    * construction; resolved fresh per call.
    */
  def versions(path: String): Seq[VersionMeta] = {
    val vs = IndexDirs.listManifestVersions(path)
    val live = vs.lastOption.getOrElse(0L)
    // MergeOnRead tracks pending work as rename-committed
    // `delta/batch=<n>` DIRS (outside the manifest) minus the
    // manifest's folded set — list them once per call (through MOR's
    // own commit-marker-aware listing, so the debt count can never
    // drift from what MOR itself considers committed) so MOR tables
    // report compaction debt like every other family reports deltas
    lazy val morBatches: Seq[Int] = MergeOnRead.committedBatches(path)
    vs.flatMap { v =>
      // single read per version: retention GC racing this listing
      // just drops the row, never throws
      IndexDirs.readManifestTextAt(path, v).map { txt =>
        val node = new ObjectMapper().readTree(txt)
        val r = new IndexDirs.ManifestReader(node, v)
        val nDeltas =
          if (node.has("folded")) {
            val folded = r.seq("folded").map(_.toInt).toSet
            morBatches.count(b => !folded(b)).toLong
          } else r.seq("deltas").length.toLong
        VersionMeta(v, v == live, r.longOr("bv", -1L),
          r.longOr("lb", -1L), nDeltas, txt)
      }
    }
  }
}
