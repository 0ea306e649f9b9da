package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.{Rule => CatalystRule}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.operators.MergeOnRead
import graft.sources.MorRelation

/** The pin protocol of the artifact→optimizer bridges
  * ([[AggViewRewrite]], [[ColStatsInjection]], [[ZoneMapScan]]): a
  * registration PINS its base table (a parquet directory's file
  * listing, or a [[MergeOnRead]] table's observable state) beside the
  * artifact's manifest, every optimizer pass re-checks both pins, and
  * a refresh re-verifies base and artifact consistent before it
  * re-pins — so a registration made against one state of the table
  * silently stops applying the moment the table moves.
  */
private[graft] object RelationPins {

  /** The bare single-file-source relation under at most
    * subquery aliases — the only plan shape a registration accepts.
    */
  def bare(p: LogicalPlan): Option[(LogicalRelation, HadoopFsRelation)] =
    p match {
      case s: SubqueryAlias => bare(s.child)
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => Some((l, h))
        case _ => None
      }
      case _ => None
    }

  def rootPaths(h: HadoopFsRelation): Set[String] =
    h.location.rootPaths.map(_.toString).toSet

  /** The base-relation kinds a bridge can pin: a bare parquet
    * file-source scan, or a LIVE `mor`-source read (a version-pinned
    * time-travel read is a different table than the live one the
    * artifact tracks).
    */
  sealed trait BaseId
  final case class FsId(h: HadoopFsRelation) extends BaseId
  final case class MorId(m: MorRelation) extends BaseId

  def idOf(l: LogicalRelation): Option[BaseId] = l.relation match {
    case h: HadoopFsRelation => Some(FsId(h))
    case m: MorRelation if m.version.isEmpty => Some(MorId(m))
    case _ => None
  }

  /** [[idOf]] of the single relation under at most subquery aliases. */
  def baseOf(p: LogicalPlan): Option[(LogicalRelation, BaseId)] = p match {
    case s: SubqueryAlias => baseOf(s.child)
    case l: LogicalRelation => idOf(l).map(l -> _)
    case _ => None
  }

  /** What a registration pinned the BASE table at. Either pin moving
    * disables the bridge for that registration until a refresh
    * re-verifies and re-pins it, or the caller re-registers.
    */
  sealed trait BasePin
  /** A parquet directory: its root paths and file-listing signature.
    * `fileFps` is the refresh accelerator, not part of the pin's
    * identity: per-file content-fingerprint partials ([[FileFp]]),
    * seeded scan-free from a build-time ledger ([[seededFromOwn]]) and/or
    * accumulated by [[PinnedBridge.verifyDelta]]'s own scans, so each
    * refresh fingerprints only files it has no stored partial for.
    */
  final case class FsPin(roots: Set[String], listingSig: Long,
      fileFps: Map[String, FileFp] = Map.empty) extends BasePin
  /** A [[MergeOnRead]] table: its observable state (manifest version
    * + unfolded committed batch ids, [[MergeOnRead.state]]).
    */
  final case class MorPin(morPath: String, state: MergeOnRead.State)
      extends BasePin

  def fsPin(h: HadoopFsRelation,
      fileFps: Map[String, FileFp] = Map.empty): FsPin =
    FsPin(rootPaths(h), signature(h), fileFps)

  /** A hive-PARTITIONED base is supported under one root: refresh
    * delta scans read with option("basePath", root) so partition
    * columns resolve for the appended files (including appends into a
    * NEW partition directory). With several roots there is no one
    * basePath — refuse at registration rather than fail every later
    * refresh.
    */
  def requireOneRoot(h: HadoopFsRelation): Unit =
    if (h.partitionSchema.nonEmpty)
      require(rootPaths(h).size == 1,
        "a partitioned base registers under a SINGLE root path " +
          "(refresh scans resolve partition columns via basePath); " +
          "read the table through its one root directory")

  /** One base file's pinned verification partial: the (length,
    * mtime) immutability pin plus the file's content-fingerprint
    * partial (xor of row hashes, row count) under the consumer's
    * projection ([[graft.operators.IndexDirs.contentFingerprintByFile]]).
    */
  final case class FileFp(len: Long, mtime: Long, fp: Long, n: Long)

  /** One file of a relation's live listing, with the scheme-free
    * join key (what per-file fingerprints are keyed by) and the
    * qualified URI a delta scan reads.
    */
  final case class ListedFile(key: String, uri: String, len: Long,
      mtime: Long)

  def listedFiles(h: HadoopFsRelation): Seq[ListedFile] =
    h.location.listFiles(Nil, Nil).iterator.flatMap(_.files)
      .map(f => ListedFile(f.getPath.toUri.getPath,
        f.getPath.toString, f.getLen,
        f.fileStatus.getModificationTime))
      .toSeq

  /** An artifact's OWN build-time ledger entries (key → (length,
    * mtime, fp, n); the build's fingerprint pass already paid for
    * them) whose (length, mtime) still match `h`'s live listing, as
    * pin partials — a conservative filter: anything else is treated
    * as unprofiled and scanned at the next refresh. Best-effort: a
    * missing or unreadable ledger degrades to the empty seed (the
    * first refresh scans and seeds), never fails the registration.
    */
  def seededFromOwn(h: HadoopFsRelation,
      ledger: => Option[Map[String, (Long, Long, Long, Long)]])
      : Map[String, FileFp] =
    try ledger.map { stored =>
      val live = listedFiles(h).map(f => f.key -> f).toMap
      stored.collect {
        case (key, (len, mtime, cfp, cn))
            if live.get(key).exists(f => f.len == len && f.mtime == mtime) =>
          key -> FileFp(len, mtime, cfp, cn)
      }
    }.getOrElse(Map.empty)
    catch { case NonFatal(_) => Map.empty }

  /** O(delta) content-fingerprint composition — the pin-refresh
    * verification priced at the CHANGE, not the corpus. For each
    * live file: a stored partial whose (length, mtime) still match
    * is COMPOSED (xor/sum are abelian — the same algebra that makes
    * the artifacts incrementally maintainable makes their
    * verification incrementally recomputable); a file with no
    * stored partial is fingerprinted by `scan` (one pass over ONLY
    * those files); files that vanished simply drop out of the
    * composition (xor partials subtract exactly). A live file whose
    * stored (length, mtime) DIFFER was rewritten in place — the
    * stored partial no longer describes it, and trusting either
    * side would be a guess, so the whole composition REFUSES with
    * re-register guidance (the [[graft.operators.ZoneMap.refresh]]
    * contract: pinned files are immutable).
    *
    * Returns (composed fp, composed n, the updated partials map —
    * exactly the live files) or the refusal reason. `scan` receives
    * the new files' URIs and returns key → (fp, n); zero-row files
    * may be absent (they default to the (0, 0) identity).
    */
  def composeFingerprint(live: Seq[ListedFile],
      pinned: Map[String, FileFp],
      scan: Seq[String] => Map[String, (Long, Long)])
      : Either[String, (Long, Long, Map[String, FileFp])] = {
    val changed = live.filter(f => pinned.get(f.key).exists(p =>
      p.len != f.len || p.mtime != f.mtime))
    if (changed.nonEmpty)
      return Left("base files rewritten in place (" +
        changed.map(_.key).sorted.take(3).mkString(", ") +
        "…) — the pinned per-file fingerprints no longer describe " +
        "them; re-register")
    val newFiles = live.filterNot(f => pinned.contains(f.key))
    val scanned =
      if (newFiles.isEmpty) Map.empty[String, (Long, Long)]
      else scan(newFiles.map(_.uri))
    // defensive: a scanned key that is not a listed new file means
    // the key normalization drifted — composing would be silently
    // wrong, so refuse loudly
    val newKeys = newFiles.map(_.key).toSet
    val strays = scanned.keysIterator.filterNot(newKeys).toSeq
    if (strays.nonEmpty)
      return Left("scanned file keys do not match the listing (" +
        strays.sorted.take(3).mkString(", ") + "…) — key " +
        "normalization drift; re-register")
    val partials: Map[String, FileFp] = live.map { f =>
      f.key -> pinned.getOrElse(f.key, {
        val (fp, n) = scanned.getOrElse(f.key, (0L, 0L))
        FileFp(f.len, f.mtime, fp, n)
      })
    }.toMap
    val n = partials.valuesIterator.map(_.n).sum
    val fp =
      if (n == 0) 0L
      else partials.valuesIterator.foldLeft(0L)(_ ^ _.fp)
    Right((fp, n, partials))
  }

  /** Order-independent digest of (path, length, mtime) of every file
    * the relation's (already-materialized) file index lists — the
    * staleness pin. Uses the in-memory listing (no FS calls), and
    * combines per-file hashes COMMUTATIVELY (wrapping sum of
    * splitmix64-mixed entries) instead of sorting: the pin is
    * recomputed at every query planning, and a registered fact table
    * can list millions of files — O(n) with no allocation beats an
    * O(n log n) string sort in the planner's hot path.
    */
  def signature(h: HadoopFsRelation): Long =
    signatureOfIndex(h.location)

  def signatureOfIndex(
      location: org.apache.spark.sql.execution.datasources.FileIndex)
      : Long = {
    def mix(z0: Long): Long = { // splitmix64 finalizer
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    location.listFiles(Nil, Nil).iterator.flatMap(_.files)
      .foldLeft(17L) { (acc, f) =>
        // each component is mixed BEFORE combining: a linear
        // pre-combination (path·K + len·31 + mtime) would let an
        // in-place rewrite whose length and mtime deltas cancel
        // produce the same signature — and this pin is what keeps a
        // stale view from being served as query RESULTS
        acc + mix(mix(mix(f.getPath.toString.hashCode.toLong)
          ^ f.getLen) ^ f.getModificationTime)
      }
  }

  /** The listing signature of `roots` from a FRESH listing — what
    * pins a table that does not appear in the query plan at all (a
    * PARTIAL-star match's left-out neutral dims: the view absorbed
    * their joined values, so their freshness must be verified even
    * though the query never scans them). The same
    * `InMemoryFileIndex` machinery a read of the roots would use, so
    * the file set — and therefore the signature — agrees with the
    * relation-based pin taken at registration. None when the listing
    * fails (treated as NOT fresh by callers).
    */
  def signatureOfRoots(spark: SparkSession,
      roots: Set[String]): Option[Long] =
    try {
      val idx = new org.apache.spark.sql.execution.datasources
        .InMemoryFileIndex(spark,
          roots.toSeq.sorted.map(new org.apache.hadoop.fs.Path(_)),
          Map.empty, None)
      Some(signatureOfIndex(idx))
    } catch { case NonFatal(_) => None }

  /** A pin's `status` columns: the base it names and, for a MOR pin,
    * whether the table still sits at the pinned state. A listing
    * pin's freshness is per-query (it needs the query's own relation)
    * and reports null.
    */
  def describe(pin: BasePin): (String, Option[Boolean]) = pin match {
    case FsPin(roots, _, _) => (roots.toSeq.sorted.mkString(","), None)
    case MorPin(p, st) =>
      (p, Some(try MergeOnRead.state(p) == st
        catch { case NonFatal(_) => false }))
  }

  /** One registration's refresh outcome: `Right((re-pinned entry,
    * reason))` or `Left(reason)` when it is left as it is.
    */
  type Refresh[E] = Either[String, (E, String)]

  /** A parquet pin's base as a refresh re-read it. */
  final case class LiveFs(rel: LogicalRelation, h: HadoopFsRelation,
      sig: Long)

  /** The parquet side of a refresh: re-read the pinned roots and
    * answer "already fresh" while neither the listing nor the
    * artifact moved; otherwise `verify` the live base.
    */
  def refreshFs[E](spark: SparkSession, pin: FsPin,
      artifactMoved: => Boolean)(verify: LiveFs => Refresh[E]): Refresh[E] = {
    bare(GraftBridge.analyzedPlan(
        spark.read.parquet(pin.roots.toSeq.sorted: _*))) match {
      case None => Left("base no longer reads as a bare parquet scan")
      case Some((rel, h)) =>
        val sig = signature(h)
        if (sig == pin.listingSig && !artifactMoved) Left("already fresh")
        else verify(LiveFs(rel, h, sig))
    }
  }

  /** The MOR side of a refresh: read the table's state (`settle` may
    * move it first, e.g. by folding pending batches), answer "already
    * fresh" while neither it nor the artifact moved, then check the
    * feed-coordination watermark — every live committed batch carries
    * a stream marker and the table's max stream id equals the
    * artifact's own `lastBatch` ([[MergeOnRead.streamState]],
    * metadata-scale) — before `verify`ing the settled state. A
    * base-only `streamAppend` leaves the artifact's watermark behind,
    * so nothing re-pins until the artifact lands the same batch id.
    * `side` names the artifact in the watermark reason.
    */
  def refreshMor[E](pin: MorPin, artifactMoved: Boolean, lastBatch: Long,
      side: String,
      settle: MergeOnRead.State => MergeOnRead.State = identity)
      (verify: MergeOnRead.State => Refresh[E]): Refresh[E] = {
    val read = try MergeOnRead.state(pin.morPath)
      catch { case NonFatal(ex) => return Left(s"mor table unreadable: $ex") }
    val st = settle(read)
    if (st == pin.state && !artifactMoved) return Left("already fresh")
    val (maxId, allMarked) = MergeOnRead.streamState(pin.morPath)
    if (!allMarked)
      Left("mor table has committed batches without stream " +
        "markers (out-of-band appends) — re-register")
    else if (maxId != lastBatch)
      Left(s"watermarks diverge (mor stream id $maxId vs $side " +
        s"batch $lastBatch) — waiting for the other side")
    else verify(st)
  }

  /** Per-optimizer-pass memo of the freshness probes: the listing
    * fold keyed by FILE-INDEX IDENTITY (one relation instance = one
    * in-memory listing = one fold), fresh listings of tables absent
    * from the plan by root set, and the MOR state and the artifact
    * declaration (`readDecl`) by path — one FS touch each per pass
    * however often the query references them. Never kept across
    * passes: the pins guard result-exactness, so every plan's own
    * optimization re-checks them.
    */
  final class Memo[D](spark: SparkSession, readDecl: String => D) {
    private val sigs = new java.util.IdentityHashMap[AnyRef, java.lang.Long]
    def signatureOf(h: HadoopFsRelation): Long = {
      val got = sigs.get(h.location)
      if (got != null) got.longValue
      else {
        val s = signature(h)
        sigs.put(h.location, java.lang.Long.valueOf(s))
        s
      }
    }
    private val rootSigs = mutable.Map.empty[Set[String], Option[Long]]
    def signatureOfRoots(roots: Set[String]): Option[Long] =
      rootSigs.getOrElseUpdate(roots, RelationPins.signatureOfRoots(spark, roots))
    private val morStates = mutable.Map.empty[String, Option[MergeOnRead.State]]
    private def morStateOf(path: String): Option[MergeOnRead.State] =
      morStates.getOrElseUpdate(path,
        try Some(MergeOnRead.state(path)) catch { case NonFatal(_) => None })
    private val decls = mutable.Map.empty[String, Option[D]]
    def declOf(path: String): Option[D] =
      decls.getOrElseUpdate(path,
        try Some(readDecl(path)) catch { case NonFatal(_) => None })

    /** Does the query's base match `pin`, and is the pin still fresh? */
    def fresh(pin: BasePin, id: BaseId): Boolean = (pin, id) match {
      case (FsPin(roots, sig, _), FsId(h)) =>
        rootPaths(h) == roots && signatureOf(h) == sig
      case (MorPin(p, st), MorId(m)) =>
        m.path == p && morStateOf(p).contains(st)
      case _ => false
    }
  }
}

/** The registry side of the pin protocol, one per bridge object: the
  * process-local registrations keyed by artifact path, the optimizer
  * pass that leaves a plan untouched while the registry is empty,
  * the refresh loop, the O(delta) parquet verification and the
  * public operations every bridge offers.
  */
abstract class PinnedBridge(keyCol: String) {
  import RelationPins._

  /** One registration. */
  type Registered
  /** The artifact's manifest declaration, probed once per pass. */
  type Declared

  protected def keyOf(e: Registered): String
  protected def declared(path: String): Declared
  protected def ruleFor(spark: SparkSession): CatalystRule[LogicalPlan]

  protected val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Registered]()

  /** The registrations sorted by path: with several registered
    * artifacts for one table, the chosen one never depends on map
    * iteration order.
    */
  protected def entries: Seq[Registered] =
    registry.values.asScala.toSeq.sortBy(keyOf)

  protected def put(e: Registered): Registered = {
    registry.put(keyOf(e), e); e
  }

  def unregister(path: String): Unit = { registry.remove(path); () }

  def clear(): Unit = registry.clear()

  /** Add the rule to a live session (idempotent). Config-time
    * sessions get it from [[GraftExtensions]].
    */
  def install(spark: SparkSession): Unit =
    GraftBridge.addOptimization(spark, ruleFor(spark))

  /** Re-verify and re-pin every registration whose base or artifact
    * has moved. Returns one row per registration: (path, refreshed,
    * reason).
    */
  def refreshPins(spark: SparkSession): DataFrame

  /** Wrap a maintenance step (a CDC sink's batch, a table
    * compaction) so it is followed by [[refreshPins]].
    */
  def refreshingSink(spark: SparkSession): (DataFrame, Long) => Unit =
    (_, _) => { refreshPins(spark).collect(); () }

  /** The refresh loop: `one` per registration, in path order, each
    * ISOLATED — a FS hiccup or malformed artifact reports as that
    * row's reason instead of throwing out of the whole pass and, via
    * [[refreshingSink]], failing the streaming batch for every other
    * registration. A re-pinned entry replaces its registration.
    */
  protected def refreshEach(spark: SparkSession)(
      one: Registered => Refresh[Registered]): DataFrame = {
    val s = spark
    import s.implicits._
    entries.map { e =>
      (try one(e) catch {
        case NonFatal(ex) => Left(s"refresh failed: $ex")
      }) match {
        case Right((updated, how)) =>
          registry.put(keyOf(e), updated)
          (keyOf(e), true, how)
        case Left(reason) => (keyOf(e), false, reason)
      }
    }.toDF(keyCol, "refreshed", "reason")
  }

  /** One optimizer pass: `plan` itself while the registry is empty
    * (every session with [[GraftExtensions]] runs the rule on every
    * plan), else `rewrite` bottom-up with one fresh [[Memo]].
    */
  protected def optimize(spark: SparkSession, plan: LogicalPlan)(
      rewrite: Memo[Declared] => PartialFunction[LogicalPlan, LogicalPlan])
      : LogicalPlan =
    if (registry.isEmpty) plan
    else plan.transformUp(rewrite(new Memo(spark, declared)))

  /** One-shot SCOPED use: `register`, force `query` through the
    * optimizer (so whatever the registration licenses is baked into
    * the returned plan), then unregister `path`, leaving no
    * process-global state behind.
    */
  protected def scoped(spark: SparkSession, path: String)(register: => Any)
      (query: => DataFrame): DataFrame = {
    install(spark)
    register
    try GraftBridge.ofRows(spark, GraftBridge.optimizedPlan(query))
    finally unregister(path)
  }

  /** O(delta) verification of a parquet pin: the live base's content
    * fingerprint, composed from `pin`'s stored partials and
    * `fingerprintByFile` over only the files with none
    * ([[composeFingerprint]]), must equal the artifact's (`fp`, `n`).
    * A match returns the new pin, partials included. A mismatch keeps
    * the computed partials anyway — they are facts about the BASE's
    * files, so once the artifact converges the next refresh verifies
    * O(delta) — by compare-and-set (`keep` is `e` under the updated
    * pin): a concurrent manual register between the refresh's
    * snapshot and this write wins over the stale cache entry. A
    * partitioned base's delta scan reads with its one root as
    * basePath, so partition columns resolve.
    */
  protected def verifyDelta(spark: SparkSession, e: Registered, pin: FsPin,
      base: LiveFs, fp: Long, n: Long, side: String,
      keep: FsPin => Registered)(
      fingerprintByFile: DataFrame => Map[String, (Long, Long)])
      : Either[String, FsPin] = {
    val readDelta: Seq[String] => DataFrame =
      if (base.h.partitionSchema.isEmpty) uris => spark.read.parquet(uris: _*)
      else if (pin.roots.size == 1)
        uris => spark.read.option("basePath", pin.roots.head).parquet(uris: _*)
      else return Left("partitioned base has several root paths — " +
        "no unambiguous basePath for delta scans; re-register under " +
        "the table's one root directory")
    composeFingerprint(listedFiles(base.h), pin.fileFps,
        uris => fingerprintByFile(readDelta(uris))) match {
      case Left(reason) => Left(reason)
      case Right((cfp, cn, partials)) if cfp == fp && cn == n =>
        Right(FsPin(rootPaths(base.h), base.sig, partials))
      case Right((_, _, partials)) =>
        registry.replace(keyOf(e), e, keep(pin.copy(fileFps = partials)))
        Left(s"base content and $side diverge (fingerprint mismatch) " +
          "— waiting for the other side")
    }
  }
}
