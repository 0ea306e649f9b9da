package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The signed-delta ARTIFACT KERNEL: the one lifecycle every
  * persisted artifact ([[Bm25Index]], [[LmIndex]], [[DedupIndex]],
  * [[AnnIndex]], [[VecStats]], [[AggView]], [[ColStats]]) shares —
  * manifest I/O over the [[IndexDirs]] commit discipline, staged
  * commits, CDC apply, compaction and purge, written once. An
  * artifact supplies only what is its own ([[Store]],
  * [[SignedArtifact]]): its declaration's manifest fields, its table
  * writers (with a sign for inserts and deletes), its per-table folds,
  * its guards, and its serve readers.
  *
  * PROTOCOL INVARIANTS the code relies on but cannot show:
  *
  *  - STAGED DIRS STAY INVISIBLE UNTIL THE MANIFEST SWAP. Every write
  *    lands in a freshly CLAIMED, never-reused directory
  *    (`deltas/d<N>` data, `deltas/t<N>` tombstones, `deltas/c<N>`
  *    folds, `<table>.v<N>` purge bases); readers only ever read what
  *    the live manifest lists. A crash at any step before the swap
  *    leaves an orphan — garbage, never corruption — and a refusal or
  *    a skip GCs the caller's own staging.
  *  - REPLAYS SKIP WHOLE BATCHES. A CDC batch's inserts, deletes,
  *    composed fingerprint and batch id commit in ONE manifest write;
  *    a batch whose id is at or below the committed watermark (`lb`)
  *    is skipped entire, before staging and again inside the commit
  *    loop (a racing replay may land it first). At-least-once feeds
  *    therefore apply exactly once.
  *  - STALE FOLDS ARE DROPPED. A compaction commits only if every
  *    delta it folded is still listed; a racing purge or compaction
  *    that already absorbed any of them wins, and this fold is GC'd.
  *    Deltas that landed after the fold survive beside it.
  *  - PURGE REFUSES ON A CONCURRENT PURGE OR COMPACTION. A purge's
  *    survivors rewrite absorbed exactly the deltas its snapshot
  *    listed; if another purge moved the base, or a compaction folded
  *    any snapshot delta away, committing would lose or double-count
  *    rows — it throws [[IllegalArgumentException]] and GCs its
  *    rewrite instead. Appends that landed after the snapshot survive
  *    as deltas.
  *  - A GUARD holds against the manifest the commit lands on: it runs
  *    once against the anchor, in parallel with staging ([[Par]]),
  *    and again inside the commit loop only when the manifest version
  *    moved.
  *
  * WHO DOES NOT JOIN, and why. [[ZoneMap]]'s refresh deltas and
  * compaction ride [[Store]]; its RETRACTION path (files vanished)
  * rewrites the whole profile with a wholesale new fingerprint and
  * SKIPS (not refuses) on any intervening commit — a replacement, not
  * a signed fold — so it calls [[IndexDirs.commitWithRetry]] itself.
  * [[MergeOnRead]] keeps its own commits: its deltas are
  * rename-committed `delta/batch=<n>` directories OUTSIDE the
  * manifest (the manifest lists the folded batch set instead of the
  * pending deltas), and its compaction rewrites per-bucket data
  * generations — neither the kernel's delta list nor its purge
  * skeleton describes that layout.
  */
private[operators] object Artifact {

  /** A live manifest: the artifact's own declaration `decl` (its
    * layout and identity) plus the fields every artifact shares.
    * `acc` is the one artifact-named signed counter that advances with
    * each staged delta (BM25's `sdl`, the LM's `st`).
    */
  final case class Manifest[D](decl: D, fp: Long, n: Long,
      deltas: Seq[String] = Nil, lastBatch: Long = -1L,
      baseVer: Int = 0, tombs: Seq[String] = Nil, tombCount: Long = 0L,
      acc: Long = 0L, mv: Long = 0L) {
    /** Live base dir of a table: versioned after a purge. */
    def baseOf(sub: String): String =
      if (baseVer == 0) sub else s"$sub.v$baseVer"
    /** Table `sub`'s live roots: the base plus every committed delta. */
    def roots(path: String, sub: String): Seq[String] =
      s"$path/${baseOf(sub)}" +: deltas.map(d => s"$path/deltas/$d/$sub")
  }

  /** The protocol steps a test seam can interrupt. */
  sealed trait Step
  /** Inside the staging task, before any table is written. */
  case object Staging extends Step
  /** After staging (and the anchor guard), before the commit loop. */
  case object Staged extends Step
  /** Inside the commit loop, the successor composed, before the swap. */
  case object BeforeCommit extends Step
  /** After the manifest swap, before the post-commit GC. */
  case object Committed extends Step

  private val armed = new ConcurrentHashMap[String, (Step, () => Unit)]()

  /** Run `body` with a ONE-SHOT seam armed on `path`: the first
    * operation on `path` that reaches `step` runs `f` there (a nested
    * operation `f` starts does not re-trigger it). Deterministic
    * interleaving and crash-injection specs only.
    */
  def withSeam[T](path: String, step: Step)(f: => Unit)(body: => T): T = {
    armed.put(path, (step, () => f))
    try body finally armed.remove(path)
  }

  def at(path: String, step: Step): Unit =
    Option(armed.get(path)).filter(_._1 == step)
      .filter(armed.remove(path, _)).foreach(_._2())

  /** Distinct tombstoned ids listed in `tombs`. */
  def tombIds(spark: SparkSession, path: String,
      tombs: Seq[String]): DataFrame =
    tombs.map(t => spark.read.parquet(s"$path/deltas/$t"))
      .reduce(_.unionByName(_)).distinct()
}

/** Manifest I/O and the two commit skeletons every artifact shares —
  * the staged commit of new deltas and the delta compaction (see
  * [[Artifact]] for the invariants). `D` is the artifact's
  * declaration: whatever it writes besides the shared fields.
  */
private[operators] abstract class Store[D] {
  import Artifact._

  type Mf = Artifact.Manifest[D]
  type Guard = Mf => Unit
  type Build = IndexBuild
  val Build: IndexBuild.type = IndexBuild

  /** What "no ... at <path>" errors call the artifact. */
  protected def noun: String = "index"
  protected def readDecl(r: IndexDirs.ManifestReader): D
  protected def writeDecl(w: IndexDirs.ManifestWriter,
      d: D): IndexDirs.ManifestWriter
  /** Reuse identity: equal declarations + fingerprint + count. */
  protected def sameDecl(a: D, b: D): Boolean = a == b
  /** The manifest key of [[Artifact.Manifest.acc]], when carried. */
  protected def accKey: Option[String] = None
  /** Deletes stage tombstone id lists instead of negated rows. */
  protected def tombstoned: Boolean = false
  /** The batch watermark (`lb`) is written. */
  protected def batched: Boolean = true
  protected def readBase(r: IndexDirs.ManifestReader): Int =
    r.intOr("bv", 0)
  protected def writeBase(w: IndexDirs.ManifestWriter,
      mf: Mf): IndexDirs.ManifestWriter = w.put("bv", mf.baseVer)

  protected def toManifest(r: IndexDirs.ManifestReader): Mf =
    Manifest(readDecl(r), r.long("fp"), r.long("n"), r.seq("deltas"),
      r.longOr("lb", -1L), readBase(r), r.seq("tombs"),
      r.longOr("tn", 0L), accKey.fold(0L)(r.longOr(_, 0L)), r.version)

  protected def readManifest(path: String): Option[Mf] =
    IndexDirs.readManifest(path).map(toManifest)

  protected def writeManifest(path: String, mf: Mf): Unit = {
    val w = writeDecl(IndexDirs.manifest().put("fp", mf.fp)
      .put("n", mf.n), mf.decl)
    accKey.foreach(w.put(_, mf.acc))
    if (batched) w.put("lb", mf.lastBatch)
    writeBase(w, mf)
    if (tombstoned) w.put("tn", mf.tombCount).put("tombs", mf.tombs)
    w.put("deltas", mf.deltas).commit(path, mf.mv)
  }

  /** The live manifest, or the "no artifact" error. */
  protected def live(path: String): Mf = readManifest(path).getOrElse(
    throw new IllegalStateException(s"no $noun at $path"))

  protected def sameIndexAs(a: Mf, b: Mf): Boolean =
    sameDecl(a.decl, b.decl) && a.fp == b.fp && a.n == b.n

  /** The build tail: reuse when the live manifest declares the same
    * artifact, else uncommit, `write` the tables (returning `acc`),
    * and commit version 1 of the fresh manifest.
    */
  protected def buildOr(path: String, want: Mf)(write: => Long): Build =
    readManifest(path) match {
      case Some(have) if sameIndexAs(have, want) =>
        Build(path, want.fp, want.n, reused = true)
      case _ =>
        IndexDirs.uncommit(path)
        val acc = write
        writeManifest(path, want.copy(acc = acc))
        Build(path, want.fp, want.n, reused = false)
    }

  /** The retained manifest `version` (a TIME-TRAVEL read), refused
    * with the files named once a later compaction/purge GC'd the
    * base or any delta it lists — the window has closed, and serving
    * it would be silently wrong.
    */
  protected def retained(path: String, version: Long, base: String): Mf = {
    val mf = IndexDirs.readManifestAt(path, version).map(toManifest)
      .getOrElse(throw new IllegalStateException(
        s"no manifest version $version at $path — retained: " +
          IndexDirs.listManifestVersions(path).mkString("[", ", ", "]")))
    val f = IndexDirs.fs(path)
    val gone = (mf.baseOf(base) +: mf.deltas.map(d => s"deltas/$d"))
      .filterNot(sub => f.exists(new org.apache.hadoop.fs.Path(path, sub)))
    require(gone.isEmpty,
      s"manifest version $version of $path lists " +
        gone.mkString("[", ", ", "]") + ", garbage-collected by a " +
        "later compaction/purge — this version's time-travel window " +
        "has closed")
    mf
  }

  protected def unchanged(path: String, mf: Mf): Build =
    Build(path, mf.fp, mf.n, reused = true)

  /** The staged commit: run the `staging` writes (each into its
    * claimed `deltas/<name>`, returning an `acc` contribution) in
    * parallel with `guard` against the anchor `decl`, then commit
    * `next(have, acc)` — re-running `guard` when the manifest moved,
    * skipping (and GC'ing) when `batch` is already at or below the
    * watermark or `next` finds the change already applied. A failed
    * guard or staging write GCs the staging.
    */
  protected def commitStaged(path: String, decl: Mf, batch: Option[Long],
      staging: Seq[(String, String => Long)], guard: Guard)(
      next: (Mf, Long) => Option[Mf]): Build = {
    val names = staging.map(_._1)
    val acc = new AtomicLong
    try Par.inParallel((() => guard(decl)) +: staging.map {
      case (name, write) => () =>
        at(path, Staging)
        acc.addAndGet(write(s"$path/deltas/$name")); ()
    })
    catch { case e: Throwable => IndexDirs.gcDeltas(path, names); throw e }
    at(path, Staged)
    stagedCommit(path, names) { have =>
      if (batch.exists(_ <= have.lastBatch)) None
      else {
        if (have.mv != decl.mv) guard(have)
        next(have, acc.get).map { succ =>
          at(path, BeforeCommit)
          succ.copy(lastBatch = batch.getOrElse(have.lastBatch))
        }
      }
    } match {
      case Some(mf) =>
        at(path, Committed)
        Build(path, mf.fp, mf.n, reused = false)
      case None => // a racing replay landed this batch id first
        unchanged(path, readManifest(path).getOrElse(decl))
    }
  }

  /** The commit loop ([[IndexDirs.commitWithRetry]]) over `staged`
    * dirs: if compose SKIPS (None — e.g. a racing replay already
    * landed the batch) or REFUSES (an [[IllegalArgumentException]]
    * guard), the staging is GC'd, so neither outcome leaves orphans.
    */
  private def stagedCommit(path: String, staged: Seq[String])(
      compose: Mf => Option[Mf]): Option[Mf] =
    try {
      val r = IndexDirs.commitWithRetry(readManifest(path),
        writeManifest(path, _: Mf), path)(compose)
      if (r.isEmpty) IndexDirs.gcDeltas(path, staged)
      r
    } catch {
      case e: IllegalArgumentException =>
        IndexDirs.gcDeltas(path, staged)
        throw e
    }

  /** Whether the artifact's format supports compaction. */
  protected def compactible(mf: Mf): Boolean = true

  /** Fold every committed delta (and every tombstone list) into ONE
    * staged directory each; `fold(decl, folded, root)` writes the
    * folded tables under `root`. Returns the number of directories
    * folded — 0 when there was nothing to fold or the fold went stale.
    */
  protected def compact(spark: SparkSession, path: String)(
      fold: (Mf, Seq[String], String) => Unit): Int = {
    val decl = live(path)
    val data =
      if (decl.deltas.length >= 2 && compactible(decl)) decl.deltas else Nil
    val tombs = if (decl.tombs.length >= 2) decl.tombs else Nil
    if (data.isEmpty && tombs.isEmpty) return 0
    val c = data.headOption.map(_ => IndexDirs.nextDeltaName(path, "c"))
    val t = tombs.headOption.map(_ => IndexDirs.nextDeltaName(path, "t"))
    val staged = c.toSeq ++ t
    try Par.inParallel(
      c.map(s => () => fold(decl, data, s"$path/deltas/$s")).toSeq ++
        t.map(s => () => tombIds(spark, path, tombs).coalesce(1)
          .write.mode("overwrite").parquet(s"$path/deltas/$s")))
    catch { case e: Throwable => IndexDirs.gcDeltas(path, staged); throw e }
    at(path, Staged)
    stagedCommit(path, staged) { have =>
      if (!data.forall(have.deltas.contains) ||
          !tombs.forall(have.tombs.contains)) None
      else {
        at(path, BeforeCommit)
        Some(have.copy(
          deltas = c.toSeq ++ have.deltas.filterNot(data.toSet),
          tombs = t.toSeq ++ have.tombs.filterNot(tombs.toSet)))
      }
    } match {
      case Some(_) =>
        at(path, Committed)
        IndexDirs.gcDeltas(path, data ++ tombs)
        (data ++ tombs).length
      case None => 0
    }
  }
}

/** The full signed-delta lifecycle over [[Store]]: append, delete and
  * CDC batches stage signed deltas (or tombstone lists) and commit
  * them in one manifest swap; compaction folds them; purge rewrites
  * the survivors into a fresh versioned base. The public entry points
  * below are the ones every artifact shares; an artifact adds its own
  * build, guarded `append`/`delete` overloads and serve readers.
  */
private[operators] abstract class SignedArtifact[D] extends Store[D] {
  import Artifact._

  /** Content fingerprint of `rows` under the declaration. */
  protected def fpOf(rows: DataFrame, d: D): (Long, Long)
  /** Write `rows` as the tables of artifact `path` under `root` (a
    * claimed delta dir, or `path` itself for a build), counts scaled
    * by `sign`; returns the signed `acc` contribution.
    */
  protected def stage(rows: DataFrame, sign: Int, mf: Mf, path: String,
      root: String): Long
  /** Fold the `folded` delta dirs' tables into `root`. */
  protected def fold(spark: SparkSession, path: String, mf: Mf,
      folded: Seq[String], root: String): Unit
  /** Write the live survivors into the `<table>.v<ver>` base dirs;
    * returns [[purge]]'s result.
    */
  protected def rewrite(spark: SparkSession, path: String, mf: Mf,
      ver: Int): Long
  /** The base tables a purge rewrites and GCs. */
  protected def baseSubs(mf: Mf): Seq[String]
  /** [[purge]]'s result when there is nothing to purge. */
  protected def idlePurge(spark: SparkSession, path: String,
      mf: Mf): Long = mf.n
  /** The id column tombstone lists carry (tombstoned artifacts). */
  protected def idCol(d: D): String =
    throw new UnsupportedOperationException("not a tombstoned artifact")
  /** The append guard (disjointness), built once per append. */
  protected def insertGuard(delta: DataFrame, decl: Mf, dn: Long,
      path: String): Guard = _ => ()
  /** Refuses a delete-bearing change before anything is staged. */
  protected def refuseDelete(mf: Mf, path: String): Unit = ()
  /** Refuses any change to an artifact its format cannot take. */
  protected def checkWritable(mf: Mf, path: String): Unit = ()

  /** Default tombstone bound: 2^20 ids ≈ 8 MB broadcast — the point
    * past which the per-read anti-join broadcast stops being free and
    * a [[purge]] is due. Deletes refuse to exceed it.
    */
  val DefaultMaxTombstones: Long = 1L << 20

  /** Stage `parts` (rows, +1 insert / -1 delete) as one change and
    * commit it: fingerprints compose by xor, counts by sign, deletes
    * stage negated rows or (tombstoned) id lists under the tombstone
    * bound. `guardOf(decl, counts)` builds the change's guard from
    * the per-part row counts.
    */
  protected def change(path: String, batch: Option[Long],
      parts: Seq[(DataFrame, Int)], maxTombs: Long = DefaultMaxTombstones)(
      guardOf: (Mf, Seq[Long]) => Guard): Build = {
    val decl = live(path)
    checkWritable(decl, path)
    if (batch.exists(_ <= decl.lastBatch)) return unchanged(path, decl)
    val fps = parts.map { case (rows, _) => fpOf(rows, decl.decl) }
    val todo = parts.zip(fps).filter(_._2._2 > 0)
    if (todo.isEmpty) return unchanged(path, decl)
    val delN = todo.collect { case ((_, s), (_, n)) if s < 0 => n }.sum
    if (delN > 0) refuseDelete(decl, path)
    val own = guardOf(decl, fps.map(_._2))
    val guard: Guard = have => {
      if (tombstoned && delN > 0) require(have.tombCount + delN <= maxTombs,
        s"index at $path would carry ${have.tombCount + delN} " +
          s"tombstones (bound $maxTombs) — run purge() to fold them " +
          "into the base before deleting more")
      own(have)
    }
    val staged = todo.map { case ((rows, sign), _) =>
      val tomb = tombstoned && sign < 0
      val name = IndexDirs.nextDeltaName(path, if (tomb) "t" else "d")
      (name, tomb, (root: String) =>
        if (!tomb) stage(rows, sign, decl, path, root)
        else {
          rows.select(col(idCol(decl.decl))).distinct().coalesce(1)
            .write.mode("overwrite").parquet(root)
          0L
        })
    }
    val dfp = todo.foldLeft(0L)(_ ^ _._2._1)
    val dn = todo.map { case ((_, s), (_, n)) => s * n }.sum
    val (tombNames, dataNames) = staged.partition(_._2)
    commitStaged(path, decl, batch, staged.map(s => (s._1, s._3)),
        guard) { (have, acc) =>
      Some(have.copy(fp = have.fp ^ dfp, n = have.n + dn,
        acc = have.acc + acc, deltas = have.deltas ++ dataNames.map(_._1),
        tombs = have.tombs ++ tombNames.map(_._1),
        tombCount = have.tombCount + (if (tombstoned) delN else 0L)))
    }
  }

  /** Insert `delta` (guarded by [[insertGuard]] when `checked`),
    * committing the watermark `batch` when given.
    */
  protected def insert(delta: DataFrame, path: String, checked: Boolean,
      batch: Option[Long]): Build =
    change(path, batch, Seq(delta -> 1)) { (decl, ns) =>
      if (checked) insertGuard(delta, decl, ns.head, path) else _ => ()
    }

  /** Delete `delta` under the guard `guardOf(decl, dn)`. */
  protected def remove(delta: DataFrame, path: String,
      maxTombs: Long = DefaultMaxTombstones)(
      guardOf: (Mf, Long) => Guard): Build =
    change(path, None, Seq(delta -> -1), maxTombs) { (decl, ns) =>
      guardOf(decl, ns.head)
    }

  /** One CDC micro-batch of full rows plus an `op` column (`"D"`
    * deletes, anything else inserts), applied exactly once. The
    * batch's deletes are the feed's exact, live rows (the guarded path
    * is the artifact's `delete`); a tombstoned artifact checks the
    * batch-local invariants once, before anything stages: no
    * duplicate delete rows, and no id both inserted and deleted (the
    * version-blind tombstone filter would hide the inserted rows).
    */
  protected def applyCdc(batch: DataFrame, batchId: Long, path: String,
      maxTombs: Long): Build = {
    val decl = live(path)
    if (batchId <= decl.lastBatch) return unchanged(path, decl)
    val rows = batch.localCheckpoint(false)
    val ins = rows.filter(col("op") =!= "D").drop("op")
    val del = rows.filter(col("op") === "D").drop("op")
    change(path, Some(batchId), Seq(del -> -1, ins -> 1), maxTombs) {
      (decl, ns) =>
        if (tombstoned && ns.head > 0) {
          val id = idCol(decl.decl)
          val delIds = del.select(col(id)).distinct()
          require(delIds.count() == ns.head,
            s"batch $batchId has duplicate delete rows")
          val both = ins.select(col(id))
            .join(broadcast(delIds), Seq(id), "left_semi").count()
          require(both == 0,
            s"batch $batchId inserts AND deletes $both shared id(s) — " +
              "the tombstone filter would hide the inserted rows")
        }
        _ => ()
    }
  }

  /** Fold NEW rows into the artifact: only the delta pays the build
    * pass, staged in a claimed `deltas/d<N>` made visible by the
    * manifest commit; the fingerprint composes in O(delta).
    */
  def append(delta: DataFrame, path: String): Build =
    insert(delta, path, checked = true, None)

  /** Exactly-once streaming maintenance: the batch id commits IN the
    * manifest write of its delta, so a replay (`batchId <= lastBatch`)
    * is skipped whole.
    */
  def appendBatch(batch: DataFrame, batchId: Long, path: String): Build =
    insert(batch, path, checked = false, Some(batchId))

  /** `writeStream.foreachBatch(X.foreachBatchSink(path))`. */
  def foreachBatchSink(path: String): (DataFrame, Long) => Unit =
    (df, id) => { appendBatch(df, id, path); () }

  /** Exactly-once OP-AWARE streaming maintenance: one CDC micro-batch
    * of full rows plus an `op` column — `"D"` rows delete, the rest
    * insert — stages its deletes and inserts and commits both with the
    * batch watermark in ONE manifest write, so an at-least-once replay
    * skips the whole batch and no insert-committed/delete-lost window
    * exists. Delete rows must be the exact stored rows and live (the
    * feed's contract; the guarded path is the artifact's `delete`).
    */
  def applyBatch(batch: DataFrame, batchId: Long, path: String): Build =
    applyCdc(batch, batchId, path, DefaultMaxTombstones)

  /** `writeStream.foreachBatch(X.cdcSink(path))`. */
  def cdcSink(path: String): (DataFrame, Long) => Unit =
    (df, id) => { applyBatch(df, id, path); () }

  /** Fold the committed delta stream into one directory — same serve
    * state, fewer files per read. Returns the number folded.
    */
  def compactDeltas(spark: SparkSession, path: String): Int =
    compact(spark, path)(fold(spark, path, _, _, _))

  /** Survivors-only SEMANTIC rewrite: materialize the live state into
    * fresh claimed `<table>.v<N>` base dirs and commit with no deltas
    * and no tombstones — deleted rows leave no trace. O(live state);
    * downtime-free (the old manifest stays live until the swap).
    */
  def purge(spark: SparkSession, path: String): Long = {
    val decl = live(path)
    if (decl.deltas.isEmpty && decl.tombs.isEmpty)
      return idlePurge(spark, path, decl)
    val ver = IndexDirs.claimBaseSuffix(path, "base.v", decl.baseVer + 1)
    val subs = baseSubs(decl)
    val result = rewrite(spark, path, decl, ver)
    at(path, Staged)
    try IndexDirs.commitWithRetry(readManifest(path),
        writeManifest(path, _: Mf), path) { have =>
      require(have.baseVer == decl.baseVer,
        s"a concurrent purge of $path committed base version " +
          s"${have.baseVer} while this one rewrote from " +
          s"${decl.baseVer} — rerun against the new base")
      require(decl.deltas.forall(have.deltas.contains) &&
        decl.tombs.forall(have.tombs.contains),
        s"a concurrent compaction of $path folded deltas this purge's " +
          "rewrite already absorbed — committing would double-count " +
          "them; rerun against the compacted state")
      val survTombs = have.tombs.filterNot(decl.tombs.toSet)
      val succ = have.copy(deltas = have.deltas.filterNot(decl.deltas.toSet),
        tombs = survTombs, baseVer = ver,
        tombCount = if (survTombs.isEmpty) 0L
          else tombIds(spark, path, survTombs).count())
      at(path, BeforeCommit)
      Some(succ)
    } catch {
      case e: IllegalArgumentException =>
        subs.foreach(s => IndexDirs.rmTree(s"$path/$s.v$ver"))
        throw e
    }
    at(path, Committed)
    IndexDirs.gcDeltas(path, decl.deltas ++ decl.tombs)
    subs.foreach(s => IndexDirs.rmTree(s"$path/${decl.baseOf(s)}"))
    result
  }
}

/** A [[SignedArtifact]] whose appends carry a disjointness guard
  * ([[SignedArtifact.insertGuard]]) callers may switch off:
  * `checkDisjoint` defaults ON for [[append]] and OFF for streams —
  * the streaming upstream is a keyed new-docs feed (ids disjoint by
  * construction), and a per-micro-batch base scan would turn an
  * O(batch) append into an O(index) one.
  */
private[operators] abstract class GuardedArtifact[D]
    extends SignedArtifact[D] {
  def append(delta: DataFrame, path: String,
      checkDisjoint: Boolean): Build =
    insert(delta, path, checkDisjoint, None)

  def appendBatch(batch: DataFrame, batchId: Long, path: String,
      checkDisjoint: Boolean): Build =
    insert(batch, path, checkDisjoint, Some(batchId))

  def foreachBatchSink(path: String, checkDisjoint: Boolean)
      : (DataFrame, Long) => Unit =
    (df, id) => { appendBatch(df, id, path, checkDisjoint); () }
}

/** The `(<id>, __ch, __lw ±1)` doc LEDGER [[LmIndex]] and [[VecStats]]
  * carry beside their sums: a doc is live iff its weight sum per (id,
  * content hash) is positive, which makes their append/delete guards
  * exact (content-verified deletes, the family rule). Partitioned by
  * the id-hash bucket `ib`, so a guard reads only the buckets its own
  * delta ids hash to — an id absent everywhere cannot hide outside its
  * hash bucket.
  */
private[operators] object IdLedger {
  /** The `ib` bucket of an id; max(,1): a legacy (ibp = 0) artifact's
    * mutators bucket into one ib=0 partition, not a null partition.
    */
  def ib(id: Column, ibp: Int): Column =
    pmod(xxhash64(id), lit(math.max(ibp, 1))).cast("int")

  /** Write ledger rows bucketed by `ib` (one file per bucket). */
  def write(rows: DataFrame, id: String, ibp: Int, root: String): Unit =
    rows.withColumn("ib", ib(col(id), ibp))
      .repartition(col("ib"))
      .write.mode("overwrite").partitionBy("ib").parquet(root)

  private def summed(spark: SparkSession, roots: Seq[String], id: String,
      parts: Option[Seq[Int]]): DataFrame =
    roots.map { r =>
        val df = spark.read.parquet(r)
        // legacy unbucketed roots read whole — correct, just unpruned
        val pruned =
          if (parts.isDefined && df.columns.contains("ib"))
            df.filter(col("ib").isin(parts.get.map(Int.box): _*))
          else df
        pruned.select(col(id), col("__ch"), col("__lw"))
      }.reduce(_.unionByName(_))
      .groupBy(id, "__ch").agg(sum(col("__lw")).as("__lw"))

  /** Live `(id, __ch)` rows of `roots`, each pruned to `parts` ib
    * buckets when given.
    */
  def live(spark: SparkSession, roots: Seq[String], id: String,
      parts: Option[Seq[Int]] = None): DataFrame =
    summed(spark, roots, id, parts).filter(col("__lw") > 0)
      .select(col(id), col("__ch"))

  /** A guard's reader of live rows for `probe`'s ids: each set of
    * roots read pruned to the ib buckets the ids hash to, collected
    * once (the bucketing is layout, fixed until a rebuild).
    */
  def liveFor(spark: SparkSession, id: String, ibp: Int,
      probe: DataFrame): Seq[String] => DataFrame = {
    lazy val parts =
      if (ibp == 0) None
      else Some(probe.select(ib(col(id), ibp).as("ib"))
        .distinct().collect().map(_.getInt(0)).toSeq)
    roots => live(spark, roots, id, parts)
  }

  /** The signed fold of delta ledgers: nonzero weights kept (negative
    * ones go on cancelling base rows until a purge).
    */
  def fold(spark: SparkSession, roots: Seq[String], id: String): DataFrame =
    summed(spark, roots, id, None).filter(col("__lw") =!= 0)

  /** The content-verified delete guard: every `probe` row `(id,
    * __pch)` must name a live id whose stored content hash equals
    * `__pch`. Returns (live, same-content) counts of the ledger
    * `read` (a [[liveFor]] reader) serves.
    */
  def presence(read: DataFrame, id: String,
      probe: DataFrame): (Long, Long) = {
    val r = read.join(broadcast(probe), Seq(id))
      .agg(count(lit(1)).as("live"),
        coalesce(sum(when(col("__ch") === col("__pch"), 1L)
          .otherwise(0L)), lit(0L)).as("same"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}

/** The build-time per-file CONTENT-FINGERPRINT ledger [[AggView]] and
  * [[ColStats]] persist beside a build over a BARE parquet scan: file
  * key → (uri, length, mtime, fp partial, row count), computed in the
  * build's own fingerprint pass. What their plan bridges seed
  * pin-refresh partials from, scan-free. The manifest's `lg` flag says
  * whether a build wrote one.
  */
private[operators] object Ledger {
  type Row = (String, String, Long, Long, Long, Long)

  /** The listed files of `df` when it is a bare file scan. */
  def files(df: DataFrame): Option[Seq[graft.plans.RelationPins.ListedFile]] =
    try graft.plans.RelationPins
      .bare(org.apache.spark.sql.GraftBridge.analyzedPlan(df))
      .map { case (_, h) => graft.plans.RelationPins.listedFiles(h) }
    catch { case scala.util.control.NonFatal(_) => None }

  /** Compose per-file partials into the corpus (fp, n) and the ledger
    * rows. A scanned key outside the listing means the file-key
    * normalization drifted — the partials would seed wrong refreshes,
    * so the ledger is skipped (fp/n come from ALL scanned groups and
    * stay exact regardless).
    */
  def compose(files: Seq[graft.plans.RelationPins.ListedFile],
      byFile: Map[String, (Long, Long)]): (Long, Long, Option[Seq[Row]]) = {
    val n = byFile.valuesIterator.map(_._2).sum
    val fp =
      if (n == 0) 0L
      else byFile.valuesIterator.map(_._1).foldLeft(0L)(_ ^ _)
    val strays = byFile.keySet -- files.map(_.key).toSet
    val rows =
      if (strays.nonEmpty) None
      else Some(files.map { f =>
        val (cfp, cn) = byFile.getOrElse(f.key, (0L, 0L))
        (f.key, f.uri, f.len, f.mtime, cfp, cn)
      })
    (fp, n, rows)
  }

  def write(spark: SparkSession, rows: Seq[Row], path: String): Unit = {
    import spark.implicits._
    ZoneMap.writeArtifact(
      rows.toDF("file", "uri", "flen", "fmtime", "cfp", "cn"),
      rows.size.toLong, s"$path/ledger", ZoneMap.DefaultArtifactRowsPerFile)
  }

  /** file key → (length, mtime, fp partial, row count); None when the
    * build wrote no ledger (`lg` = 0).
    */
  def read(spark: SparkSession, path: String,
      lg: Int): Option[Map[String, (Long, Long, Long, Long)]] =
    if (lg == 0) None
    else Some(spark.read.parquet(s"$path/ledger")
      .select("file", "flen", "fmtime", "cfp", "cn").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap)
}
