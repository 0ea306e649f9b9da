package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, GraftBridge, GraftPrunedFileIndex, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.{Rule => CatalystRule}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

import graft.operators.ZoneMap

/** ZONE-MAP DATA SKIPPING for PLAIN parquet reads: an optimizer rule
  * that prunes a registered table's FILE LIST through the persisted
  * [[ZoneMap]] artifact before the scan is planned — `spark.read
  * .parquet(dir).where(...)` and plain SQL over a parquet view get
  * the q224-class skip ([[ZoneMap.scan]]'s plan) without calling any
  * graft API in the query. Pruned files are never listed into the
  * scan, never scheduled, never opened: the Delta/Iceberg skipping
  * altitude bridged onto stock parquet directories.
  *
  * Soundness is subtraction-shaped, the [[graft.operators.MergeOnRead
  * .readWhere]] rule: the artifact contributes only a KILLED set
  * (files the predicate PROVABLY matches no row of), which is
  * subtracted from the relation's own listing — a lagging zone map
  * keeps extra files, an unprofiled file is never dropped. The
  * predicate stays in the plan untouched and re-evaluates above the
  * pruned scan, so pruning is never trusted as exact.
  *
  * Freshness: registration pins the base file listing
  * ([[RelationPins.signature]]) AND verifies the artifact's ledger
  * against it (every profiled file's length+mtime must match the
  * live listing — a file rewritten in place after profiling refuses
  * registration with rebuild guidance). Any later table change
  * disables pruning (the sig mismatch falls back to the full scan —
  * drift is never served) until [[refreshPins]] re-verifies and
  * re-pins; run [[ZoneMap.refresh]] first so the new files are
  * actually profiled (an unprofiled file re-pins fine but never
  * skips).
  *
  * PARTITIONED tables compose: the substituted index
  * ([[org.apache.spark.sql.GraftPrunedFileIndex]]) DELEGATES to the
  * relation's own index, so Spark's partition pruning and the zone
  * map's per-file skip subtract independently from the same listing
  * — the scan plans with BOTH PartitionFilters and the reduced file
  * list. The zone map itself profiles DATA columns only (partition
  * values live outside the data files, and the build refuses a
  * declared column absent from them); partition-column predicates
  * are Spark's own pruning path. Bucketed relations stay
  * unregistrable: the pruned file list would break their layout
  * contract.
  */
object ZoneMapScan extends PinnedBridge("zm_path") with PredicateHelper
    with Logging {
  import RelationPins.{FsId, FsPin}

  final case class Entry(zmPath: String, pin: FsPin, zmDecl: ZoneMap.Decl)

  type Registered = Entry
  type Declared = ZoneMap.Decl
  protected def keyOf(e: Entry): String = e.zmPath
  protected def declared(path: String): ZoneMap.Decl = ZoneMap.declaration(path)
  protected def ruleFor(spark: SparkSession): Rule = Rule(spark)

  /** Pin `base` (a bare parquet scan — partitioned or not) against
    * the zone map at `zmPath`, verifying every profiled file's
    * (length, mtime) against the live listing (all partitions). Pins
    * BOTH sides: the table's listing signature AND the artifact's
    * whole manifest declaration — a rebuild or retarget of the
    * artifact at the same path after registration changes the
    * declaration, so [[tryPrune]] stops trusting it until
    * [[refreshPins]] re-runs this verification (path-keyed
    * subtraction alone would be an implicit invariant, not a checked
    * one).
    */
  def register(spark: SparkSession, base: DataFrame,
      zmPath: String): Entry = {
    val (_, fsRel) = RelationPins.bare(GraftBridge.analyzedPlan(base))
      .getOrElse(throw new IllegalArgumentException(
        "register expects a bare single-file-source parquet scan; " +
          "got:\n" + GraftBridge.analyzedPlan(base).treeString))
    require(fsRel.bucketSpec.isEmpty,
      "bucketed relations carry layout semantics the pruned file " +
        "list would break — not registrable")
    require(fsRel.fileFormat.isInstanceOf[ParquetFileFormat],
      "zone maps profile parquet files; this relation reads " +
        s"${fsRel.fileFormat}")
    put(verified(spark, fsRel, zmPath))
  }

  /** The ledger verification of [[register]] (and of every re-pin). */
  private def verified(spark: SparkSession, fsRel: HadoopFsRelation,
      zmPath: String): Entry = {
    // a pre-format-3 artifact has no real ledger (it synthesizes
    // mtime 0 from stats rows), so the rewritten-in-place check
    // below would silently weaken to length-only — refuse instead
    require(ZoneMap.format(zmPath).exists(_ >= 3),
      s"zone map at $zmPath predates the format-3 files ledger — " +
        "its per-file (length, mtime) pins cannot be verified; " +
        "rebuild with ZoneMap.buildIfAbsent before registering")
    // declaration read BEFORE the ledger: an artifact commit landing
    // after this point makes the pin stale (pruning disabled until
    // refreshPins re-verifies) — never the reverse, where a pin
    // could name a state whose ledger was not the one verified. The
    // pin is the WHOLE declaration, not just the manifest version: a
    // rebuild restarts the version sequence and can land on the
    // pinned number (ZoneMap.Decl's doc).
    val zmDecl = ZoneMap.declaration(zmPath)
    val listed = RelationPins.listedFiles(fsRel)
      .map(f => f.key -> (f.len, f.mtime)).toMap
    val stale = ZoneMap.ledger(spark, zmPath).filter { e =>
      listed.get(e.key).exists { case (len, mtime) =>
        len != e.len || mtime != e.mtime
      }
    }
    require(stale.isEmpty,
      s"zone map at $zmPath profiled " +
        stale.map(_.key).sorted.take(3).mkString("[", ", ", "…]") +
        " at a different length/mtime than the live table lists — " +
        "the files were rewritten in place; rebuild the zone map " +
        "(ZoneMap.buildIfAbsent) before registering")
    Entry(zmPath, RelationPins.fsPin(fsRel), zmDecl)
  }

  /** Current registrations — the ops answer to "why didn't my scan
    * skip": one row per registered zone map (path, table roots,
    * pinned listing signature, and whether the artifact is still IN
    * SYNC with the live table listing — live fingerprint equality,
    * metadata-only).
    */
  def status(spark: SparkSession): DataFrame = {
    val s = spark
    import s.implicits._
    entries.map { e =>
      val pinFresh = RelationPins.signatureOfRoots(spark, e.pin.roots)
        .contains(e.pin.listingSig)
      val liveDecl =
        try Some(ZoneMap.declaration(e.zmPath))
        catch { case NonFatal(_) => None }
      (e.zmPath, e.pin.roots.toSeq.sorted.mkString(","), e.pin.listingSig,
        pinFresh, e.zmDecl.version,
        liveDecl.map(_.version).getOrElse(-1L),
        liveDecl.contains(e.zmDecl))
    }.toDF("zm_path", "table_roots", "listing_sig", "pin_fresh",
      "pinned_version", "live_version", "version_fresh")
  }

  /** Re-pin every registration whose table listing OR artifact
    * manifest moved, re-running the same ledger verification
    * [[register]] performs. Call after [[ZoneMap.refresh]] in the
    * table's maintenance loop (or wrap the step with
    * [[refreshingSink]]). Returns (zm_path, refreshed, reason) per
    * registration.
    */
  def refreshPins(spark: SparkSession): DataFrame =
    refreshEach(spark) { e =>
      RelationPins.refreshFs(spark, e.pin,
        ZoneMap.declaration(e.zmPath) != e.zmDecl) { base =>
        Right((verified(spark, base.h, e.zmPath), "re-pinned"))
      }
    }

  final case class Rule(spark: SparkSession)
      extends CatalystRule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      optimize(spark, plan) { memo => {
        case f @ Filter(cond, l: LogicalRelation) =>
          try tryPrune(f, cond, l, memo).getOrElse(f)
          catch {
            case NonFatal(e) =>
              logWarning(s"zone-map scan prune skipped: $e")
              f
          }
      }}
  }

  private def tryPrune(f: Filter,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      l: LogicalRelation,
      memo: RelationPins.Memo[ZoneMap.Decl]): Option[Filter] = {
    val h = l.relation match {
      case h: HadoopFsRelation => h
      case _ => return None
    }
    // BOTH pins re-check per pass: the table's listing signature AND
    // the artifact's whole manifest declaration (a rebuilt/retargeted
    // artifact at the same path is not the one whose ledger was
    // verified — and a rebuild can reuse the pinned version number).
    val e = entries
      .find(e => memo.fresh(e.pin, FsId(h)) &&
        memo.declOf(e.zmPath).contains(e.zmDecl))
      .getOrElse(return None)
    if (!cond.deterministic || SubqueryExpression.hasSubquery(cond))
      return None
    val srcFilters = splitConjunctivePredicates(cond)
      .flatMap(GraftBridge.translateFilter)
    if (srcFilters.isEmpty) return None
    val killed = ZoneMap.pruneKilled(h.sparkSession, e.zmPath, srcFilters)
    if (killed.isEmpty) return None
    val listedKilled = h.location.listFiles(Nil, Nil).iterator
      .flatMap(_.files)
      .count(s => killed(s.getPath.toUri.getPath))
    if (listedKilled == 0) return None
    // the pruned relation: same schema/format/options/partitioning,
    // the underlying index minus the killed set (its in-memory
    // listing — no FS call). On a PARTITIONED table the wrapper
    // delegates partition pruning to the underlying index, so the
    // scan gets BOTH PartitionFilters and the per-file skip. The
    // predicate stays above and re-evaluates; planning pushes it
    // into the pruned scan exactly as it would the full one.
    val idx = new GraftPrunedFileIndex(h.location, killed)
    val newRel = h.copy(location = idx)(h.sparkSession)
    Some(Filter(cond, l.copy(relation = newRel)))
  }
}
