package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Histogram, HistogramBin, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.{Rule => CatalystRule}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.operators.{ColStats, MergeOnRead, Profile}

/** STATISTICS INJECTION from the persisted [[ColStats]] artifact:
  * an optimizer rule that attaches the profile — row count, per-column
  * null counts, integral min/max, HLL distinct-count estimates, and
  * (new) equi-height HISTOGRAMS derived from the artifact's signed-
  * log₂ value histograms — to the registered base relation as
  * [[CatalogStatistics]], so Spark's own cost model plans from the
  * table's REAL shape instead of its raw file bytes.
  *
  * Why this matters at 100 TB: a file-source relation without catalog
  * stats estimates `sizeInBytes` as the sum of its (compressed) file
  * lengths and knows nothing about row counts or column domains. That
  * misses broadcast opportunities (a 100-byte-wide dimension inside a
  * 2 GB compressed file is broadcastable after pruning, but the file
  * length says no), and with `spark.sql.cbo.enabled` leaves join
  * reordering and filter-selectivity estimation blind — and without
  * histograms, selectivity falls back to UNIFORM assumptions that a
  * skewed column breaks by orders of magnitude. The lakehouse answer
  * is a stats layer maintained with the data — exactly what
  * [[ColStats]] already is (O(batch) CDC maintenance, delete-refusing
  * monotone algebra) — wired here into Catalyst the same way a
  * catalog table's ANALYZE results are: `CatalogStatistics` on the
  * relation, converted by Spark itself via `toPlanStats` (plain
  * `sizeInBytes` always; rowCount + per-column [[CatalogColumnStat]]
  * under `spark.sql.cbo.enabled` / `spark.sql.statsImprovements
  * .enabled`; histograms consulted by FilterEstimation/JoinEstimation
  * whenever present under CBO).
  *
  * The injected numbers follow Spark's own ANALYZE semantics, gated
  * by the profile row's KIND against the relation's type — a
  * misdeclared column (an integral column profiled in `strCols`, a
  * string profiled in `numCols`) gets NO stats rather than wrong
  * ones:
  *  - kind `num` + integral relation type: nullCount, NDV, min/max,
  *    and the equi-height histogram (all exact or honestly estimated
  *    by the profile's own algebra);
  *  - kind `str` + any relation type: nullCount and NDV (the rendered
  *    value is null iff the source is null, and renders distinctly
  *    for distinct values of the common types); string-length
  *    avg/max width for StringType relations;
  *  - kind `num` + non-integral relation type: nothing (the BIGINT
  *    cast makes every per-column number a lie).
  *
  * Freshness: registration pins the base (a parquet directory's
  * file-listing signature, or a [[MergeOnRead]] table's observable
  * state — see [[register]] for the MOR preconditions) and the
  * artifact's manifest version; either moving disables injection
  * until [[refreshPins]] VERIFIES base and artifact consistent again
  * and re-registers, or the caller re-registers manually — stale
  * statistics silently degrade plans, so they expire with the data.
  * The parquet verification is O(DELTA): per-file fingerprint
  * partials (seeded from the artifact's own build-time ledger
  * and/or earlier refreshes) compose for unchanged files, so only
  * NEW files are scanned ([[RelationPins.composeFingerprint]]); the
  * MOR verification is pure metadata (the table's own compaction
  * proof). Injection never changes RESULTS, only plan choice; the
  * rule skips relations that already carry catalog stats (a real
  * ANALYZE wins).
  *
  * One exception serves RESULTS, exactly: a GLOBAL (ungrouped,
  * unfiltered) aggregate of `count(*)` / `count(col)` /
  * `min`/`max`/`sum` of integral profiled columns is rewritten to a
  * literal one-row plan ([[metadataAgg]]) — the answer-from-
  * statistics path engines serve from footers, here from the
  * artifact, with ZERO scan. Every value is exact by the profile's
  * own algebra (exact counts and extrema, the same wrapped 64-bit
  * sum); anything not exactly answerable refuses to the scan —
  * including, under `spark.sql.ansi.enabled`, a `sum` whose overflow
  * the profile cannot RULE OUT (non-ANSI sums wrap identically on
  * both paths, but an ANSI direct sum RAISES on overflow where the
  * artifact would return the wrapped value, so the serve fires only
  * when `n_nonnull × max(|min|, |max|)` provably fits in 64 bits).
  */
object ColStatsInjection extends PinnedBridge("stats_path") with Logging {
  import RelationPins.{BasePin, FsId, FsPin, MorId, MorPin, Refresh}

  /** One profiled column's exact scalars (integer-exact by the
    * artifact's contract) — the inputs of the metadata-only
    * aggregate serve. `kind` is the profile row's declaration
    * (`num`/`str`): serves are gated on it MATCHING the relation
    * type, so a misdeclared column refuses instead of answering from
    * a lossy cast.
    */
  final case class Scalar(kind: String, nRows: Long, nNulls: Long,
      minNum: Option[Long], maxNum: Option[Long], sumNum: Option[Long])

  /** A registration. A parquet base pins its file listing, with
    * refresh partials seeded scan-free from the artifact's own
    * build-time ledger. A [[graft.operators.MergeOnRead]] table pins
    * its observable STATE — registrable only under the VERIFIED
    * append-only precondition (see [[register]]): a monotone
    * profile of the feed equals the folded table's profile exactly
    * when no fold ever dropped a row, which the table's own
    * compaction verification proves ([[MergeOnRead.appendOnlyRows]]).
    */
  final case class Entry(statsPath: String, pin: BasePin,
      version: Long, stats: CatalogStatistics,
      scalars: Map[String, Scalar], decl: ColStats.Decl,
      withHistograms: Boolean)

  type Registered = Entry
  type Declared = ColStats.Decl
  protected def keyOf(e: Entry): String = e.statsPath
  protected def declared(path: String): ColStats.Decl = ColStats.declaration(path)
  protected def ruleFor(spark: SparkSession): Rule = Rule(spark)

  /** Pin `statsPath` as the profile of `base` AS CURRENTLY LISTED
    * and precompute the [[CatalogStatistics]] (three metadata-scale
    * reads of the artifact — ≤ |cols| scalar/NDV rows and
    * ≤ 129·|cols| histogram rows; the corpus is never touched). The
    * caller owns the assertion that the artifact profiles this table
    * — typically by registering right after [[ColStats.buildIfAbsent]]
    * (whose fingerprint proved it) or after the CDC pipeline appended
    * the same batch to both; thereafter [[refreshPins]] re-verifies
    * and re-registers as both sides move. `histograms = false` skips
    * the equi-height histogram derivation (the hist table read and
    * the per-column interpolation).
    */
  def register(spark: SparkSession, base: DataFrame,
      statsPath: String, histograms: Boolean = true): Entry = {
    val (rel, id) = RelationPins.baseOf(GraftBridge.analyzedPlan(base))
      .getOrElse(throw new IllegalArgumentException(
        "register expects a bare single-relation scan (a parquet " +
          "file-source or a live mor-source read of the table the " +
          "artifact profiles); got:\n" +
          GraftBridge.analyzedPlan(base).treeString))
    val decl = ColStats.declaration(statsPath)
    val pin: BasePin = id match {
      case FsId(fsRel) =>
        RelationPins.requireOneRoot(fsRel)
        // seed from the artifact's OWN build-time ledger (same
        // projection by construction)
        RelationPins.fsPin(fsRel, RelationPins.seededFromOwn(fsRel,
          ColStats.fingerprintLedger(spark, statsPath)))
      case MorId(m) =>
        morVerified(m.path, decl) match {
          case scala.Left(reason) => throw new IllegalArgumentException(
            s"mor table at ${m.path} not registrable: $reason")
          case scala.Right(st) => MorPin(m.path, st)
        }
    }
    put(entryOf(spark, rel.output, statsPath, decl, pin, histograms))
  }

  /** The registration of the profile at `statsPath`, read at `decl`,
    * for the relation of `output` pinned at `pin`.
    */
  private def entryOf(spark: SparkSession, output: Seq[Attribute],
      statsPath: String, decl: ColStats.Decl, pin: BasePin,
      histograms: Boolean): Entry = {
    val resolver = SQLConf.get.resolver
    // bounded collects: the scalar profile, NDV estimates, and log2
    // histogram are ≤ |cols| (× ≤129 buckets) rows by construction
    val ndv: Map[String, Double] =
      ColStats.ndv(spark, statsPath).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val scalar = ColStats.stats(spark, statsPath).collect()
    val histByCol: Map[String, Seq[(Int, Long)]] =
      if (!histograms) Map.empty
      else ColStats.hist(spark, statsPath).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (c, rows) =>
          c -> rows.map(t => (t._2, t._3)).sortBy(_._1).toSeq
        }
    // shared per-row resolution + field extraction: the CBO column
    // stats and the metadata-agg scalars both read the profile
    // through this one helper, so the two views of one profile
    // cannot drift apart under a future edit to either pass
    def rowFor(r: org.apache.spark.sql.Row)
        : Option[(Attribute, String => Option[Long])] =
      output.find(a => resolver(a.name, r.getString(0)))
        .map { attr =>
          attr -> ((c: String) =>
            if (r.isNullAt(r.fieldIndex(c))) None
            else Some(r.getAs[Long](c)))
        }
    val colStats: Map[String, CatalogColumnStat] =
      scalar.flatMap { r =>
        rowFor(r).flatMap { case (attr, longAt) =>
          val name = r.getString(0)
          val kind = r.getString(r.fieldIndex("kind"))
          val numOk = kind == "num" && Profile.integral(attr.dataType)
          val strOk = kind == "str"
          if (!numOk && !strOk) None // misdeclared: no stats at all
          else {
            def num(col: String): Option[String] =
              if (numOk) longAt(col).map(_.toString) else None
            val nRows = r.getAs[Long]("n_rows")
            val nNulls = r.getAs[Long]("n_nulls")
            // avg string length from the artifact's exact length sums
            // — THE honest width input; fixed-width types use their
            // type width
            val avgLen: Long = attr.dataType match {
              case StringType if strOk =>
                longAt("sum_len")
                  .filter(_ => nRows > nNulls)
                  .map(s => math.max(1L, math.round(
                    s.toDouble / (nRows - nNulls))))
                  .getOrElse(attr.dataType.defaultSize.toLong)
              case dt => dt.defaultSize.toLong
            }
            Some(attr.name -> CatalogColumnStat(
              distinctCount =
                ndv.get(name).map(d => BigInt(math.max(1L, d.round))),
              min = num("min_num"), max = num("max_num"),
              nullCount = Some(BigInt(nNulls)),
              avgLen = Some(avgLen),
              maxLen = Some(attr.dataType match {
                case StringType if strOk =>
                  longAt("max_len").getOrElse(avgLen)
                case dt => dt.defaultSize.toLong
              }),
              histogram =
                if (numOk)
                  histByCol.get(name)
                    .flatMap(equiHeight(_, nRows - nNulls))
                else None))
          }
        }
      }.toMap
    val rowCount: BigInt =
      scalar.map(r => r.getAs[Long]("n_rows")).maxOption
        .map(BigInt(_)).getOrElse(0)
    // EstimationUtils.getSizePerRow's shape: 8 + Σ column widths,
    // strings as avgLen + (8 + 4) object overhead
    val rowWidth = 8L + output.map { a =>
      (a.dataType, colStats.get(a.name).flatMap(_.avgLen)) match {
        case (StringType, Some(l)) => l + 8L + 4L
        case (dt, _) => dt.defaultSize.toLong
      }
    }.sum
    val catalog = CatalogStatistics(
      sizeInBytes = (rowCount * rowWidth) max 1,
      rowCount = Some(rowCount),
      colStats = colStats)
    val scalars: Map[String, Scalar] = scalar.flatMap { r =>
      rowFor(r).map { case (attr, longAt) =>
        attr.name -> Scalar(r.getString(r.fieldIndex("kind")),
          r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"),
          longAt("min_num"), longAt("max_num"), longAt("sum_num"))
      }
    }.toMap
    Entry(statsPath, pin, decl.version, catalog, scalars, decl,
      histograms)
  }

  /** The VERIFIED preconditions under which a monotone (append-only)
    * profile is exactly the folded mor table's profile — all
    * metadata-scale reads, never a scan:
    *
    *  - every fold so far provably dropped no row
    *    ([[MergeOnRead.appendOnlyRows]] — create-time key-uniqueness
    *    plus per-compaction row-count verification); a feed that
    *    deletes or re-keys flips that proof off PERMANENTLY and this
    *    refuses with rebuild guidance;
    *  - no pending unfolded batches (compaction IS the verification
    *    point — what has not been folded has not been verified);
    *  - the profile's absorbed row count equals the folded table's
    *    (the cheap content sanity the count algebra affords — an
    *    out-of-band append to either side lands here).
    *
    * The commit-chain question [[AggViewRewrite]] answers by walking
    * manifests is answered here by the count equation: ColStats is
    * append-only (deletes refuse at the artifact), so any out-of-band
    * mutation moves `n` away from the verified fold count.
    */
  private def morVerified(morPath: String,
      decl: ColStats.Decl): Either[String, MergeOnRead.State] = {
    val st = try MergeOnRead.state(morPath)
      catch { case NonFatal(ex) =>
        return scala.Left(s"mor table unreadable: $ex") }
    if (st.pending.nonEmpty)
      return scala.Left("mor table has unfolded batches — compact " +
        "first (compaction is the fold-verification point; pending " +
        "batches are unverified by construction)")
    MergeOnRead.appendOnlyRows(morPath) match {
      case None =>
        scala.Left("table is not verified append-only — create it " +
          "with trackAppendOnly = true and keep it compacted; a " +
          "feed that deletes or re-keys cannot maintain monotone " +
          "statistics (rebuild the profile over the folded table " +
          "instead)")
      case Some(rows) if rows != decl.n =>
        scala.Left(s"row counts diverge (folded table $rows vs " +
          s"profile ${decl.n}) — waiting for the other side")
      case Some(_) => scala.Right(st)
    }
  }

  /** An equi-height [[Histogram]] from the artifact's signed-log₂
    * bucket counts: boundaries at equal cumulative heights, values
    * interpolated UNIFORMLY inside each log₂ bucket (the true value
    * provably lies inside its bucket, so each boundary is off by at
    * most the bucket width — the log₂-histogram contract carried into
    * the cost model). Bin NDV is capped at both the bin's integer
    * width and its height — conservative for equality selectivity.
    * Driver-side over ≤ 129 buckets × `spark.sql.statistics
    * .histogram.numBins` bins; plan-only (never results).
    */
  private[plans] def equiHeight(buckets: Seq[(Int, Long)],
      nNonNull: Long): Option[Histogram] = {
    if (nNonNull <= 0 || buckets.isEmpty) return None
    // continuous value range of a signed log2 bucket: integers in
    // bucket 0 = {0}; +k = [2^(k-1), 2^k - 1]; -k mirrored negative.
    // Modeled as [lo, lo + count) with count = 2^(k-1) (1 for b=0).
    def width(b: Int): Double =
      if (b == 0) 1.0 else math.pow(2.0, math.abs(b) - 1)
    def lo(b: Int): Double =
      if (b == 0) 0.0
      else if (b > 0) math.pow(2.0, b - 1)
      else -(math.pow(2.0, -b) - 1)
    val total = buckets.map(_._2).sum
    if (total <= 0) return None
    val nb = math.max(1, math.min(SQLConf.get.histogramNumBins,
      total match { case t if t < Int.MaxValue => t.toInt; case _ => Int.MaxValue }))
    val height = total.toDouble / nb
    // cumulative walk: value at cumulative row position p
    val cum = buckets.scanLeft(0L)(_ + _._2).tail
    def valueAt(p: Double): Double = {
      val clamped = math.min(math.max(p, 0.0), total.toDouble)
      var i = 0
      while (i < buckets.length && cum(i) < clamped) i += 1
      if (i >= buckets.length) {
        val (b, _) = buckets.last
        lo(b) + width(b)
      } else {
        val (b, c) = buckets(i)
        val before = if (i == 0) 0L else cum(i - 1)
        val f = if (c == 0) 0.0 else (clamped - before) / c.toDouble
        lo(b) + f * width(b)
      }
    }
    val bounds = (0 to nb).map(i => valueAt(i * height))
    val bins = (0 until nb).map { i =>
      val (l, h) = (bounds(i), bounds(i + 1))
      val intWidth = math.max(1L,
        (math.floor(h) - math.ceil(l)).toLong + 1L)
      HistogramBin(l, h,
        math.max(1L, math.min(intWidth, math.round(height))))
    }
    Some(Histogram(height, bins.toArray))
  }

  /** Current registrations with their LIVE version freshness — the
    * ops answer to "why isn't my table planning with stats": one row
    * per registered artifact (path, base roots, injected rowCount /
    * sizeInBytes, pinned vs live manifest version, and
    * [[RelationPins.describe]]'s base freshness).
    */
  def status(spark: SparkSession): DataFrame = {
    val s = spark
    import s.implicits._
    entries.map { e =>
      val liveVersion =
        try Some(ColStats.version(e.statsPath))
        catch { case NonFatal(_) => None }
      val (baseDesc, baseFresh) = RelationPins.describe(e.pin)
      (e.statsPath, baseDesc,
        e.stats.rowCount.map(_.toLong).getOrElse(-1L),
        e.stats.sizeInBytes.toLong,
        e.version, liveVersion.getOrElse(-1L),
        liveVersion.contains(e.version), baseFresh)
    }.toDF("stats_path", "base_roots", "row_count", "size_bytes",
      "pinned_version", "live_version", "version_fresh", "base_fresh")
  }

  /** Re-verify and re-register every pin whose base or artifact has
    * MOVED — the maintenance hook that keeps injection live on a
    * changing table ([[PinnedBridge.refreshEach]]). A pin refreshes
    * only when VERIFIED: a parquet base's live content fingerprint
    * over the declared columns must equal the artifact's composed
    * fingerprint — computed O(DELTA) by composing stored per-file
    * partials and scanning only files with none
    * ([[PinnedBridge.verifyDelta]]); a MOR base re-verifies the
    * watermark ([[RelationPins.refreshMor]]), then the append-only
    * proof, pending-empty and count equations (pure metadata). A
    * base-only append or an artifact-only commit fails the check and
    * the registration stays stale (refusing, correctly) until the
    * two converge. Returns one row per registration: (stats_path,
    * refreshed, reason).
    */
  def refreshPins(spark: SparkSession): DataFrame =
    refreshPins(spark, compactMor = false)

  /** `compactMor`: when a MOR pin's table holds PENDING (unfolded,
    * hence unverified) batches, run the table's own compaction first
    * — compaction IS the fold-verification point
    * ([[MergeOnRead.compact]]'s per-bucket row-count proof) — then
    * verify and re-pin. What lets [[refreshingSink]] restore the
    * metadata-only serve immediately after each streamed batch
    * instead of waiting for the compaction cadence. A delete-bearing
    * batch still flips the append-only proof off PERMANENTLY at that
    * compaction and the refresh refuses with rebuild guidance — the
    * on-demand path changes WHEN verification runs, never what it
    * proves.
    */
  def refreshPins(spark: SparkSession,
      compactMor: Boolean = false): DataFrame =
    refreshEach(spark)(repin(spark, _, compactMor))

  /** Verify one registration and re-pin it, or say why not. */
  private def repin(spark: SparkSession, e: Entry,
      compactMor: Boolean): Refresh[Entry] = {
    val live = try ColStats.declaration(e.statsPath)
      catch { case NonFatal(ex) =>
        return scala.Left(s"artifact unreadable: $ex") }
    if (live.numCols != e.decl.numCols ||
      live.strCols != e.decl.strCols)
      return scala.Left("artifact declaration changed (rebuild) — " +
        "re-register")
    val moved = live.version != e.version
    e.pin match {
      case p: FsPin =>
        RelationPins.refreshFs(spark, p, moved) { base =>
          verifyDelta(spark, e, p, base, live.fp, live.n,
              "artifact profile", pin => e.copy(pin = pin))(
            ColStats.fingerprintByFile(_, live.numCols, live.strCols)
          ).map(pin => (entryOf(spark, base.rel.output, e.statsPath, live, pin,
            e.withHistograms), "re-registered"))
        }
      case p: MorPin =>
        // on-demand verification folds the pending batches first (the
        // fold is the proof); a compaction failure lands in the
        // refresh loop's isolation
        def folded(st: MergeOnRead.State): MergeOnRead.State =
          if (compactMor && st.pending.nonEmpty) {
            MergeOnRead.compact(spark, p.morPath)
            MergeOnRead.state(p.morPath)
          } else st
        RelationPins.refreshMor(p, moved, live.lastBatch, "stats",
            folded) { _ =>
          morVerified(p.morPath, live).map(st => (entryOf(spark,
            GraftBridge.analyzedPlan(
              spark.read.format("mor").load(p.morPath)).output,
            e.statsPath, live, MorPin(p.morPath, st), e.withHistograms),
            "re-registered"))
        }
    }
  }

  /** [[refreshingSink]] with [[refreshPins]]' `compactMor`:
    * `IndexPipeline.sink(ColStats.cdcSink(p), …,
    * ColStatsInjection.refreshingSink(spark, compactMor = true))`
    * restores the metadata-only serve the moment each batch lands —
    * not at the next compaction.
    */
  def refreshingSink(spark: SparkSession,
      compactMor: Boolean = false): (DataFrame, Long) => Unit =
    (_, _) => { refreshPins(spark, compactMor).collect(); () }

  /** One-shot SCOPED injection: register the artifact, force `query`
    * through the optimizer (so the stats — and any plan choices they
    * drive — are baked into the returned plan), then unregister.
    */
  def injected(spark: SparkSession, base: DataFrame, statsPath: String)
      (query: => DataFrame): DataFrame =
    scoped(spark, statsPath)(register(spark, base, statsPath))(query)

  /** The injection rule. NOTE: [[install]] registers it via
    * `experimental.extraOptimizations`, which runs in the final "User
    * Provided Optimizers" batch — AFTER the CBO join-reorder and
    * filter-estimation batches — so install()-path sessions get the
    * sizeInBytes/broadcast benefit and the metadata-only aggregate
    * serve, but NOT cbo-driven join reordering. For the full CBO
    * benefit (join reorder, histogram selectivity), inject at session
    * build time with
    * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
    * — [[GraftExtensions]] injects this rule into the operator-
    * optimization batch, which runs before CBO.
    */
  final case class Rule(spark: SparkSession)
      extends CatalystRule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      optimize(spark, plan) { memo => {
        // a GLOBAL min/max/count/sum aggregate over a registered
        // relation is answered from the profile outright — no scan
        case agg: Aggregate =>
          try metadataAgg(agg, memo).getOrElse(agg)
          catch {
            case NonFatal(e) =>
              logWarning(s"colstats metadata-agg skipped: $e")
              agg
          }
        // a relation that already carries catalog stats (a real
        // ANALYZE, or this rule in an earlier pass) is left alone
        case l: LogicalRelation if l.catalogTable.isEmpty =>
          try inject(l, memo).getOrElse(l)
          catch {
            case NonFatal(e) =>
              logWarning(s"colstats injection skipped: $e")
              l
          }
      }}
  }

  private type Memo = RelationPins.Memo[ColStats.Decl]

  /** The fresh registered entry for this relation, if any: base pin
    * fresh, artifact version unchanged.
    */
  private def freshEntry(l: LogicalRelation, memo: Memo): Option[Entry] =
    RelationPins.idOf(l).flatMap(id => entries.find(e =>
      memo.fresh(e.pin, id) &&
        memo.declOf(e.statsPath).exists(_.version == e.version)))

  private def inject(l: LogicalRelation,
      memo: Memo): Option[LogicalRelation] =
    freshEntry(l, memo).map { e =>
      l.copy(catalogTable = Some(CatalogTable(
        identifier = TableIdentifier("graft_colstats_injected"),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty,
        schema = l.relation.schema,
        provider = Some("parquet"),
        stats = Some(e.stats))))
    }

  // ---------------------------------------------------------------
  // metadata-only aggregate serve

  /** Strip pure column-pruning projections; ANY filter disqualifies
    * (a filtered aggregate is not the profiled table's).
    */
  private def bareChild(p: LogicalPlan): Option[LogicalRelation] =
    p match {
      case l: LogicalRelation => Some(l)
      case Project(pl, c)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        bareChild(c)
      case _ => None
    }

  /** Rewrite a GLOBAL (ungrouped, unfiltered) aggregate whose every
    * output is `count(*)`, `count(col)`, `min/max(col)` (integral),
    * or `sum(col)` (integral) over PROFILED columns into a literal
    * one-row plan — the answer-from-statistics serve every engine's
    * metadata-only path provides, here from the artifact. min/max
    * are exact because the profile's extrema are exact (monotone
    * merges of exact per-batch extrema); sum is the same wrapped
    * 64-bit sum the query's own `sum(BIGINT-cast)` computes; count
    * algebra is exact. Every serve additionally requires the profile
    * row's KIND to match the relation type (`num` needs an integral
    * relation column — a lossy cast profiles nulls and truncations;
    * `str` renders null iff the source is null, so count(col) stays
    * exact for any type). Refuses on DISTINCT/FILTER, non-integral
    * min/max/sum, any WHERE, any unprofiled or misdeclared column,
    * and — under ANSI — a sum whose 64-bit overflow the profile's
    * own bounds cannot rule out (see the object doc).
    */
  private def metadataAgg(agg: Aggregate,
      memo: Memo): Option[Aggregate] = {
    if (agg.groupingExpressions.nonEmpty) return None
    val rel = bareChild(agg.child).getOrElse(return None)
    val e = freshEntry(rel, memo).getOrElse(return None)
    if (e.scalars.isEmpty) return None
    val nRows = e.scalars.values.head.nRows

    def scalarOf(x: Expression): Option[(Scalar, Attribute)] = x match {
      case a: AttributeReference =>
        e.scalars.get(a.name).map(_ -> a)
      case _ => None
    }
    def numOk(s: Scalar, a: Attribute): Boolean =
      s.kind == "num" && Profile.integral(a.dataType)
    def numLit(v: Option[Long], dt: DataType): Expression = v match {
      case None => Literal(null, dt)
      case Some(x) => dt match {
        case ByteType => Literal(x.toByte)
        case ShortType => Literal(x.toShort)
        case IntegerType => Literal(x.toInt)
        case _ => Literal(x)
      }
    }
    // |sum| ≤ n_nonnull · max(|min|, |max|): when that bound fits in
    // 64 bits, the direct ANSI sum cannot have raised and the wrapped
    // artifact sum is bit-equal to it
    def sumProvablySafe(s: Scalar): Boolean =
      (s.minNum, s.maxNum) match {
        case (Some(lo), Some(hi)) =>
          val bound = BigInt(s.nRows - s.nNulls) *
            BigInt(lo).abs.max(BigInt(hi).abs)
          bound <= BigInt(Long.MaxValue)
        case _ => true // no non-null values: the sum serves null
      }

    def answer(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      ae.aggregateFunction match {
        case Count(children)
            if children.nonEmpty &&
              children.forall(c => c.foldable && c.eval() != null) =>
          Some(Literal(nRows))
        case Count(Seq(c)) if !c.foldable =>
          // exact iff "profiled null" == "source null": any type for
          // a str profile (rendering preserves nulls), integral only
          // for a num profile (a failed long-cast counts as null)
          scalarOf(c).collect {
            case (s, a) if s.kind == "str" || numOk(s, a) =>
              Literal(s.nRows - s.nNulls)
          }
        case m: aggregate.Min =>
          scalarOf(m.child).collect {
            case (s, a) if numOk(s, a) => numLit(s.minNum, a.dataType)
          }
        case m: aggregate.Max =>
          scalarOf(m.child).collect {
            case (s, a) if numOk(s, a) => numLit(s.maxNum, a.dataType)
          }
        case sm: Sum =>
          scalarOf(sm.child).collect {
            case (s, a) if numOk(s, a) && ae.dataType == LongType &&
                (!SQLConf.get.ansiEnabled || sumProvablySafe(s)) =>
              if (s.nRows == s.nNulls) Literal(null, LongType)
              else Literal(s.sumNum.getOrElse(0L))
          }
        case _ => None
      }
    }

    val newExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case al: Alias => al.child match {
        case ae: AggregateExpression => answer(ae) match {
          case Some(lit) => Alias(lit, al.name)(exprId = al.exprId)
          case None => return None
        }
        case _ => return None
      }
      case _ => return None
    }
    // keep the node an Aggregate over one synthetic row, so the
    // plan's shape (and output nullability) matches what any parent
    // expects from a global aggregate; Catalyst folds it to a
    // one-row LocalRelation
    val out = Aggregate(Nil, newExprs, OneRowRelation())
    val same = out.output.size == agg.output.size &&
      out.output.zip(agg.output).forall { case (n, o) =>
        n.exprId == o.exprId && n.name == o.name && n.dataType == o.dataType
      }
    if (same) Some(out) else None
  }
}
