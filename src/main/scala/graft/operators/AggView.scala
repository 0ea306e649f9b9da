package graft.operators


import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType}

import graft.functions.StrExtremaAgg.{str_max, str_min}

/** Persisted incrementally-maintained aggregate view — the
  * [[LmIndex]]/[[Bm25Index]] pure-sum algebra generalized to ANY
  * grouped rollup a pipeline dashboards on: per-group `count` plus
  * user-declared SUM measures (each a row-local SQL expression), kept
  * fresh under CDC without ever re-scanning the fact corpus.
  *
  * At 100 TB the difference between "refresh the rollup" meaning a
  * full corpus aggregate versus an O(delta) append is the difference
  * between a nightly job and a continuously-serveable view — this is
  * the incremental-view-maintenance shape (self-maintainable
  * SUM/COUNT views over insert/delete streams, per the classic IVM
  * literature), rendered as an on-disk artifact under the
  * [[IndexDirs]] manifest discipline:
  *
  * {{{
  *   <path>/agg/kb=<b>/   parquet: (keys..., __cnt BIGINT,
  *                        <measure sums...>) — grouped partial sums,
  *                        partitioned by the key-hash bucket `kb`, so
  *                        a dashboard probe reads 1/kbParts of the
  *                        view, never all of it
  *   <path>/deltas/d<N>/agg  appended (or count-NEGATED) partial sums
  *   <path>/manifest.json — keys + measure expressions + fingerprint,
  *                        written LAST (atomic commit marker)
  * }}}
  *
  * Reads aggregate base ∪ committed deltas per group and drop
  * `__cnt ≤ 0` groups; append = the DELTA's grouped sums (O(delta));
  * delete = the same rows count-negated, so a retracted fact
  * subtracts right back out and [[compactDeltas]]/[[purge]] leave the
  * artifact bit-for-bit the view over the surviving facts. SUM-algebra
  * measures (sums of row-local expressions; count and mean = sum/cnt
  * ride along for free) get the full signed lifecycle; MIN/MAX
  * measures are offered APPEND-ONLY ([[Measure.kind]]) — monotone
  * under inserts, with every delete path refusing loudly, because
  * extrema are not self-maintainable under deletes.
  *
  * Unlike the doc-keyed artifacts ([[DedupIndex]], [[LmIndex]]),
  * fact rows have no identity, so deletes cannot be content-verified
  * against a ledger without storing the corpus itself; the CDC feed
  * is the source of truth (the [[MergeOnRead]] contract — deletes
  * are the table's own rows). What IS enforced: [[delete]]'s bounded
  * over-delete guard (no group's live count may go negative), and
  * the composed fingerprint, which a survivors-only rebuild
  * reuse-checks — silent corruption is detectable, and
  * [[purge]] + rebuild is the repair.
  *
  * Reference grounding: immutable loaded artifacts serving every
  * request (directory/directory.go:230-240), applied to rollup state.
  */
object AggView extends SignedArtifact[ViewLayout] {

  /** A measure: `name` is the output column, `sqlExpr` a row-local
    * SQL expression over the fact columns (carried in the manifest —
    * part of the view identity). `kind` is the fold:
    *
    *  - `"sum"` (default) — the self-maintainable signed algebra:
    *    appends add, deletes retract, diff/compaction/purge all work;
    *  - `"min"` / `"max"` — APPEND-ONLY extrema: monotone under
    *    inserts (min of partial mins), NOT self-maintainable under
    *    deletes (a retracted extremum cannot be un-folded), so
    *    [[delete]], delete-bearing [[applyBatch]]es, and [[diff]]
    *    REFUSE on views declaring them — the [[ColStats]] contract
    *    applied to rollup measures. What lets the MV rewrite serve
    *    grouped `min(E)`/`max(E)` on append-only fact tables (most
    *    training-data pipelines) from the rollup.
    */
  final case class Measure(name: String, sqlExpr: String,
      kind: String = "sum")

  override protected def noun = "view"

  override protected def readDecl(r: IndexDirs.ManifestReader) = {
    val names = r.seq("mnames")
    // compat: manifests written before measure kinds existed carry
    // none — every measure was a sum
    val kinds = Some(r.seq("mkinds")).filter(_.size == names.size)
      .getOrElse(Seq.fill(names.size)("sum"))
    ViewLayout(r.seq("keys"), names, r.seq("mexprs"), r.int("kb"),
      r.intOr("lg", 0), kinds)
  }

  override protected def writeDecl(w: IndexDirs.ManifestWriter,
      d: ViewLayout) =
    w.put("keys", d.keys).put("mnames", d.mNames).put("mexprs", d.mExprs)
      .put("mkinds", d.kinds).put("kb", d.kbParts).put("lg", d.lg)

  // the ledger flag says whether a build wrote a ledger, not what the
  // view is
  override protected def sameDecl(a: ViewLayout, b: ViewLayout) =
    a.copy(lg = 0) == b.copy(lg = 0)

  override protected def fpOf(rows: DataFrame, d: ViewLayout) =
    fingerprint(rows, d)

  /** Per-kind fold of one measure's PARTIALS — the same expression
    * serves delta writes, live reads, compactions, and purges, so
    * the folds can never drift between paths.
    */
  private def foldMeasure(m: Measure): Column = m.kind match {
    case "min" => min(col(m.name)).as(m.name)
    case "max" => max(col(m.name)).as(m.name)
    case _ => sum(col(m.name)).as(m.name)
  }

  private def kbCol(keys: Seq[String], kbParts: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(kbParts)).cast("int")

  /** The view's dependency projection: keys + evaluated measure
    * expressions. Both the fingerprint and the grouped sums run over
    * this, so two fact tables that agree on every view-relevant value
    * ARE the same view (column order, unused columns, row order all
    * irrelevant).
    */
  private def projected(facts: DataFrame, d: ViewLayout): DataFrame =
    facts.select(d.keys.map(col) ++
      d.measures.map(m => expr(m.sqlExpr).as(m.name)): _*)

  private def fingerprint(facts: DataFrame, d: ViewLayout): (Long, Long) =
    IndexDirs.contentFingerprint(projected(facts, d),
      d.keys ++ d.mNames)

  /** Grouped signed partial sums of `facts` (per-kind folds for
    * min/max measures — only ever written with sign 1, the delete
    * paths refuse append-only measures), written kb-partitioned
    * (one file per bucket) under `root`.
    */
  override protected def stage(facts: DataFrame, sign: Int, mf: Mf,
      path: String, root: String): Long = {
    require(sign == 1 || !mf.decl.appendOnlyMeasures,
      "negated deltas are undefined for min/max measures")
    // deliberately NOT Par.widen'd: the grouped partial sum is one or
    // two sums per row (scan-bound), and this path also runs per
    // append on small deltas where an extra exchange is pure overhead
    projected(facts, mf.decl)
      .groupBy(mf.decl.keys.map(col): _*)
      .agg((count(lit(1)) * sign).as("__cnt"),
        mf.decl.measures.map { m =>
          if (m.kind == "sum") (sum(col(m.name)) * sign).as(m.name)
          else foldMeasure(m)
        }: _*)
      .withColumn("kb", kbCol(mf.decl.keys, mf.decl.kbParts))
      .repartition(col("kb"))
      .write.mode("overwrite").partitionBy("kb")
      .parquet(s"$root/agg")
    0L
  }

  /** Live aggregated groups: base ∪ committed deltas summed per
    * group, `__cnt ≤ 0` groups dropped. `parts` prunes every read to
    * the given kb partitions (the [[lookup]] path).
    */
  private def liveAgg(spark: SparkSession, path: String, mf: Mf,
      parts: Option[Seq[Int]] = None,
      where: Option[Column] = None): DataFrame = {
    mf.roots(path, "agg").map { r =>
        val df = spark.read.parquet(r)
        val pruned =
          parts.fold(df)(w => df.filter(col("kb").isin(w.map(Int.box): _*)))
        // a key-only predicate commutes with the per-group sum, so it
        // is applied PER ROOT (directly above each parquet scan) —
        // the scans carry it as a pushed data filter even when no
        // later optimizer pass re-runs pushdown over this subtree
        where.fold(pruned)(pruned.filter)
      }.reduce(_.unionByName(_))
      .groupBy(mf.decl.keys.map(col): _*)
      .agg(sum(col("__cnt")).as("__cnt"),
        mf.decl.measures.map(foldMeasure): _*)
      .filter(col("__cnt") > 0)
  }

  /** Build the view at `path` unless the manifest matches both the
    * declaration (keys, measures, bucketing) AND the fact corpus
    * fingerprint — on reuse nothing scans but the fingerprint
    * projection.
    *
    * When `facts` is a BARE parquet scan, the fingerprint pass runs
    * grouped by source file (same scan, ≤ |files| extra rows) and
    * the per-file partials persist as a `ledger` table beside the
    * view (the [[ZoneMap]] format-4 trick) — what lets the
    * materialized-view rewrite's registration seed its pin-refresh
    * partials SCAN-FREE, so even the FIRST refresh after an append
    * fingerprints only the appended files
    * ([[graft.plans.AggViewRewrite.register]]).
    */
  def buildIfAbsent(facts: DataFrame, keys: Seq[String],
      measures: Seq[Measure], path: String, kbParts: Int = 16): Build = {
    val want0 = declManifest(keys, measures, kbParts)
    // bare-scan facts: the one fingerprint pass also yields the
    // per-file ledger rows (xor/count compose, so the summed partials
    // ARE the corpus fingerprint — bit-identical to the ungrouped
    // pass, manifest-compatible either way)
    val (fp, n, ledgerRows) = Ledger.files(facts) match {
      case Some(files) =>
        val byFile = IndexDirs.contentFingerprintByFile(
          projected(facts, want0.decl), keys ++ want0.decl.mNames)
        Ledger.compose(files, byFile)
      case None =>
        val (fp, n) = fingerprint(facts, want0.decl)
        (fp, n, None)
    }
    finishBuild(facts, want0, path, fp, n, ledgerRows)
  }

  /** One dimension of a STAR build/registration: the dim table, the
    * equi-join key pairs as (fact column, dim column) names, and the
    * join type — `"inner"` (default) or `"left"` (fact LEFT OUTER
    * JOIN dim: every fact row kept, unmatched rows null-extend the
    * dim columns — the enrichment-join shape most 100 TB pipelines
    * actually use, since dropping facts with a missing dim row is
    * rarely acceptable).
    */
  final case class StarDim(df: DataFrame,
      keys: Seq[(String, String)], joinType: String = "inner") {
    require(joinType == "inner" || joinType == "left",
      s"star dim join type must be 'inner' or 'left', got $joinType")
  }

  /** [[buildIfAbsent]] for a STAR: the view over `fact ⋈ dims`
    * (equi-joins on each [[StarDim]]'s declared (fact column, dim
    * column) pairs — inner or left per dim, every dim broadcast),
    * with the build's fingerprint pass grouped by the FACT source
    * file — each joined row composes into the partial of the fact
    * file it expanded from ([[sourceFileKey]], tagged BEFORE the
    * joins) — and persisted as the view's ledger. What lets
    * [[graft.plans.AggViewRewrite.registerStar]] seed its pin-refresh
    * partials scan-free, so even a star view's FIRST refresh after a
    * fact append joins and fingerprints only the appended files
    * (the flat path's build-time-ledger property, line for line).
    * `fact` must be a bare parquet scan (the ledger is per fact
    * file); fact and dim column names must be disjoint (the join
    * and the refresh's replay of it resolve columns by name).
    */
  def buildStarIfAbsent(fact: DataFrame, dims: Seq[StarDim],
      keys: Seq[String], measures: Seq[Measure], path: String,
      kbParts: Int = 16): Build = {
    require(dims.nonEmpty,
      "buildStarIfAbsent needs at least one dim — use buildIfAbsent " +
        "for a single-table view")
    val want0 = declManifest(keys, measures, kbParts)
    val src = "__graft_src"
    require(!(keys ++ measures.map(_.name)).contains(src),
      s"the name $src is reserved for the build's fact-file tag")
    val joined = dims.foldLeft(fact.withColumn(src, sourceFileKey)) {
      case (acc, sd) =>
        require(sd.keys.nonEmpty,
          "each dim needs at least one join key pair")
        // lower-cased: the default resolver is case-insensitive
        val clash = acc.columns.map(_.toLowerCase).toSet
          .intersect(sd.df.columns.map(_.toLowerCase).toSet)
        require(clash.isEmpty,
          "fact and dim column names must be disjoint (the join " +
            s"resolves by name); colliding: ${clash.toSeq.sorted.mkString(",")}")
        val cond = sd.keys.map { case (fc, dc) =>
          acc(fc) === sd.df(dc) }.reduce(_ && _)
        acc.join(broadcast(sd.df), cond, sd.joinType)
    }
    val (fp, n, ledgerRows) = Ledger.files(fact) match {
      case Some(files) =>
        val proj = joined.select(col(src) +: (want0.decl.keys.map(col) ++
          want0.decl.measures.map(m => expr(m.sqlExpr).as(m.name))): _*)
        val byFile = IndexDirs.contentFingerprintByFile(proj,
          keys ++ want0.decl.mNames, col(src))
        Ledger.compose(files, byFile)
      case None =>
        val (fp, n) = fingerprint(joined, want0.decl)
        (fp, n, None)
    }
    finishBuild(joined, want0, path, fp, n, ledgerRows)
  }

  /** The declaration manifest, with the name/kind validation both
    * build entrances share.
    */
  private def declManifest(keys: Seq[String], measures: Seq[Measure],
      kbParts: Int): Mf = {
    val names = keys ++ measures.map(_.name) :+ "__cnt" :+ "kb"
    require(names.distinct.size == names.size,
      s"keys/measure names collide (or use the reserved __cnt/kb): " +
        names.mkString(", "))
    val badKinds = measures.map(_.kind).filterNot(
      Set("sum", "min", "max"))
    require(badKinds.isEmpty,
      s"unknown measure kind(s): ${badKinds.distinct.mkString(",")} " +
        "(supported: sum, min, max)")
    Artifact.Manifest(ViewLayout(keys, measures.map(_.name),
      measures.map(_.sqlExpr), kbParts, 0, measures.map(_.kind)), 0L, 0L)
  }

  /** The shared build tail: reuse check against the manifest, else
    * write the delta (and the ledger, when the fingerprint pass
    * produced one) and commit. `facts` may carry extra columns (a
    * star build's file tag) — [[stage]] projects to the view's
    * dependency columns.
    */
  private def finishBuild(facts: DataFrame, want0: Mf,
      path: String, fp: Long, n: Long,
      ledgerRows: Option[Seq[Ledger.Row]])
      : Build = {
    val want = want0.copy(fp = fp, n = n,
      decl = want0.decl.copy(lg = if (ledgerRows.isDefined) 1 else 0))
    buildOr(path, want) {
      ledgerRows.foreach(Ledger.write(facts.sparkSession, _, path))
      stage(facts, 1, want, path, path)
    }
  }

  /** The build-time per-file CONTENT-FINGERPRINT ledger: file key →
    * (length, mtime, fp partial, row count) under the view's own
    * dependency projection — one row per base file the build scanned,
    * computed in the build's fingerprint pass itself. What
    * [[graft.plans.AggViewRewrite.register]] seeds its pin-refresh
    * partials from (scan-free; entries whose (length, mtime) no
    * longer match the live listing are simply not adopted). None for
    * views built before the ledger existed or over non-bare facts
    * (a joined/derived build has no one-file-per-row provenance).
    */
  def fingerprintLedger(spark: SparkSession,
      path: String): Option[Map[String, (Long, Long, Long, Long)]] =
    Ledger.read(spark, path, live(path).decl.lg)

  /** The served view: one row per live group — keys, `cnt`, and the
    * measure sums.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val mf = live(path)
    liveAgg(spark, path, mf)
      .select(mf.decl.keys.map(col) ++ (col("__cnt").as("cnt") +:
        mf.decl.mNames.map(col)): _*)
  }

  /** [[read]] with an optional key-only predicate pushed to every
    * root scan and an optional kb-partition prune — the serve shape
    * the materialized-view rewrite ([[graft.plans.AggViewRewrite]])
    * emits: `where` must reference only key columns (it commutes
    * with the per-group sum; this is NOT checked here — the callers
    * own that invariant), `parts` are kb partition values (the
    * [[lookup]] prune, computed driver-side from key equalities).
    */
  def readFor(spark: SparkSession, path: String,
      where: Option[Column] = None,
      parts: Option[Seq[Int]] = None): DataFrame = {
    val mf = live(path)
    liveAgg(spark, path, mf, parts, where)
      .select(mf.decl.keys.map(col) ++ (col("__cnt").as("cnt") +:
        mf.decl.mNames.map(col)): _*)
  }

  /** The view's committed declaration + freshness pins — what a
    * query rewriter needs to decide whether a grouped aggregate can
    * be served from this artifact: the key columns, the measure
    * name/expression pairs, the kb bucketing, the manifest VERSION
    * the declaration was read at (any later maintenance commit is a
    * higher version — the rewriter's staleness pin), the live fact
    * count, the composed content FINGERPRINT of everything the view
    * absorbed (what [[factsFingerprint]] of a consistent fact table
    * reproduces — the rewriter's pin-REFRESH verification), and the
    * last applied CDC batch id (the watermark a fleet-maintained
    * base is coordinated against).
    */
  final case class Decl(keys: Seq[String], measures: Seq[Measure],
      kbParts: Int, version: Long, n: Long, fp: Long = 0L,
      lastBatch: Long = -1L)

  def declaration(path: String): Decl = {
    val mf = live(path)
    Decl(mf.decl.keys, mf.decl.measures, mf.decl.kbParts, mf.mv, mf.n, mf.fp,
      mf.lastBatch)
  }

  /** The content fingerprint of `facts` PROJECTED THROUGH the view's
    * own dependency projection (keys + evaluated measures — column
    * order, unused columns, row order all irrelevant): equal to the
    * view manifest's composed `fp` iff the view is exactly the rollup
    * of `facts`. The EXACT consistency verification a pin refresh
    * ([[graft.plans.PinnedBridge.verifyDelta]]) composes per file
    * ([[factsFingerprintByFile]]) before re-trusting a registration;
    * whole, it is one projected scan of the facts, the same pass
    * [[buildIfAbsent]]'s reuse check already prices.
    */
  def factsFingerprint(facts: DataFrame, path: String): (Long, Long) = {
    val mf = live(path)
    fingerprint(facts, mf.decl)
  }

  /** [[factsFingerprint]] grouped per source FILE
    * ([[IndexDirs.contentFingerprintByFile]] under the view's own
    * dependency projection) — the per-file partials a pin refresh
    * stores so later refreshes fingerprint only NEW files and
    * compose the rest (O(delta)). `facts` must be a bare file scan
    * (possibly of a file subset — the delta path reads just the new
    * files).
    */
  def factsFingerprintByFile(facts: DataFrame,
      path: String): Map[String, (Long, Long)] = {
    val mf = live(path)
    IndexDirs.contentFingerprintByFile(projected(facts, mf.decl),
      mf.decl.keys ++ mf.decl.mNames)
  }

  /** The scheme-free source-file key of the CURRENT scan's file —
    * what a STAR delta tags its fact side with BEFORE joining the
    * dims: `input_file_name()` is single-source-only, so it must be
    * evaluated in a projection sitting directly over the fact scan,
    * not above the joins.
    */
  def sourceFileKey: Column = ZoneMap.fileKey(input_file_name())

  /** [[factsFingerprintByFile]] for JOINED (star) deltas: `facts`
    * carries the fact-side source-file key precomputed in `srcCol`
    * ([[sourceFileKey]], tagged pre-join), and the partials group by
    * it — each joined row composes into the fingerprint partial of
    * the FACT file it expanded from, so fact-file partials stay the
    * verification unit even though the projected values mix in dim
    * columns.
    */
  def factsFingerprintByFileTagged(facts: DataFrame, path: String,
      srcCol: String): Map[String, (Long, Long)] = {
    val mf = live(path)
    val proj = facts.select(col(srcCol) +: (mf.decl.keys.map(col) ++
      mf.decl.measures.map(m => expr(m.sqlExpr).as(m.name))): _*)
    IndexDirs.contentFingerprintByFile(proj, mf.decl.keys ++ mf.decl.mNames,
      col(srcCol))
  }

  /** Per-kb-partition ZONES of the view's KEY values, computed from
    * the live folded groups: (kb, col_name, kind, n_groups, n_nulls,
    * min_num, max_num, min_str, max_str) — ≤ kbParts·|keys| rows.
    * Integral keys zone numerically; string keys in UTF-8 byte order
    * ([[graft.functions.StrExtremaAgg]]); other key types get no
    * zone rows (consumers stay conservative). What lets a consumer
    * prune kb PARTITIONS for predicates hash bucketing cannot
    * enumerate — LIKE-prefix and unbounded ranges
    * ([[graft.plans.AggViewRewrite]]'s zone prune, via the shared
    * [[ZoneTests]]). EXACT for the artifact's current committed
    * version: the consumer recomputes at every (re-)pin and only
    * serves while the pin is fresh, so zones and the served version
    * can never diverge — no second artifact, no staleness algebra.
    * One rollup-size distributed aggregate (the view's own serve
    * ceiling); the collect is ≤ kbParts·|keys| rows.
    */
  def keyZones(spark: SparkSession, path: String): DataFrame = {
    val mf = live(path)
    val groups = liveAgg(spark, path, mf)
    val byName = groups.schema.fields.map(f => f.name -> f.dataType).toMap
    val pieces = mf.decl.keys.flatMap { k =>
      byName(k) match {
        case LongType | IntegerType | ShortType | ByteType =>
          Some(struct(lit(k).as("col_name"), lit("num").as("kind"),
            col(k).cast("long").as("vnum"),
            lit(null).cast("string").as("vstr")))
        case DateType =>
          // days-since-epoch — the same long the consumer's zone test
          // converts a date filter value to ([[ZoneTests]]), so
          // time-keyed rollups (the common dashboard shape) range-
          // and prefix-prune exactly like integral keys
          Some(struct(lit(k).as("col_name"), lit("num").as("kind"),
            unix_date(col(k)).cast("long").as("vnum"),
            lit(null).cast("string").as("vstr")))
        case StringType =>
          Some(struct(lit(k).as("col_name"), lit("str").as("kind"),
            lit(null).cast("long").as("vnum"), col(k).as("vstr")))
        case _ => None
      }
    }
    val base = groups.withColumn("kb", kbCol(mf.decl.keys, mf.decl.kbParts))
    if (pieces.isEmpty)
      // no zonable key: a correctly-shaped empty result
      return base.limit(0).select(col("kb"),
        lit("").as("col_name"), lit("").as("kind"),
        lit(0L).as("n_groups"), lit(0L).as("n_nulls"),
        lit(null).cast("long").as("min_num"),
        lit(null).cast("long").as("max_num"),
        lit(null).cast("string").as("min_str"),
        lit(null).cast("string").as("max_str"))
    base.select(col("kb"), explode(array(pieces: _*)).as("e"))
      .select(col("kb"), col("e.*"))
      .groupBy("kb", "col_name", "kind")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("vnum").isNull && col("vstr").isNull, 1L)
          .otherwise(0L)).as("n_nulls"),
        min("vnum").as("min_num"), max("vnum").as("max_num"),
        str_min(col("vstr")).as("min_str"),
        str_max(col("vstr")).as("max_str"))
  }

  /** Committed manifest versions of the view, ascending — the valid
    * arguments to [[readAsOf]].
    */
  def versions(path: String): Seq[Long] =
    IndexDirs.listManifestVersions(path)

  /** [[declaration]] as of a RETAINED manifest `version` — what a
    * consumer verifying the view's commit CHAIN reads (each commit's
    * fp/lastBatch pair tells a pure-maintenance commit apart from a
    * batch apply apart from an out-of-band mutation; see
    * [[graft.plans.AggViewRewrite.refreshPins]]). None when the
    * version is no longer retained.
    */
  def declarationAt(path: String, version: Long): Option[Decl] =
    IndexDirs.readManifestAt(path, version).map(toManifest).map(mf =>
      Decl(mf.decl.keys, mf.decl.measures, mf.decl.kbParts, mf.mv, mf.n,
        mf.fp, mf.lastBatch))

  /** Manifest-declared key columns, in declaration order — the
    * routing metadata the SQL serve surface
    * ([[graft.sources.AggViewSource]]) uses to recognize a
    * key-complete predicate and route it through [[lookup]]'s
    * kb-pruned path.
    */
  def keys(path: String): Seq[String] =
    live(path).decl.keys

  /** TIME-TRAVEL serve: the view exactly as it stood at a retained
    * manifest `version` — every commit ([[buildIfAbsent]],
    * [[append]], [[delete]], [[applyBatch]]) is a new version, and
    * the last [[IndexDirs.ManifestRetain]] stay readable, so a
    * dashboard can pin "the rollup as of batch N" or diff two
    * versions without any extra storage (the versions share their
    * base and delta files).
    *
    * The window closes when a later [[compactDeltas]]/[[purge]]
    * garbage-collects files the old version lists — then this throws
    * with the files named, never serving a silently-wrong view (the
    * [[MergeOnRead]] time-travel/vacuum contract).
    */
  def readAsOf(spark: SparkSession, path: String,
      version: Long): DataFrame = {
    val mf = retained(path, version, "agg")
    liveAgg(spark, path, mf)
      .select(mf.decl.keys.map(col) ++ (col("__cnt").as("cnt") +:
        mf.decl.mNames.map(col)): _*)
  }

  /** VERSION DIFF, O(files-between-versions): per-group net change
    * between two retained manifest versions — `cnt` and every
    * measure as SIGNED deltas, groups with an all-zero net change
    * dropped. "What did batch N do to the rollup" for a monitoring
    * pipeline, priced at the BATCH, not the view: because versions
    * share their base/delta files and the measures are sum-algebra,
    * the common files cancel exactly, so the plan unions only the
    * SYMMETRIC DIFFERENCE of the two versions' file sets — for
    * adjacent versions, precisely the one delta directory that
    * commit staged (a later version's files enter negated when
    * diffing backwards, so `diff(b, a)` is `-diff(a, b)` for free).
    *
    * Both versions must carry the same view declaration (a rebuild
    * between them is a different view — refused), and the window
    * closes like [[readAsOf]]'s when a compaction/purge has GC'd a
    * differing file.
    */
  def diff(spark: SparkSession, path: String, vFrom: Long,
      vTo: Long): DataFrame = {
    def at(v: Long): Mf =
      IndexDirs.readManifestAt(path, v).map(toManifest)
        .getOrElse(throw new IllegalStateException(
          s"no manifest version $v at $path — retained: " +
            versions(path).mkString("[", ", ", "]")))
    val (a, b) = (at(vFrom), at(vTo))
    require(a.decl.copy(lg = 0) == b.decl.copy(lg = 0),
      s"versions $vFrom and $vTo of $path carry different view " +
        "declarations (a rebuild happened between them) — their " +
        "diff is not a delta of one view")
    require(!b.decl.appendOnlyMeasures,
      "version diff needs SIGNED (sum-algebra) measures — min/max " +
        "measures have no negation, so per-group net change is not " +
        "defined for this view")
    def roots(mf: Mf): Set[String] =
      (s"${mf.baseOf("agg")}" +: mf.deltas.map(d => s"deltas/$d/agg")).toSet
    val pos = roots(b) -- roots(a) // files vTo adds
    val neg = roots(a) -- roots(b) // files vTo no longer reads
    val f = IndexDirs.fs(path)
    val gone = (pos ++ neg).filterNot(sub =>
      f.exists(new org.apache.hadoop.fs.Path(path, sub)))
    require(gone.isEmpty,
      s"diff $vFrom..$vTo of $path needs " +
        gone.mkString("[", ", ", "]") + ", garbage-collected by a " +
        "later compaction/purge — this diff's time-travel window " +
        "has closed")
    val mNames = b.decl.mNames
    def signed(subs: Set[String], sign: Int): Seq[DataFrame] =
      subs.toSeq.sorted.map { sub =>
        val df = spark.read.parquet(s"$path/$sub")
        df.select(b.decl.keys.map(col) ++
          ((col("__cnt") * sign).as("__cnt") +:
            mNames.map(n => (col(n) * sign).as(n))): _*)
      }
    val parts = signed(pos, 1) ++ signed(neg, -1)
    if (parts.isEmpty) // identical file sets ⇒ empty diff, same shape
      return liveAgg(spark, path, b).limit(0)
        .select(b.decl.keys.map(col) ++ (col("__cnt").as("cnt_delta") +:
          mNames.map(n => col(n).as(s"${n}_delta"))): _*)
    val nonZero = ((col("__cnt") =!= 0) +:
      mNames.map(n => col(n) =!= 0)).reduce(_ || _)
    parts.reduce(_.unionByName(_))
      .groupBy(b.decl.keys.map(col): _*)
      .agg(sum(col("__cnt")).as("__cnt"),
        mNames.map(n => sum(col(n)).as(n)): _*)
      .filter(nonZero)
      .select(b.decl.keys.map(col) ++ (col("__cnt").as("cnt_delta") +:
        mNames.map(n => col(n).as(s"${n}_delta"))): _*)
  }

  /** Point/probe serve: groups matching `probeKeys` (a DataFrame of
    * key columns), with every table read PRUNED to the probe's kb
    * partitions (one bounded ≤ kbParts-int collect over the probe)
    * and the probe side broadcast — a dashboard filter reads its
    * buckets of the view, never the whole rollup.
    */
  def lookup(spark: SparkSession, path: String,
      probeKeys: DataFrame): DataFrame = {
    val mf = live(path)
    val probe = probeKeys.select(mf.decl.keys.map(col): _*).distinct()
      .localCheckpoint(false)
    val parts = probe.select(kbCol(mf.decl.keys, mf.decl.kbParts).as("kb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    liveAgg(spark, path, mf, Some(parts))
      .join(broadcast(probe), mf.decl.keys)
      .select(mf.decl.keys.map(col) ++ (col("__cnt").as("cnt") +:
        mf.decl.mNames.map(col)): _*)
  }

  /** MULTI-WRITER: sum algebra commutes, so N uncoordinated
    * appenders are fully supported — each stages its own claimed
    * delta dir, and a lost manifest race just re-reads and re-commits;
    * no append is ever lost or double-counted, in any interleaving.
    * Inserts need no disjointness guard — the same fact appearing
    * twice is two facts, which is exactly what a sum view counts. The
    * delete paths refuse views with min/max measures.
    */
  override protected def refuseDelete(mf: Mf, path: String): Unit =
    require(!mf.decl.appendOnlyMeasures,
      s"the view at $path declares min/max measures — APPEND-ONLY " +
        "extrema are not self-maintainable under deletes (a " +
        "retracted extremum cannot be un-folded); rebuild the view " +
        "over the surviving facts instead")

  /** Retract facts: the same rows count-negated. `checkBounded`
    * (default on) verifies no group would go negative — the delta's
    * per-group counts against the live view, with every read pruned
    * to the delta's own kb buckets (O(delta groups), never the whole
    * view). Row-level verification is the CDC feed's contract (see
    * the class doc); this guard catches the gross feed bug — deleting
    * facts a group never held.
    */
  def delete(delta: DataFrame, path: String,
      checkBounded: Boolean = true): Build =
    remove(delta, path) { (decl, _) =>
      val dg =
        if (!checkBounded) null
        else projected(delta, decl.decl)
          .groupBy(decl.decl.keys.map(col): _*)
          .agg(count(lit(1)).as("__dcnt"))
          .localCheckpoint(false)
      lazy val parts = dg
        .select(kbCol(decl.decl.keys, decl.decl.kbParts).as("kb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      have => if (checkBounded) {
        // groups the delta names that either don't exist live or hold
        // fewer rows than the delta retracts — counted via an INNER
        // broadcast join (an outer join can't broadcast its preserved
        // side): violations = delta groups − sufficiently-full matches
        val within = liveAgg(delta.sparkSession, path, have, Some(parts))
          .join(broadcast(dg), have.decl.keys)
          .filter(col("__cnt") >= col("__dcnt"))
          .count()
        val over = dg.count() - within
        require(over == 0,
          s"delete delta retracts more rows than $over group(s) hold " +
            s"in the view at $path — the feed is deleting facts the " +
            "view never absorbed (pass checkBounded = false only when " +
            "upstream proves containment)")
      }
    }

  /** Fold the delta stream into one directory — per-group sums across
    * the delta dirs only, all-zero rows dropped, NEGATIVE partials
    * kept (they must go on cancelling base rows until a [[purge]]).
    */
  override protected def fold(spark: SparkSession, path: String, mf: Mf,
      folded: Seq[String], root: String): Unit = {
    // all-zero-row drop applies to the SIGNED (sum) columns only —
    // an append-only min/max group always keeps a positive __cnt
    val nonZero = ((col("__cnt") =!= 0) +:
      mf.decl.measures.filter(_.kind == "sum")
        .map(m => col(m.name) =!= 0)).reduce(_ || _)
    folded.map(d => spark.read.parquet(s"$path/deltas/$d/agg"))
      .reduce(_.unionByName(_))
      .groupBy(mf.decl.keys.map(col): _*)
      .agg(sum(col("__cnt")).as("__cnt"),
        mf.decl.measures.map(foldMeasure): _*)
      .filter(nonZero)
      .withColumn("kb", kbCol(mf.decl.keys, mf.decl.kbParts))
      .repartition(col("kb"))
      .write.mode("overwrite").partitionBy("kb").parquet(s"$root/agg")
  }

  override protected def baseSubs(mf: Mf) = Seq("agg")

  /** [[purge]]'s survivors-only rewrite — after it, retracted facts
    * leave no trace (their groups hold the surviving sums,
    * fully-retracted groups are gone). Returns the live group count.
    */
  override protected def rewrite(spark: SparkSession, path: String,
      mf: Mf, ver: Int): Long = {
    liveAgg(spark, path, mf)
      .withColumn("kb", kbCol(mf.decl.keys, mf.decl.kbParts))
      .repartition(col("kb"))
      .write.mode("overwrite").partitionBy("kb")
      .parquet(s"$path/agg.v$ver")
    spark.read.parquet(s"$path/agg.v$ver").count()
  }

  override protected def idlePurge(spark: SparkSession, path: String,
      mf: Mf): Long = liveAgg(spark, path, mf).count()
}

/** [[AggView]]'s declaration: keys, measures, bucketing, and whether
  * the build wrote a per-file ledger (`lg`).
  */
private[operators] final case class ViewLayout(keys: Seq[String],
    mNames: Seq[String], mExprs: Seq[String], kbParts: Int, lg: Int,
    kinds: Seq[String]) {
  def measures: Seq[AggView.Measure] =
    mNames.lazyZip(mExprs).lazyZip(kinds).map(AggView.Measure.apply)
  def appendOnlyMeasures: Boolean = kinds.exists(_ != "sum")
}
