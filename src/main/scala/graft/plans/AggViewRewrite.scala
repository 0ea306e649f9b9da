package graft.plans

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner => InnerJoinType, JoinType, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join => LJoin, JoinHint, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.{Rule => CatalystRule}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, IntegerType, LongType, ShortType}

import graft.operators.{AggView, MergeOnRead}
import graft.sources.MorRelation

/** MATERIALIZED-VIEW QUERY REWRITE over the persisted [[AggView]]
  * artifact: an optimizer rule that recognizes a grouped SUM/COUNT
  * aggregate on the FACT table and transparently serves it from the
  * registered view — the query keeps scanning "the table" as far as
  * the user is concerned, while the plan reads the ≤ |groups|-row
  * rollup instead of the 100 TB corpus. The classic
  * answering-queries-using-views shape (Goldstein & Larson,
  * SIGMOD'01), restricted to the SUM-algebra views [[AggView]] can
  * maintain incrementally.
  *
  * Two base-table kinds register:
  *
  *  - a bare parquet [[HadoopFsRelation]] scan, pinned by its FILE
  *    LISTING signature (any append/compaction/overwrite of the fact
  *    directory disables the rewrite);
  *  - a live [[MergeOnRead]] CDC table read through the `mor` SQL
  *    source ([[MorRelation]]), pinned by the table's OBSERVABLE
  *    STATE ([[MergeOnRead.state]]: manifest version + unfolded
  *    committed batch ids) — cheaper and exacter than a listing fold,
  *    and the natural base for an ALWAYS-FRESH view: one CDC fleet
  *    maintains table and view from the same micro-batch feed, and
  *    [[refreshPins]] re-pins after each batch.
  *
  * A rewrite fires only when ALL of the following hold — anything
  * else falls through to the base scan, never to a wrong answer:
  *
  *  - the aggregate's child is the registered base relation, under at
  *    most column-pruning projections and deterministic filters;
  *  - the base pin still matches (listing signature / MOR state), and
  *    the view's manifest VERSION still equals the registered pin —
  *    any maintenance commit on either side disables the rewrite
  *    until [[refreshPins]] VERIFIES consistency and re-pins, or the
  *    caller re-registers (the two pins together are the coherence
  *    contract: base and view were observed consistent at register
  *    time, and neither has moved since);
  *  - every filter references only view KEY columns (key predicates
  *    commute with the per-group sums); when the filters pin EVERY
  *    key to a bounded value set (≤ 256 combinations) — an equality
  *    literal, an IN-list, or a bounded RANGE over an integral or
  *    DATE key (`BETWEEN` / `>=`+`<=` conjuncts, enumerated — a date
  *    range enumerates day-by-day) — the rewrite
  *    additionally computes the key-hash buckets driver-side and
  *    emits the kb-partition-pruned read — the q209 dashboard-probe
  *    plan from plain SQL over the base table;
  *  - every grouping expression is a key column, and every aggregate
  *    is `count(*)` (→ `sum(cnt)`, coalesced to 0 for the global
  *    empty case) or `sum(E)` where E is one of the view's declared
  *    measure expressions (matched on the optimizer-normalized
  *    canonical form, so literal folding / implicit casts don't
  *    break the match). `count(E)` and double-typed `avg(E)`
  *    additionally rewrite when the view declares E's NULL COUNTER
  *    as a measure (`CASE WHEN E IS NULL THEN 0 ELSE 1 END`):
  *    count(E) = its sum, avg(E) = sum-measure / counter with the
  *    divisor NULL'd at 0 (all-null group ⇒ null, ANSI-safe).
  *    Otherwise `avg`/`count(col)`, and always DISTINCT/FILTER'd
  *    aggregates, refuse: their null/distinct semantics are not
  *    derivable from a plain (sum, count) rollup.
  *
  * ANSI divergence (documented, not defended): under
  * `spark.sql.ansi.enabled`, a direct `sum(BIGINT)` raises on 64-bit
  * overflow, while the rewritten plan sums the view's partial sums —
  * if the partials were built under non-ANSI and wrapped, the rewrite
  * returns the wrapped value where the direct plan would have raised.
  * The divergence is reachable only on inputs whose direct sum
  * OVERFLOWS (where the un-rewritten query errors rather than
  * answers); a view built under ANSI would itself have raised at
  * build. Callers who need error-for-error parity on overflowing
  * sums should not register sum measures over columns that can
  * overflow.
  *
  * Group-by on a SUBSET of the view keys re-aggregates the rollup
  * (sum of partial sums — the sum algebra that makes the view
  * self-maintainable also makes it roll up), so one registered view
  * serves the whole cube below its key set.
  *
  * STAR views ([[registerStar]]): a view declared over
  * `fact ⋈ dim1 ⋈ … ⋈ dimN` (inner equi-joins on declared key
  * pairs) rewrites grouped aggregates over that JOIN subtree — the
  * plan skips the corpus scan AND the joins. Maintenance stays
  * fact-side IVM (append the joined delta); dims are pinned
  * immutable, and the fact pin's O(delta) verification fingerprints
  * the joined rows of only the new fact files (grouped by the fact
  * file they expanded from). The optimizer's inferred
  * `isnotnull(join key)` filters are dropped as tautological over
  * the view's joined rows; all other filters obey the key-only rule.
  *
  * Planning cost: the freshness probes (one listing fold per file
  * index, one manifest read per artifact, one state read per MOR
  * table) are MEMOIZED per optimizer-rule application — a query with
  * many aggregates over the same relation pays each probe once per
  * optimization pass, never per node. (Per pass, not across queries:
  * the pins guard result-exactness and must be re-checked within
  * every plan's own optimization.)
  *
  * Wiring: [[GraftExtensions]] injects the rule at session-creation
  * time; [[AggViewRewrite.install]] adds it to a live session's
  * `experimental.extraOptimizations`. Registration is process-local
  * ([[register]]/[[unregister]]) — for a one-shot scoped rewrite
  * (e.g. a benchmarked query that must not affect later plans), use
  * [[rewritten]], which registers, forces optimization, and
  * unregisters.
  */
object AggViewRewrite extends PinnedBridge("view_path")
    with PredicateHelper with Logging {
  import RelationPins.{BasePin, FsId, FsPin, MorId, MorPin, Refresh}

  /** One broadcast DIMENSION of a STAR registration: the dim table's
    * root paths, its file-listing pin, and the declared equi-join
    * key pairs (fact column name, dim column name). A dim is
    * IMMUTABLE under the registration — any listing change refuses
    * the pin until re-registration (the view absorbed joined rows;
    * a changed dim invalidates every one of them, so there is no
    * incremental repair).
    *
    * `joinType` is `"inner"` or `"left"` ([[AggView.StarDim]]): a
    * LEFT dim null-extends unmatched fact rows instead of dropping
    * them — the enrichment-join shape.
    *
    * `neutral`: the dim's join was PROVEN multiplicity-neutral at
    * registration ([[registerStar]]'s `proveDims`) — its key tuple
    * is unique in the dim and (inner dims only) every fact row
    * matches, so joining it neither drops nor duplicates fact rows;
    * a LEFT dim with a unique key is row-preserving by
    * CONSTRUCTION, so its proof needs no coverage and can never be
    * invalidated by a fact append. What licenses PARTIAL-star
    * matching: a query joining only SOME of the declared dims still
    * serves from the view when every dim it leaves out is neutral
    * (the left-out joins are row-preserving, so aggregates over the
    * remaining columns are identical). Inner dims are demoted to
    * `false` — with full-star serving kept — if a refresh's fact
    * delta breaks coverage (see [[refreshPins]]).
    */
  final case class DimEntry(roots: Set[String], listingSig: Long,
      joinKeys: Seq[(String, String)], neutral: Boolean = false,
      joinType: String = "inner")

  /** A registered view: the artifact path, the base pin, and the
    * view-manifest-version pin (with the declaration read at that
    * version). `zones` (opt-in at [[register]]) holds the per-kb key
    * zones of the PINNED view version (key name → kb → zone),
    * recomputed at every (re-)pin — since rewrites only fire while
    * the pin is fresh, the zones are EXACT for whatever is served.
    * `dims` non-empty marks a STAR registration ([[registerStar]]):
    * the view rolls up `fact ⋈ dims`, and the rewrite matches the
    * JOIN subtree instead of a bare relation.
    */
  final case class Entry(viewPath: String, pin: BasePin,
      version: Long, decl: AggView.Decl,
      zones: Option[Map[String, Map[Int, graft.operators.ZoneTests.Zone]]] = None,
      dims: Seq[DimEntry] = Nil)

  type Registered = Entry
  type Declared = AggView.Decl
  protected def keyOf(e: Entry): String = e.viewPath
  protected def declared(path: String): AggView.Decl = AggView.declaration(path)
  protected def ruleFor(spark: SparkSession): Rule = Rule(spark)

  /** Pin `viewPath` as the rollup of `base` AS CURRENTLY OBSERVED.
    * `base` must be a bare single-relation scan — a parquet
    * [[HadoopFsRelation]] or a LIVE `mor`-source [[MorRelation]] (the
    * same DataFrame the view was built/synced from); the caller owns
    * the assertion that the view IS that table's rollup — typically
    * by registering right after [[AggView.buildIfAbsent]] (whose
    * fingerprint check proved exactly that) or after a CDC batch
    * that applied the same changes to both. Thereafter
    * [[refreshPins]] re-verifies and re-pins as both sides move.
    */
  /** `keyZones` (opt-in): also compute the pinned version's per-kb
    * KEY ZONES ([[AggView.keyZones]] — one rollup-size aggregate, the
    * view's own serve ceiling), which lets the rewrite prune kb
    * partitions for key predicates hash bucketing cannot enumerate:
    * LIKE-prefixes and unbounded/non-integral ranges. Zones are
    * recomputed at every successful [[refreshPins]] re-pin, so they
    * always describe exactly the version being served.
    */
  def register(spark: SparkSession, base: DataFrame,
      viewPath: String, keyZones: Boolean = false): Entry = {
    val (_, id) = RelationPins.baseOf(GraftBridge.analyzedPlan(base))
      .getOrElse(throw new IllegalArgumentException(
        "register expects a bare single-relation scan (a parquet " +
          "file-source or a live mor-source read of the fact table " +
          "the view rolls up); got:\n" +
          GraftBridge.analyzedPlan(base).treeString))
    id match {
      case FsId(h) => RelationPins.requireOneRoot(h)
      case _ => ()
    }
    val decl = AggView.declaration(viewPath)
    val resolver = SQLConf.get.resolver
    // resolver-matched, not exact-string: vAttr resolves the served
    // count column case-insensitively under the default resolver, so
    // a key named 'CNT' collides exactly like 'cnt' would
    require(!(decl.keys ++ decl.measures.map(_.name))
        .exists(n => resolver(n, "cnt")),
      "view key/measure named 'cnt' (any case the session resolver " +
        "matches) would collide with the served count column — not " +
        "rewritable")
    put(Entry(viewPath, pinOf(spark, id, viewPath), decl.version,
      decl, zonesOf(spark, viewPath, keyZones)))
  }

  /** Pin `viewPath` as the rollup of a STAR — `fact ⋈ dims` on the
    * declared equi-key pairs, every dim broadcast-small and INNER
    * joined — as currently observed. The view must have been built
    * over exactly that join ([[AggView.buildIfAbsent]] of
    * `fact.join(dim1, …).join(dim2, …)`), with keys and measures
    * over the JOINED columns; at 100 TB this is the shape that
    * matters — the expensive aggregates are over fact⋈dim joins, and
    * serving them from the rollup skips both the corpus scan and the
    * joins. Maintenance is fact-side IVM: append the JOINED delta
    * (`factDelta.join(dims…)`) via [[AggView.append]]; the dims are
    * pinned IMMUTABLE (a dim change refuses until re-registration).
    *
    * `dims` declares each dimension ([[AggView.StarDim]]: a bare
    * parquet scan, its join keys as (fact column, dim column) names,
    * and `"inner"` or `"left"`). Restrictions (refused with
    * guidance): the fact must be a bare parquet scan —
    * hive-partitioned is supported under a SINGLE root (refresh
    * delta scans resolve partition columns via basePath, the
    * [[register]] contract) — no dim may share the fact's roots
    * (self-joins unsupported), and fact/dim column names must not
    * collide (the refresh join resolves columns by name).
    *
    * `proveDims` (opt-in): prove each dim MULTIPLICITY-NEUTRAL over
    * the current fact — its join-key tuple is unique in the dim (one
    * dim-scale aggregate each) and, for INNER dims, every fact row
    * finds a match (ONE pass over the fact's join-key columns with
    * the inner dims broadcast, the column-pruned scan the register
    * already prices against the build) — refusing loudly if either
    * fails. A LEFT dim with a unique key is row-preserving by
    * construction, so its proof is uniqueness alone and holds for
    * every future fact append. Proven-neutral dims license
    * PARTIAL-star matching: a query joining only some of the
    * declared dims (or none — a flat fact aggregate) still serves
    * from the view, because the left-out joins neither drop nor
    * duplicate fact rows. Each refresh re-verifies inner-dim
    * coverage on the fact DELTA (uniqueness holds by dim
    * immutability) and DEMOTES the inner flags — full-star serving
    * intact — if an appended fact row has no match (see
    * [[refreshPins]]).
    */
  def registerStar(spark: SparkSession, fact: DataFrame,
      dims: Seq[AggView.StarDim], viewPath: String,
      keyZones: Boolean = false, proveDims: Boolean = false): Entry = {
    require(dims.nonEmpty, "registerStar needs at least one dim — " +
      "use register for a single-table view")
    val factRel = RelationPins.bare(GraftBridge.analyzedPlan(fact))
      .map(_._2).getOrElse(throw new IllegalArgumentException(
        "registerStar expects the fact to be a bare parquet scan; got:\n" +
          GraftBridge.analyzedPlan(fact).treeString))
    val factRoots = RelationPins.rootPaths(factRel)
    if (factRel.partitionSchema.nonEmpty)
      require(factRoots.size == 1,
        "a partitioned star fact registers under a SINGLE root path " +
          "(refresh delta scans resolve partition columns via " +
          "basePath); read the table through its one root directory")
    // lower-cased: the default session resolver is case-insensitive,
    // so 'Brand' vs 'brand' is a collision for by-name resolution
    var seenCols = fact.columns.map(_.toLowerCase).toSet
    val dimEntries = dims.map { sd =>
      require(sd.keys.nonEmpty,
        "each dim needs at least one join key pair")
      val dimRel = RelationPins.bare(GraftBridge.analyzedPlan(sd.df))
        .map(_._2).getOrElse(throw new IllegalArgumentException(
          "registerStar expects each dim to be a bare parquet scan; got:\n" +
            GraftBridge.analyzedPlan(sd.df).treeString))
      val roots = RelationPins.rootPaths(dimRel)
      require(roots != factRoots,
        "a dim sharing the fact's root paths is a self-join — " +
          "unsupported")
      val clash = seenCols
        .intersect(sd.df.columns.map(_.toLowerCase).toSet)
      require(clash.isEmpty,
        "fact and dim column names must be disjoint (the refresh " +
          "join resolves columns by name); colliding: " +
          clash.toSeq.sorted.mkString(","))
      seenCols ++= sd.df.columns.map(_.toLowerCase)
      DimEntry(roots, RelationPins.signature(dimRel), sd.keys,
        neutral = proveDims, joinType = sd.joinType)
    }
    if (proveDims) proveNeutral(fact, dims)
    val decl = AggView.declaration(viewPath)
    val resolver = SQLConf.get.resolver
    require(!(decl.keys ++ decl.measures.map(_.name))
        .exists(n => resolver(n, "cnt")),
      "view key/measure named 'cnt' (any case the session resolver " +
        "matches) would collide with the served count column — not " +
        "rewritable")
    put(Entry(viewPath, pinOf(spark, FsId(factRel), viewPath),
      decl.version, decl, zonesOf(spark, viewPath, keyZones),
      dimEntries))
  }

  /** The `proveDims` proof obligations, refused loudly on failure:
    * per-dim join-key uniqueness (a duplicate key would FAN OUT fact
    * rows), then — for the INNER dims only — one fact pass marking,
    * per dim, which rows found a match (a miss means the inner join
    * DROPS that row). Null fact join keys fail inner coverage too —
    * an inner join drops them exactly like a missing dim row. LEFT
    * dims keep every fact row regardless, so uniqueness is their
    * whole proof.
    */
  private def proveNeutral(fact: DataFrame,
      dims: Seq[AggView.StarDim]): Unit = {
    import org.apache.spark.sql.functions.{broadcast => fBroadcast, col => fCol, count => fCount, lit => fLit}
    dims.foreach { sd =>
      val dup = sd.df
        .groupBy(sd.keys.map { case (_, dc) => sd.df(dc) }: _*)
        .count().filter(fCol("count") > 1).limit(1).count()
      require(dup == 0L,
        "proveDims: dim join key (" + sd.keys.map(_._2).mkString(",") +
          ") is not unique — the join can duplicate fact rows, so it " +
          "is not multiplicity-neutral; deduplicate the dim or " +
          "register without proveDims")
    }
    val inner = dims.filter(_.joinType == "inner")
    if (inner.isEmpty) return
    val factKeyCols = inner.flatMap(_.keys.map(_._1)).distinct
    val markers = inner.indices.map(i => s"__graft_m$i")
    val probed = inner.zipWithIndex
      .foldLeft(fact.select(factKeyCols.map(fCol): _*)) {
        case (acc, (sd, i)) =>
          val dimKeys = sd.df
            .select(sd.keys.map { case (_, dc) => sd.df(dc) }: _*)
            .withColumn(markers(i), fLit(1))
          val cond = sd.keys.map { case (fc, dc) =>
            acc(fc) === dimKeys(dc) }.reduce(_ && _)
          acc.join(fBroadcast(dimKeys), cond, "left")
      }
    val row = probed.agg(fCount(fLit(1)).as("__n"),
      markers.map(m => fCount(fCol(m)).as(m)): _*).collect().head
    val total = row.getLong(0)
    inner.indices.foreach { i =>
      val hit = row.getLong(i + 1)
      require(hit == total,
        "proveDims: dim on (" + inner(i).keys.map(_._2).mkString(",") +
          s") does not cover every fact row (${total - hit} of " +
          s"$total fact rows have no match) — the inner join drops " +
          "them, so it is not multiplicity-neutral; complete the " +
          "dim or register without proveDims")
    }
  }

  /** The pinned per-kb key zones (key name → kb → zone), or None
    * when disabled. Read AFTER the declaration: a commit landing in
    * between leaves the pin stale (no rewrite fires), never zones
    * that disagree with a served version.
    */
  private def zonesOf(spark: SparkSession, viewPath: String,
      enabled: Boolean)
      : Option[Map[String, Map[Int, graft.operators.ZoneTests.Zone]]] =
    if (!enabled) None
    else Some(
      AggView.keyZones(spark, viewPath).collect()
        .map { r =>
          def optL(c: String) =
            if (r.isNullAt(r.fieldIndex(c))) None
            else Some(r.getLong(r.fieldIndex(c)))
          def optS(c: String) =
            if (r.isNullAt(r.fieldIndex(c))) None
            else Some(r.getString(r.fieldIndex(c)))
          (r.getString(r.fieldIndex("col_name")),
            r.getInt(r.fieldIndex("kb")),
            graft.operators.ZoneTests.Zone(
              r.getString(r.fieldIndex("kind")),
              r.getLong(r.fieldIndex("n_groups")),
              r.getLong(r.fieldIndex("n_nulls")),
              optL("min_num"), optL("max_num"),
              optS("min_str"), optS("max_str")))
        }
        .groupBy(_._1)
        .map { case (c, rows) =>
          c -> rows.map(t => t._2 -> t._3).toMap
        })

  /** Current registrations with their LIVE freshness — the ops
    * answer to "why didn't my query rewrite": one row per registered
    * view (path, base pin, keys, measures, pinned version, and
    * whether the VIEW pin still matches the artifact's current
    * manifest), with [[RelationPins.describe]]'s base freshness.
    */
  def status(spark: SparkSession): DataFrame = {
    val s = spark
    import s.implicits._
    entries.map { e =>
      val liveVersion =
        try Some(AggView.declaration(e.viewPath).version)
        catch { case NonFatal(_) => None }
      val (baseDesc0, baseFresh) = RelationPins.describe(e.pin)
      // star registrations name their dims too — the ops surface
      // should show the whole shape the rewrite matches
      val baseDesc =
        if (e.dims.isEmpty) baseDesc0
        else baseDesc0 + e.dims.map(d =>
          " ⋈ " + d.roots.toSeq.sorted.mkString(",") +
            (if (d.neutral) " (neutral)" else "")).mkString
      (e.viewPath, baseDesc,
        e.decl.keys.mkString(","),
        e.decl.measures.map(_.name).mkString(","),
        e.version, liveVersion.getOrElse(-1L),
        liveVersion.contains(e.version), baseFresh)
    }.toDF("view_path", "base_roots", "keys", "measures",
      "pinned_version", "live_version", "version_fresh", "base_fresh")
  }

  /** Re-verify and re-pin every registration whose base or view has
    * MOVED — the maintenance hook that keeps the rewrite live on a
    * CHANGING fact table instead of degrading to a permanent no-op
    * after the first append. Call it after the CDC fleet applies a
    * batch to base and view, or wrap the sink with [[refreshingSink]]:
    * `IndexPipeline.sink(MergeOnRead.foreachBatchSink(dir),
    * AggView.cdcSink(view), AggViewRewrite.refreshingSink(spark))`.
    *
    * A pin refreshes only when base and view are VERIFIED consistent
    * — never on trust:
    *
    *  - parquet base: the base's live content fingerprint through the
    *    view's dependency projection must equal the view manifest's
    *    composed fingerprint — computed O(DELTA): per-file partials
    *    ([[AggView.factsFingerprintByFile]]) stored in the pin
    *    compose for unchanged files and only files with no stored
    *    partial are scanned ([[PinnedBridge.verifyDelta]]; the
    *    FIRST verification scans everything and seeds). Exact: a
    *    base-only append or a view-only commit fails the check and
    *    the registration stays stale (refusing, correctly) until the
    *    two converge; an in-place rewrite of a pinned file refuses
    *    (per-file (len, mtime) pins).
    *  - MOR base: the feed watermark must match
    *    ([[RelationPins.refreshMor]] — a base-only `streamAppend`
    *    leaves the view's watermark behind ⇒ no refresh until the
    *    view's [[AggView.applyBatch]] lands the same id), and the
    *    view's commit chain since the pin must be clean
    *    ([[viewChainClean]]).
    *
    * A view whose DECLARATION changed (rebuild with different
    * keys/measures) never auto-refreshes — re-register explicitly.
    *
    * Returns one row per registration: (view_path, refreshed,
    * reason).
    */
  def refreshPins(spark: SparkSession): DataFrame =
    refreshEach(spark)(repin(spark, _))

  /** Verify one registration and re-pin it, or say why not. */
  private def repin(spark: SparkSession, e: Entry): Refresh[Entry] = {
    val live = try AggView.declaration(e.viewPath)
      catch { case NonFatal(ex) =>
        return scala.Left(s"view unreadable: $ex") }
    if (live.keys != e.decl.keys || live.measures != e.decl.measures ||
      live.kbParts != e.decl.kbParts)
      return scala.Left("view declaration changed (rebuild) — re-register")
    val moved = live.version != e.version
    e.pin match {
      case p: FsPin =>
        // STAR registrations: every dim must be byte-identical to its
        // pin — the view absorbed joined rows, and a changed dim
        // invalidates all of them with no incremental repair, so a
        // moved dim refuses until re-registration (after a rebuild).
        val dimDfs: Seq[DataFrame] = e.dims.map { de =>
          val dimDf = spark.read.parquet(de.roots.toSeq.sorted: _*)
          val dimRel = RelationPins.bare(GraftBridge.analyzedPlan(dimDf))
            .map(_._2).getOrElse(
              return scala.Left("a dim no longer reads as a bare " +
                "parquet scan — re-register"))
          if (RelationPins.signature(dimRel) != de.listingSig)
            return scala.Left("dim table changed (" +
              de.roots.toSeq.sorted.mkString(",") + ") — the joined " +
              "rollup is invalidated; rebuild the view and re-register")
          dimDf
        }
        RelationPins.refreshFs(spark, p, moved) { base =>
          // star: the verification fingerprints the JOINED rows of the
          // new fact files, grouped by the FACT file each row expanded
          // from — the file key is tagged on the fact side BEFORE the
          // joins (input_file_name() is single-source-only) and the
          // dims broadcast
          val srcCol = "__graft_src"
          // neutral-dim upkeep: INNER-dim coverage is a property of
          // the FACT, so appended rows must re-prove it (a LEFT dim
          // keeps every row — nothing to re-prove). The delta's raw
          // row count (parquet footer metadata — no data read) against
          // the joined partials' summed count detects a dropped row:
          // with every dim key unique (proven at register, dims
          // immutable), duplication is impossible, so joined < raw ⟺
          // some new row found no inner match. -1 = the scan never ran
          // (no new files).
          val needCoverage =
            e.dims.exists(d => d.neutral && d.joinType == "inner")
          var deltaRaw = -1L
          var deltaJoined = -1L
          verifyDelta(spark, e, p, base, live.fp, live.n, "view rollup",
              pin => e.copy(pin = pin)) { delta =>
            if (e.dims.isEmpty) AggView.factsFingerprintByFile(delta, e.viewPath)
            else {
              val tagged = delta.withColumn(srcCol, AggView.sourceFileKey)
              val joinedDelta = e.dims.zip(dimDfs).foldLeft(tagged) {
                case (acc, (de, dimDf)) =>
                  val cond = de.joinKeys.map { case (fc, dc) =>
                    acc(fc) === dimDf(dc) }.reduce(_ && _)
                  acc.join(
                    org.apache.spark.sql.functions.broadcast(dimDf),
                    cond, de.joinType)
              }
              val partials = AggView.factsFingerprintByFileTagged(
                joinedDelta, e.viewPath, srcCol)
              if (needCoverage) {
                deltaRaw = delta.count()
                deltaJoined = partials.valuesIterator.map(_._2).sum
              }
              partials
            }
          }.map { pin =>
            // coverage lost on the delta: DEMOTE the INNER neutral
            // flags (partial-star serving stops for them) but keep
            // the re-pin — the view still IS the joined rollup, so
            // full-star serving stays exact. LEFT dims keep their
            // proof (row-preserving by construction — uniqueness
            // holds by immutability). The row's reason names the
            // demotion; re-proving takes a re-registration with
            // proveDims after the dims are completed.
            val covered = !needCoverage || deltaRaw < 0 ||
              deltaJoined == deltaRaw
            val dims2 =
              if (covered) e.dims
              else e.dims.map(d =>
                if (d.joinType == "left") d
                else d.copy(neutral = false))
            val how =
              if (covered) "re-pinned"
              else "re-pinned; dim coverage lost on the fact " +
                s"delta (${deltaRaw - deltaJoined} of $deltaRaw " +
                "appended rows have no dim match) — inner neutral " +
                "flags demoted, partial-star serving stopped for " +
                "the inner dims"
            (Entry(e.viewPath, pin, live.version, live,
              zonesOf(spark, e.viewPath, e.zones.isDefined), dims2), how)
          }
        }
      case p: MorPin =>
        RelationPins.refreshMor(p, moved, live.lastBatch, "view") { st =>
          viewChainClean(e, live).toLeft((Entry(e.viewPath,
            MorPin(p.morPath, st), live.version, live,
            zonesOf(spark, e.viewPath, e.zones.isDefined)), "re-pinned"))
        }
    }
  }

  /** Verify the VIEW's commit chain since registration: every
    * manifest version in (pinned, live] must be a pure-maintenance
    * commit (fp AND row count unchanged — compaction/purge) or a
    * fleet batch (the watermark advanced with the fp). An
    * out-of-band mutation of the view — [[AggView.append]]/
    * [[AggView.delete]] outside the batch feed — moves the fp
    * WITHOUT the watermark and refuses: this is the poisoned-view
    * hazard the parquet path's content-fingerprint check covers,
    * verified here from manifests alone (the MOR fold has no cheap
    * content fingerprint). The row count is checked alongside the
    * fp because the xor fingerprint is blind to EVEN-MULTIPLICITY
    * duplicates (the [[graft.operators.IndexDirs]] doc pairs fp with
    * n for exactly this reason): an out-of-band append whose delta
    * xor-cancels — e.g. `df.union(df)` in one commit — leaves the fp
    * unchanged but must not read as maintenance; compaction/purge
    * preserve n, so clean maintenance still passes. A retention gap
    * in the chain refuses too (can't verify what was GC'd).
    *
    * Returns None when clean, Some(reason) otherwise.
    */
  private def viewChainClean(e: Entry,
      live: AggView.Decl): Option[String] = {
    if (live.version == e.version) return None
    // a REBUILD uncommits and restarts the version sequence: the
    // chain back to the pin no longer exists, and whether the new
    // build rolls up the CURRENT table is the builder's fingerprint
    // contract, not something this walk can see — re-register
    if (live.version < e.version)
      return Some("view was rebuilt (manifest versions reset) — " +
        "re-register")
    val expected = (e.version + 1) to live.version
    val retained = AggView.versions(e.viewPath).toSet
    if (!expected.forall(retained))
      return Some("view manifest versions since the pin were " +
        "garbage-collected (retention window closed) — cannot verify " +
        "the commit chain; re-register")
    var prev = e.decl
    expected.foreach { v =>
      val d = AggView.declarationAt(e.viewPath, v).getOrElse(
        return Some(s"view manifest version $v vanished mid-check — " +
          "re-register"))
      if (!((d.fp == prev.fp && d.n == prev.n) ||
          d.lastBatch > prev.lastBatch))
        return Some("view received commits outside the batch feed " +
          "(fp moved without the watermark advancing) — re-register")
      prev = d
    }
    None
  }

  /** One-shot SCOPED rewrite: register the view, force `df` through
    * the optimizer (so the rewrite — if legal — is baked into the
    * returned plan), then unregister, leaving no process-global
    * state behind. The returned DataFrame executes the rewritten
    * plan regardless of later registry changes.
    */
  def rewritten(spark: SparkSession, base: DataFrame, viewPath: String)
      (query: => DataFrame): DataFrame =
    scoped(spark, viewPath)(register(spark, base, viewPath))(query)

  private type Memo = RelationPins.Memo[AggView.Decl]

  final case class Rule(spark: SparkSession)
      extends CatalystRule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      optimize(spark, plan) { memo => {
        case agg: Aggregate =>
          try tryRewrite(spark, agg, memo).getOrElse(agg)
          catch {
            case NonFatal(e) =>
              logWarning(s"aggview rewrite skipped: $e")
              agg
          }
      }}
  }

  // ---------------------------------------------------------------
  // matching

  /** The base pin, with a parquet pin's refresh partials SEEDED from
    * the view's own build-time fingerprint ledger
    * ([[AggView.fingerprintLedger]], [[RelationPins.seededFromOwn]]).
    */
  private def pinOf(spark: SparkSession, id: RelationPins.BaseId,
      viewPath: String): BasePin = id match {
    case FsId(h) => RelationPins.fsPin(h, RelationPins.seededFromOwn(h,
      AggView.fingerprintLedger(spark, viewPath)))
    case MorId(m) => MorPin(m.path, MergeOnRead.state(m.path))
  }

  /** Strip column-pruning projections and collect deterministic
    * filter conjuncts between the aggregate and the relation.
    */
  private def decompose(p: LogicalPlan)
      : Option[(LogicalRelation, RelationPins.BaseId, Seq[Expression])] =
    p match {
      case l: LogicalRelation => RelationPins.idOf(l).map((l, _, Nil))
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        decompose(c)
      case Filter(cond, c)
          if cond.deterministic && !SubqueryExpression.hasSubquery(cond) =>
        decompose(c).map { case (l, id, fs) =>
          (l, id, splitConjunctivePredicates(cond) ++ fs)
        }
      case _ => None
    }

  /** Inline computed projections sitting directly under the
    * aggregate into the aggregate's own expressions. The analyzer's
    * `PullOutGroupingExpressions` rewrites `GROUP BY f(k)` into
    * `Aggregate(_g, …, Project(f(k) AS _g, child))` — without this
    * inline the matcher sees only an opaque attribute over a
    * computed Project it must refuse. Substitution preserves output
    * exprIds/names (a bare projected attr in the result list
    * re-aliases under its own id), so the rewritten plan's output
    * contract is unchanged. Only deterministic, subquery-free
    * aliases inline; anything else leaves the plan as-is.
    */
  private def inlineProjects(agg: Aggregate): Aggregate = agg.child match {
    case Project(pl, c) if pl.exists(!_.isInstanceOf[AttributeReference]) &&
        pl.forall {
          case _: AttributeReference => true
          case a: Alias => a.child.deterministic &&
            !SubqueryExpression.hasSubquery(a.child)
          case _ => false
        } =>
      val sub: Map[ExprId, Expression] = pl.collect {
        case a: Alias => a.exprId -> a.child
      }.toMap
      def replace(e: Expression): Expression = e.transformUp {
        case ar: AttributeReference if sub.contains(ar.exprId) =>
          sub(ar.exprId)
      }
      def replaceNamed(ne: NamedExpression): NamedExpression = ne match {
        case ar: AttributeReference if sub.contains(ar.exprId) =>
          Alias(sub(ar.exprId), ar.name)(exprId = ar.exprId)
        case other => replace(other) match {
          case n: NamedExpression => n
          case x => Alias(x, other.name)(exprId = other.exprId)
        }
      }
      inlineProjects(Aggregate(
        agg.groupingExpressions.map(replace),
        agg.aggregateExpressions.map(replaceNamed),
        c))
    case _ => agg
  }

  private def tryRewrite(spark: SparkSession,
      agg0: Aggregate, memo: Memo): Option[Aggregate] = {
    val agg = inlineProjects(agg0)
    // GROUPING SETS / ROLLUP / CUBE: the analyzer plans them as an
    // Aggregate over an Expand — a different child shape with its
    // own matcher
    childExpand(agg.child) match {
      case Some(ex) => return tryExpand(spark, agg, ex, memo)
      case None => ()
    }
    val flat = decompose(agg.child).flatMap { case (rel, id, filters) =>
      // star entries never serve a FLAT aggregate over the fact
      // alone: the view holds JOINED rows (inner-join multiplicity
      // and filtering), so dims.isEmpty is a correctness gate here
      val cands = entries
        .filter(e => e.dims.isEmpty && memo.fresh(e.pin, id))
      // prefer the COARSEST sufficient view: fewer keys = fewer
      // rollup groups = the smallest artifact that can still answer;
      // ties break on path so plan choice never depends on map
      // iteration
      cands.sortBy(e => (e.decl.keys.size, e.viewPath)).iterator
        .map(e => rewriteWith(spark, agg, rel.output, rel, filters, e,
          memo))
        .collectFirst { case Some(a) => a }
    }
    flat.orElse(tryStar(spark, agg, memo))
  }

  /** The Expand directly under the aggregate (through attr-only
    * projections), if any — the GROUPING SETS / ROLLUP / CUBE plan
    * shape. */
  private def childExpand(p: LogicalPlan): Option[Expand] = p match {
    case e: Expand => Some(e)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      childExpand(c)
    case _ => None
  }

  /** Serve a GROUPING SETS / ROLLUP / CUBE aggregate from a
    * registered flat view. The analyzer plans these as
    * `Aggregate(keys + gid, aggs, Expand(projections, base))`: each
    * Expand projection is one grouping set — key slots carry the key
    * expression or a null literal (the set's rolled-up keys), the
    * `spark_grouping_id` slot an integer literal, and aggregate
    * inputs ride in uniform pass-through slots. The serve replaces
    * the base under the Expand with the VIEW and re-folds: key slots
    * re-address to the view's key columns (nulls kept — the same
    * sets), gid literals forward, and every aggregate re-aggregates
    * through appended CARRIER slots (`cnt` and the matched measure
    * columns pass through every projection), so `count(*)` becomes
    * `sum(cnt-carrier)` etc. Sound for exactly the same reason the
    * key-subset rollup is: each expanded view row stands for its
    * fact rows' contribution to that grouping set, and every served
    * aggregate is re-aggregation-shaped.
    *
    * Guards: uniform-or-nulled-or-literal slots only (the DISTINCT
    * Expand rewrite has value-switching slots and refuses here);
    * aggregate inputs may reference only never-nulled slots (a
    * rolled-up key inside an aggregate would fold differently);
    * grouping expressions may reference only key/literal slots;
    * filters below the Expand obey the key-only rule and push into
    * the view read. Derived rollup keys (`GROUP BY ROLLUP(f(key))`)
    * work: the computed Project below the Expand inlines into the
    * projections before matching. STAR registrations serve too — a
    * rollup over the declared join subtree matches via
    * [[matchStar]] with the join's output as the key scope
    * (partial-star rules included), so `GROUP BY ROLLUP(dim_col,
    * fact_col)` over `fact ⋈ dims` reads the view, skipping scan
    * AND joins. No kb pruning on this path (the serve still reads
    * ≤ |groups| rows).
    */
  private def tryExpand(spark: SparkSession, agg: Aggregate,
      ex: Expand, memo: Memo): Option[Aggregate] = {
    // strip the expand child: inline computed projections INTO the
    // slot expressions, collect deterministic filters, land on the
    // relation
    var projections: Seq[Seq[Expression]] = ex.projections
    val filters = Seq.newBuilder[Expression]
    def strip(p: LogicalPlan): Option[LogicalPlan] = p match {
      case s: SubqueryAlias => strip(s.child)
      case Project(pl, c)
          if pl.forall(_.isInstanceOf[AttributeReference]) => strip(c)
      case Project(pl, c) if pl.forall {
            case _: AttributeReference => true
            case a: Alias => a.child.deterministic &&
              !SubqueryExpression.hasSubquery(a.child)
            case _ => false
          } =>
        val sub: Map[ExprId, Expression] = pl.collect {
          case a: Alias => a.exprId -> a.child
        }.toMap
        projections = projections.map(_.map(_.transformUp {
          case ar: AttributeReference if sub.contains(ar.exprId) =>
            sub(ar.exprId)
        }))
        strip(c)
      case Filter(cond, c) if cond.deterministic &&
          !SubqueryExpression.hasSubquery(cond) =>
        filters ++= splitConjunctivePredicates(cond); strip(c)
      case l: LogicalRelation => Some(l)
      case j: LJoin => Some(j)
      case _ => None
    }
    strip(ex.child) match {
      case Some(rel: LogicalRelation) =>
        val id = RelationPins.idOf(rel).getOrElse(return None)
        val fs = filters.result()
        val cands = entries
          .filter(e => e.dims.isEmpty && memo.fresh(e.pin, id))
          .sortBy(e => (e.decl.keys.size, e.viewPath))
        cands.iterator
          .map(e => expandRewriteWith(spark, agg, ex, projections,
            rel.output, rel, fs, e, memo))
          .collectFirst { case Some(a) => a }
      case Some(j: LJoin) =>
        // ROLLUP/CUBE over a STAR join: match the join subtree
        // against every star registration, then run the same
        // Expand serve with the join's output as the key scope and
        // the synthetic join anchor for measure resolution
        val fs = filters.result()
        val stars = entries.filter(_.dims.nonEmpty)
          .sortBy(e => (e.decl.keys.size, e.viewPath))
        stars.iterator.map { e =>
          matchStar(spark, j, e, memo).flatMap {
            case (factRel, matchedDims, starFilters) =>
              starAnchor(factRel, matchedDims).flatMap { anchor =>
                val outAttrs = factRel.output ++
                  matchedDims.flatMap(_._2.output)
                expandRewriteWith(spark, agg, ex, projections,
                  outAttrs, anchor, fs ++ starFilters, e, memo,
                  partial = matchedDims.size < e.dims.size)
              }
          }
        }.collectFirst { case Some(a) => a }
      case _ => None
    }
  }

  private def expandRewriteWith(spark: SparkSession, agg: Aggregate,
      ex: Expand, projections: Seq[Seq[Expression]],
      outAttrs: Seq[Attribute], anchor: LogicalPlan,
      filters: Seq[Expression], e: Entry,
      memo: Memo, partial: Boolean = false): Option[Aggregate] = {
    val cur = memo.declOf(e.viewPath).getOrElse(return None)
    if (cur.version != e.version || cur.keys != e.decl.keys ||
      cur.measures != e.decl.measures) return None

    val resolver = SQLConf.get.resolver
    val keyAttr: Map[String, Attribute] = e.decl.keys.flatMap { k =>
      outAttrs.find(a => resolver(a.name, k)).map(k -> _)
    }.toMap
    if (!partial && keyAttr.size != e.decl.keys.size) return None
    val keyAttrSet = AttributeSet(keyAttr.values)
    val keyNameOf: Map[ExprId, String] =
      keyAttr.map { case (n, a) => a.exprId -> n }
    if (!filters.forall(_.references.subsetOf(keyAttrSet))) return None

    // classify slots: per column j, the distinct non-null-literal
    // expressions across projections
    final case class Slot(expr: Option[Expression], // uniform non-literal
        nulled: Boolean, // some projection nulls it
        literal: Boolean) // every non-null value is a literal
    def isNullLit(x: Expression): Boolean = x match {
      case Literal(null, _) => true
      case _ => false
    }
    val nSlots = ex.output.size
    if (projections.exists(_.size != nSlots)) return None
    val slots: Seq[Slot] = (0 until nSlots).map { j =>
      val vs = projections.map(_(j))
      val nonNull = vs.filterNot(isNullLit)
      if (nonNull.forall(_.isInstanceOf[Literal]))
        Slot(None, vs.exists(isNullLit), literal = true)
      else if (nonNull.map(_.canonicalized).distinct.size == 1 &&
        nonNull.head.deterministic &&
        !SubqueryExpression.hasSubquery(nonNull.head))
        Slot(Some(nonNull.head), vs.exists(isNullLit), literal = false)
      else return None
    }
    val slotOf: Map[ExprId, Int] =
      ex.output.map(_.exprId).zipWithIndex.toMap
    def isKeySlot(j: Int): Boolean = slots(j).expr.exists(x =>
      x.references.nonEmpty && x.references.subsetOf(keyAttrSet))
    // slots the upper plan may keep referencing: key-expression
    // slots and literal (gid / constant) slots
    val keptIdx: Seq[Int] = (0 until nSlots).filter(j =>
      slots(j).literal || isKeySlot(j))
    val keptIds: Set[ExprId] = keptIdx.map(ex.output(_).exprId).toSet

    // grouping expressions may reference only kept slots
    if (!agg.groupingExpressions.forall(g => g.deterministic &&
      !SubqueryExpression.hasSubquery(g) &&
      g.references.map(_.exprId).forall(keptIds))) return None

    val ml = new MeasureLookup(spark, anchor, e.decl)
    if (!partial && !ml.complete) return None

    val whereCol: Option[Column] = filters.reduceOption(And).map { c =>
      GraftBridge.column(c.transform {
        case a: AttributeReference if keyAttrSet.contains(a) =>
          UnresolvedAttribute.quoted(keyNameOf(a.exprId))
      })
    }
    val viewPlan = GraftBridge.analyzedPlan(
      AggView.readFor(spark, e.viewPath, whereCol,
        kbPartsFor(filters, keyAttrSet, keyNameOf, e)))
    def vAttr(name: String): Attribute =
      viewPlan.output.find(a => resolver(a.name, name)).get

    // aggregate inputs substitute their slots with the slot's FACT
    // expression — only never-nulled expression slots qualify (a
    // rolled-up key inside an aggregate folds per grouping set, not
    // per fact value)
    def toFact(x: Expression): Option[Expression] = {
      var ok = true
      val r = x.transformUp {
        case ar: AttributeReference if slotOf.contains(ar.exprId) =>
          slots(slotOf(ar.exprId)) match {
            case Slot(Some(fe), false, _) => fe
            case _ => ok = false; ar
          }
      }
      if (ok && r.references.subsetOf(AttributeSet(outAttrs)))
        Some(r)
      else None
    }

    // carrier slots appended to every projection: the view column
    // (cnt or a measure) passes through the new Expand to the
    // re-aggregates above
    val carriers =
      mutable.LinkedHashMap.empty[String, (AttributeReference, Attribute)]
    def carrier(name: String): AttributeReference =
      carriers.getOrElseUpdate(name, {
        val vA = vAttr(name)
        (AttributeReference(s"__carry_$name", vA.dataType,
          nullable = true)(), vA)
      })._1

    def rewriteAggE(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      ae.aggregateFunction match {
        case Count(children)
            if children.nonEmpty &&
              children.forall(c => c.foldable && c.eval() != null) =>
          Some(Coalesce(Seq(
            Sum(carrier("cnt")).toAggregateExpression(), Literal(0L))))
        case Count(Seq(c)) if !c.foldable =>
          toFact(c).flatMap(fc => ml.counterMeasure(fc)).map { n =>
            Coalesce(Seq(
              Sum(carrier(n)).toAggregateExpression(), Literal(0L)))
          }
        case a: Average if ae.dataType == DoubleType =>
          for {
            fc <- toFact(a.child)
            sName <- ml.sumMeasure(fc.canonicalized)
            cName <- ml.counterMeasure(fc)
          } yield {
            val s = Cast(Sum(carrier(sName)).toAggregateExpression(),
              DoubleType)
            val c = Cast(Sum(carrier(cName)).toAggregateExpression(),
              DoubleType)
            Divide(s,
              If(EqualTo(c, Literal(0d)), Literal(null, DoubleType), c))
          }
        case s: Sum =>
          toFact(s.child).flatMap(fc => ml.sumMeasure(fc.canonicalized))
            .map { n =>
              val re = Sum(carrier(n)).toAggregateExpression()
              if (re.dataType == ae.dataType) re
              else Cast(re, ae.dataType)
            }
        case m: Min =>
          toFact(m.child)
            .flatMap(fc => ml.measureFor(fc.canonicalized, "min"))
            .map { n =>
              val re = Min(carrier(n)).toAggregateExpression()
              if (re.dataType == ae.dataType) re
              else Cast(re, ae.dataType)
            }
        case m: Max =>
          toFact(m.child)
            .flatMap(fc => ml.measureFor(fc.canonicalized, "max"))
            .map { n =>
              val re = Max(carrier(n)).toAggregateExpression()
              if (re.dataType == ae.dataType) re
              else Cast(re, ae.dataType)
            }
        case _ => None
      }
    }

    def rewriteE(expr: Expression): Option[Expression] = expr match {
      case ae: AggregateExpression => rewriteAggE(ae)
      case a: AttributeReference if keptIds(a.exprId) => Some(a)
      case _: AttributeReference => None
      case _: Literal => Some(expr)
      case other =>
        val kids = other.children.map(rewriteE)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }

    val newAggExprs: Seq[NamedExpression] =
      agg.aggregateExpressions.map {
        case a: AttributeReference if keptIds(a.exprId) => a
        case al: Alias =>
          rewriteE(al.child) match {
            case Some(c) => Alias(c, al.name)(exprId = al.exprId)
            case None => return None
          }
        case _ => return None
      }

    // the kept slots' key expressions, re-addressed to the view
    val mappedKey: Map[Int, Expression] = keptIdx.flatMap { j =>
      slots(j).expr.map { fe =>
        j -> fe.transform {
          case a: AttributeReference if keyAttrSet.contains(a) =>
            vAttr(keyNameOf(a.exprId))
        }
      }
    }.toMap
    // dataType parity of every kept slot (a drifted view key type
    // would corrupt the slot's output contract)
    if (!keptIdx.forall(j => mappedKey.get(j).forall(
      _.dataType == ex.output(j).dataType))) return None

    val newProjections: Seq[Seq[Expression]] = projections.map { p =>
      keptIdx.map { j =>
        p(j) match {
          case l: Literal => l // nulls and gid/constant literals
          case _ => mappedKey(j)
        }
      } ++ carriers.values.map(_._2).toSeq
    }
    val newOutput: Seq[Attribute] =
      keptIdx.map(ex.output(_)) ++ carriers.values.map(_._1).toSeq
    val out = Aggregate(agg.groupingExpressions, newAggExprs,
      Expand(newProjections, newOutput, viewPlan))

    val same = out.output.size == agg.output.size &&
      out.output.zip(agg.output).forall { case (n, o) =>
        n.exprId == o.exprId && n.name == o.name &&
          n.dataType == o.dataType
      }
    if (same) Some(out) else None
  }

  /** Try every STAR registration against the aggregate's join
    * subtree: the child must decompose (under attr-only projections
    * and deterministic filters) into INNER equi-joins of the
    * registered fact with registered dims on exactly the declared
    * key pairs — then the shared rewrite runs with the join output
    * as the key-resolution scope and a synthetic join plan as the
    * measure-normalization anchor.
    *
    * PARTIAL matches: a query may join only SOME of the declared
    * dims — down to none, a flat fact aggregate — provided every
    * left-out dim is proven NEUTRAL (its join preserves fact rows
    * exactly, so aggregates over the remaining columns are
    * identical) AND its pinned listing is still live-fresh (the dim
    * is absent from the query plan, so its freshness is probed with
    * a fresh listing, memoized per pass). The rewrite then resolves
    * keys and measures in the PARTIAL join's scope; view keys and
    * measures living on left-out dims simply roll up / drop out of
    * the lookup — the query cannot reference them.
    */
  private def tryStar(spark: SparkSession, agg: Aggregate,
      memo: Memo): Option[Aggregate] = {
    val stars = entries.filter(_.dims.nonEmpty)
      .sortBy(e => (e.decl.keys.size, e.viewPath))
    if (stars.isEmpty) return None
    stars.iterator.map { e =>
      matchStar(spark, agg.child, e, memo).flatMap {
        case (factRel, matchedDims, filters) =>
          val anchor = starAnchor(factRel, matchedDims)
            .getOrElse(return None)
          val outAttrs = factRel.output ++
            matchedDims.flatMap(_._2.output)
          rewriteWith(spark, agg, outAttrs, anchor, filters, e, memo,
            partial = matchedDims.size < e.dims.size)
      }
    }.collectFirst { case Some(a) => a }
  }

  /** The canonical join plan the measures normalize against — built
    * from the QUERY's own relation nodes, so attribute ids line up
    * with the query's aggregate expressions for exact canonical
    * comparison. `matchedDims` pairs each matched declaration with
    * the query's relation node for it and the join type the QUERY
    * used (declaration order — a partial match's anchor is the
    * partial join; a left dim matched through an optimizer-converted
    * inner join anchors as inner, the shape the query's expressions
    * were analyzed under).
    */
  private def starAnchor(factRel: LogicalRelation,
      matchedDims: Seq[(DimEntry, LogicalRelation, JoinType)])
      : Option[LogicalPlan] = {
    val resolver = SQLConf.get.resolver
    def attr(out: Seq[Attribute], n: String): Option[Attribute] =
      out.find(a => resolver(a.name, n))
    matchedDims.foldLeft(Option(factRel: LogicalPlan)) {
      case (accOpt, (de, dr, jt)) => accOpt.flatMap { acc =>
        val conds = de.joinKeys.map { case (fc, dc) =>
          for {
            fa <- attr(factRel.output, fc)
            da <- attr(dr.output, dc)
          } yield EqualTo(fa, da): Expression
        }
        if (conds.exists(_.isEmpty)) None
        else Some(LJoin(acc, dr, jt,
          Some(conds.flatten.reduce(And)), JoinHint.NONE))
      }
    }
  }

  /** Match the aggregate child against one star declaration: strip
    * attr-only projections / deterministic filters, require a join
    * tree whose leaves are the registered fact and a SUBSET of the
    * registered dims (matched by root paths, each at most once, in
    * any join order), with each join's condition equal — as an
    * unordered pair set — to that dim's declared key pairs, and
    * each join's TYPE compatible with the dim's declaration:
    *
    *  - an INNER dim matches only an inner join (either side);
    *  - a LEFT dim matches `fact LEFT JOIN dim` (dim on the right —
    *    or the mirrored `dim RIGHT JOIN fact`) with NO dim-leg
    *    filter (a pre-join filter changes which rows null-extend,
    *    which is not what the view absorbed);
    *  - a LEFT dim ALSO matches an INNER join — the shape the
    *    optimizer's `EliminateOuterJoin` produces from
    *    `fact LEFT JOIN dim WHERE <null-rejecting on dim>` —
    *    PROVIDED a kept filter null-rejects on that dim's columns
    *    (whitelisted predicate forms over a dim attribute: a
    *    null-extended view row has every dim column null, so the
    *    filter removes exactly the rows the inner join drops).
    *
    * Pins checked fresh for fact and every matched dim via the
    * query's own relations; every LEFT-OUT dim must be proven
    * neutral AND its pinned listing live-fresh (a fresh listing —
    * the dim is not in the plan).
    *
    * Filters collected anywhere in the tree are returned EXCEPT
    * tautological `IsNotNull(joinKey)` conjuncts over INNER-declared
    * dims' keys (the view absorbed only joined rows there — matched
    * dims by the inner join, left-out dims by the coverage proof).
    * A LEFT dim's keys CAN be null in the view, so its IsNotNull
    * conjuncts are kept — where they are exactly the null-rejecting
    * filter the inner-over-left acceptance requires.
    */
  private def matchStar(spark: SparkSession, p: LogicalPlan, e: Entry,
      memo: Memo)
      : Option[(LogicalRelation,
        Seq[(DimEntry, LogicalRelation, JoinType)],
        Seq[Expression])] = {
    val resolver = SQLConf.get.resolver
    val factPin = e.pin match {
      case f: FsPin => f
      case _ => return None
    }
    val matched = Array.fill[Option[LogicalRelation]](e.dims.size)(None)
    val matchedType =
      Array.fill[JoinType](e.dims.size)(InnerJoinType)
    // left-declared dims matched through an inner join: each needs a
    // null-rejecting kept filter on its columns
    val needNullReject = mutable.Set.empty[Int]
    val filters = Seq.newBuilder[Expression]

    // a dim leg: strips to a bare parquet relation matching an
    // UNMATCHED registered dim's roots; its own filter conjuncts are
    // returned for the JOIN case to accept or refuse by join type
    def asDimLeg(q: LogicalPlan): Option[(Int, Seq[Expression])] = {
      val legFilters = Seq.newBuilder[Expression]
      def strip(x: LogicalPlan): Option[LogicalRelation] = x match {
        case s: SubqueryAlias => strip(s.child)
        case Project(pl, c)
            if pl.forall(_.isInstanceOf[AttributeReference]) => strip(c)
        case Filter(cond, c) if cond.deterministic &&
            !SubqueryExpression.hasSubquery(cond) =>
          legFilters ++= splitConjunctivePredicates(cond); strip(c)
        case l: LogicalRelation => l.relation match {
          case _: HadoopFsRelation => Some(l)
          case _ => None
        }
        case _ => None
      }
      strip(q).flatMap { rel =>
        val h = rel.relation.asInstanceOf[HadoopFsRelation]
        val roots = RelationPins.rootPaths(h)
        val i = e.dims.indexWhere(_.roots == roots)
        if (i < 0 || matched(i).isDefined) None
        else if (memo.signatureOf(h) != e.dims(i).listingSig) None
        else {
          matched(i) = Some(rel)
          Some((i, legFilters.result()))
        }
      }
    }

    def walkFact(q: LogicalPlan): Option[LogicalRelation] = q match {
      case s: SubqueryAlias => walkFact(s.child)
      case Project(pl, c)
          if pl.forall(_.isInstanceOf[AttributeReference]) => walkFact(c)
      case Filter(cond, c) if cond.deterministic &&
          !SubqueryExpression.hasSubquery(cond) =>
        filters ++= splitConjunctivePredicates(cond); walkFact(c)
      case j: LJoin if j.condition.isDefined &&
          (j.joinType == InnerJoinType || j.joinType == LeftOuter ||
            j.joinType == RightOuter) =>
        // the dim leg must sit on a side the join type permits: any
        // side for inner; the NON-preserved side for outer (the
        // preserved side continues toward the fact)
        val cand = j.joinType match {
          case InnerJoinType =>
            asDimLeg(j.right).map { case (i, lf) => (i, lf, j.left) }
              .orElse(asDimLeg(j.left).map { case (i, lf) =>
                (i, lf, j.right) })
          case LeftOuter =>
            asDimLeg(j.right).map { case (i, lf) => (i, lf, j.left) }
          case _ => // RightOuter
            asDimLeg(j.left).map { case (i, lf) => (i, lf, j.right) }
        }
        val (di, legF, factSide) = cand.getOrElse(return None)
        val de = e.dims(di)
        if (j.joinType == InnerJoinType) {
          if (de.joinType == "left") { needNullReject += di; () }
          matchedType(di) = InnerJoinType
          filters ++= legF
        } else {
          // an outer join in the query: only a LEFT declaration
          // matches, and a dim-leg filter is a PRE-join filter —
          // different rows null-extend than the view absorbed. The
          // one exception: the optimizer's inferred
          // IsNotNull(dim join key) (InferFiltersFromConstraints
          // pushes it to the non-preserved side even under an outer
          // join) is tautological — a null-keyed dim row matches no
          // fact row under the equi-join, and dropping it changes
          // neither the matches nor which fact rows null-extend
          if (de.joinType != "left") return None
          val dcIds = de.joinKeys.flatMap { case (_, dc) =>
            matched(di).get.output
              .filter(a => resolver(a.name, dc)).map(_.exprId)
          }.toSet
          val onlyInferredKeyNotNull = legF.forall {
            case IsNotNull(a: AttributeReference) => dcIds(a.exprId)
            case _ => false
          }
          if (!onlyInferredKeyNotNull) return None
          matchedType(di) = LeftOuter
        }
        val dimRel = matched(di).get
        val factRel = walkFact(factSide).getOrElse(return None)
        // the condition must be EXACTLY this dim's declared pairs
        val pairs = splitConjunctivePredicates(j.condition.get).map {
          case EqualTo(a: AttributeReference, b: AttributeReference) =>
            (a, b)
          case _ => return None
        }
        val declared = de.joinKeys.map { case (fc, dc) =>
          val fa = factRel.output.find(a => resolver(a.name, fc))
            .getOrElse(return None)
          val da = dimRel.output.find(a => resolver(a.name, dc))
            .getOrElse(return None)
          (fa, da)
        }
        val got = pairs.map { case (a, b) =>
          Set(a.exprId, b.exprId) }.toSet
        val want = declared.map { case (a, b) =>
          Set(a.exprId, b.exprId) }.toSet
        if (got != want) return None
        Some(factRel)
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation
            if RelationPins.rootPaths(h) == factPin.roots &&
              memo.signatureOf(h) == factPin.listingSig => Some(l)
        case _ => None
      }
      case _ => None
    }

    val factRel = walkFact(p).getOrElse(return None)
    // every dim the query left out must be NEUTRAL (the join is
    // row-preserving, so leaving it out changes no aggregate) and
    // still byte-identical to its pin — probed with a fresh listing,
    // since the dim has no relation in this plan to check against
    val leftOut = e.dims.indices.filterNot(i => matched(i).isDefined)
    if (!leftOut.forall { i =>
        e.dims(i).neutral &&
          memo.signatureOfRoots(e.dims(i).roots)
            .contains(e.dims(i).listingSig)
      }) return None
    val matchedDims: Seq[(DimEntry, LogicalRelation, JoinType)] =
      e.dims.indices.flatMap(i =>
        matched(i).map(dr => (e.dims(i), dr, matchedType(i))))
    // drop inferred IsNotNull over INNER-declared dims' join-key
    // attributes (tautological over the view's joined rows: matched
    // dims by the inner join, left-out dims by the coverage proof —
    // every fact row joined, so every absorbed key value is
    // non-null). Everything else goes to the key-only filter gate in
    // rewriteWith
    val droppableIds = mutable.Set.empty[ExprId]
    e.dims.filter(_.joinType == "inner")
      .foreach(_.joinKeys.foreach { case (fc, _) =>
        droppableIds ++=
          factRel.output.filter(a => resolver(a.name, fc)).map(_.exprId)
      })
    matchedDims.foreach {
      case (de, dr, _) if de.joinType == "inner" =>
        de.joinKeys.foreach { case (_, dc) =>
          droppableIds ++=
            dr.output.filter(a => resolver(a.name, dc)).map(_.exprId)
        }
      case _ => ()
    }
    // inner-over-left acceptance, per dim: some collected filter
    // must null-reject on the dim's columns (a null-extended view
    // row has every dim column null, so that filter reproduces the
    // inner join's row drop exactly). Once a rejecter exists, the
    // optimizer's inferred IsNotNull conjuncts on THAT dim's join
    // keys are implied (surviving rows are matched rows) and drop;
    // when the only rejecter IS a dim-side join-key IsNotNull, it
    // must survive, so only the fact-side IsNotNulls drop.
    val allFilters = filters.result()
    needNullReject.foreach { di =>
      val de = e.dims(di)
      val dr = matched(di).get
      val dimIds = dr.output.map(_.exprId).toSet
      val fcIds = de.joinKeys.flatMap { case (fc, _) =>
        factRel.output.filter(a => resolver(a.name, fc)).map(_.exprId)
      }.toSet
      val dcIds = de.joinKeys.flatMap { case (_, dc) =>
        dr.output.filter(a => resolver(a.name, dc)).map(_.exprId)
      }.toSet
      val rejecters = allFilters.filter(f => nullRejectsOn(f, dimIds))
      if (rejecters.isEmpty) return None
      val nonKeyRejecter = rejecters.exists {
        case IsNotNull(a: AttributeReference) => !dcIds(a.exprId)
        case _ => true
      }
      droppableIds ++= fcIds
      if (nonKeyRejecter) droppableIds ++= dcIds
    }
    val kept = allFilters.filterNot {
      case IsNotNull(a: AttributeReference) => droppableIds(a.exprId)
      case _ => false
    }
    Some((factRel, matchedDims, kept))
  }

  /** Does `f` REJECT rows where the referenced attribute from
    * `attrIds` is null? Conservative whitelist of predicate forms
    * whose null input yields null/false — what licenses serving an
    * optimizer-converted `fact ⟕ dim WHERE <f>` inner join from the
    * left-join view.
    */
  private def nullRejectsOn(f: Expression,
      attrIds: Set[ExprId]): Boolean = {
    def hit(a: AttributeReference) = attrIds(a.exprId)
    f match {
      case IsNotNull(a: AttributeReference) => hit(a)
      case EqualTo(a: AttributeReference, _: Literal) => hit(a)
      case EqualTo(_: Literal, a: AttributeReference) => hit(a)
      case GreaterThan(a: AttributeReference, _: Literal) => hit(a)
      case GreaterThan(_: Literal, a: AttributeReference) => hit(a)
      case GreaterThanOrEqual(a: AttributeReference, _: Literal) => hit(a)
      case GreaterThanOrEqual(_: Literal, a: AttributeReference) => hit(a)
      case LessThan(a: AttributeReference, _: Literal) => hit(a)
      case LessThan(_: Literal, a: AttributeReference) => hit(a)
      case LessThanOrEqual(a: AttributeReference, _: Literal) => hit(a)
      case LessThanOrEqual(_: Literal, a: AttributeReference) => hit(a)
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) => hit(a)
      case InSet(a: AttributeReference, _) => hit(a)
      case StartsWith(a: AttributeReference, _: Literal) => hit(a)
      case EndsWith(a: AttributeReference, _: Literal) => hit(a)
      case Contains(a: AttributeReference, _: Literal) => hit(a)
      case _ => false
    }
  }

  /** Key types whose bounded ranges ENUMERATE into kb buckets:
    * integrals, and dates (a DateType literal's value is already its
    * day count, so a `BETWEEN DATE … AND DATE …` over a date key —
    * the most common dashboard probe — enumerates day-by-day exactly
    * like an integer range; the synthesized literals keep DateType,
    * so the driver-side XxHash64 replays the writer's kb hash).
    */
  private def enumerableType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType => true
    case _ => false
  }

  private def asLong(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l.longValue)
    case i: java.lang.Integer => Some(i.longValue)
    case s: java.lang.Short => Some(s.longValue)
    case b: java.lang.Byte => Some(b.longValue)
    case _ => None
  }

  private def litOf(x: Long, dt: DataType): Literal = dt match {
    case ByteType => Literal(x.toByte)
    case ShortType => Literal(x.toShort)
    case IntegerType => Literal(x.toInt)
    case DateType => Literal(x.toInt, DateType)
    case _ => Literal(x)
  }

  /** The kb partition prune for key-only filter conjuncts over one
    * registration: the enumerable hash path (equality / IN-list /
    * bounded integral-or-date range conjuncts, ≤ 256 combinations
    * replaying the writer's xxhash64) or, failing that, the
    * key-zone path. Shared by the flat/star serve and the
    * grouping-sets (Expand) path.
    */
  private def kbPartsFor(filters: Seq[Expression],
      keyAttrSet: AttributeSet, keyNameOf: Map[ExprId, String],
      e: Entry): Option[Seq[Int]] = {
    // kb partition prune when every key is pinned to a bounded value
    // set: each conjunct's value set is a SUPERSET of the matching
    // rows' key values, so when several conjuncts pin one key, any of
    // them is sound — take the smallest. Three extractors feed the
    // pool: equality literals, IN-lists, and bounded ranges over
    // integral keys (a BETWEEN analyzes to >= + <= conjuncts; the
    // intersected [lo, hi] enumerates when ≤ 256 wide).
    val eqVals: Seq[(String, Seq[Literal])] = filters.collect {
      case EqualTo(a: AttributeReference, l: Literal)
          if keyAttrSet.contains(a) && l.value != null =>
        keyNameOf(a.exprId) -> Seq(l)
      case EqualTo(l: Literal, a: AttributeReference)
          if keyAttrSet.contains(a) && l.value != null =>
        keyNameOf(a.exprId) -> Seq(l)
      case EqualNullSafe(a: AttributeReference, l: Literal)
          if keyAttrSet.contains(a) => keyNameOf(a.exprId) -> Seq(l)
      case EqualNullSafe(l: Literal, a: AttributeReference)
          if keyAttrSet.contains(a) => keyNameOf(a.exprId) -> Seq(l)
      case In(a: AttributeReference, vs)
          if keyAttrSet.contains(a) && vs.forall(_.isInstanceOf[Literal]) =>
        keyNameOf(a.exprId) ->
          vs.collect { case l: Literal if l.value != null => l }
      case InSet(a: AttributeReference, vs)
          if keyAttrSet.contains(a) =>
        keyNameOf(a.exprId) -> vs.toSeq.filter(_ != null)
          .map(v => Literal(v, a.dataType))
    }
    val rangeVals: Seq[(String, Seq[Literal])] = {
      // per integral key: intersected lower/upper bounds (inclusive),
      // from >/>=/</<= conjuncts with a non-null literal side
      val bounds = filters.collect {
        case GreaterThan(a: AttributeReference, Literal(v, _))
            if keyAttrSet.contains(a) && enumerableType(a.dataType) =>
          asLong(v).map(x => (a, Some(x + 1): Option[Long], None: Option[Long]))
        case GreaterThanOrEqual(a: AttributeReference, Literal(v, _))
            if keyAttrSet.contains(a) && enumerableType(a.dataType) =>
          asLong(v).map(x => (a, Some(x): Option[Long], None: Option[Long]))
        case LessThan(a: AttributeReference, Literal(v, _))
            if keyAttrSet.contains(a) && enumerableType(a.dataType) =>
          asLong(v).map(x => (a, None: Option[Long], Some(x - 1): Option[Long]))
        case LessThanOrEqual(a: AttributeReference, Literal(v, _))
            if keyAttrSet.contains(a) && enumerableType(a.dataType) =>
          asLong(v).map(x => (a, None: Option[Long], Some(x): Option[Long]))
        case LessThan(Literal(v, _), a: AttributeReference)
            if keyAttrSet.contains(a) && enumerableType(a.dataType) =>
          asLong(v).map(x => (a, Some(x + 1): Option[Long], None: Option[Long]))
        case LessThanOrEqual(Literal(v, _), a: AttributeReference)
            if keyAttrSet.contains(a) && enumerableType(a.dataType) =>
          asLong(v).map(x => (a, Some(x): Option[Long], None: Option[Long]))
        case GreaterThan(Literal(v, _), a: AttributeReference)
            if keyAttrSet.contains(a) && enumerableType(a.dataType) =>
          asLong(v).map(x => (a, None: Option[Long], Some(x - 1): Option[Long]))
        case GreaterThanOrEqual(Literal(v, _), a: AttributeReference)
            if keyAttrSet.contains(a) && enumerableType(a.dataType) =>
          asLong(v).map(x => (a, None: Option[Long], Some(x): Option[Long]))
      }.flatten
      bounds.groupBy(_._1.exprId).toSeq.flatMap { case (eid, bs) =>
        val attr = bs.head._1
        val los = bs.flatMap(_._2)
        val his = bs.flatMap(_._3)
        for {
          lo <- los.maxOption
          hi <- his.minOption
          // BigInt width: (hi - lo) on raw Longs can overflow
          if BigInt(hi) - BigInt(lo) >= 0 &&
            BigInt(hi) - BigInt(lo) < 256
        } yield keyNameOf(eid) ->
          (lo to hi).map(litOf(_, attr.dataType))
      }
    }
    val keyVals: Map[String, Seq[Literal]] = (eqVals ++ rangeVals)
      .groupBy(_._1)
      .map { case (k, kvs) => k -> kvs.map(_._2).minBy(_.size) }
    val parts: Option[Seq[Int]] = {
      val sets = e.decl.keys.map(k => keyVals.getOrElse(k, Nil))
      // BigInt: a Long product of many IN-list sizes can overflow
      // and wrap UNDER the cap, unleashing the cross-product fold
      if (sets.forall(_.nonEmpty) &&
        sets.map(s => BigInt(s.size)).product <= 256) {
        val tuples = sets.foldLeft(Seq(Seq.empty[Literal]))(
          (acc, s) => acc.flatMap(t => s.map(t :+ _)))
        Some(tuples.map { t =>
          // same hash the writer used: xxhash64(keys in decl order)
          val h = new XxHash64(t, 42L)
            .eval(InternalRow.empty).asInstanceOf[Long]
          java.lang.Math.floorMod(h, e.decl.kbParts.toLong).toInt
        }.distinct)
      } else None
    }

    // ZONE-based kb pruning for key predicates hash bucketing cannot
    // enumerate — LIKE-prefix, unbounded or non-integral ranges:
    // consult the pinned per-kb key zones (exact for the served
    // version, see Entry.zones) through the shared conservative test
    // ([[graft.operators.ZoneTests]] — the per-file zone-map pruner's
    // own semantics). Driver-side over kbParts × |conjuncts|; fires
    // only when the enumerable path didn't.
    val zoneParts: Option[Seq[Int]] =
      if (parts.isDefined) None
      else e.zones.flatMap { zs =>
        val srcFilters = filters.flatMap { c =>
          // re-address attributes to the view's declared key names
          // before translating, so the source-Filter column names
          // match the zone table's keys
          GraftBridge.translateFilter(c.transform {
            case a: AttributeReference if keyAttrSet.contains(a) =>
              a.withName(keyNameOf(a.exprId))
          })
        }
        if (srcFilters.isEmpty) None
        else {
          val kept = (0 until e.decl.kbParts).filter { kb =>
            srcFilters.forall { f =>
              graft.operators.ZoneTests.colOf(f) match {
                case Some(c) =>
                  // a missing zone row (unzonable key type, or a kb
                  // with no groups) keeps the partition
                  zs.get(c).flatMap(_.get(kb)).forall(z =>
                    graft.operators.ZoneTests.mayMatch(f, z))
                case None => true
              }
            }
          }
          if (kept.size < e.decl.kbParts) Some(kept) else None
        }
      }

    parts.orElse(zoneParts)
  }

  /** The shared rewrite for flat and star entries: `outAttrs` is the
    * scope key names resolve in (the relation's output, or the join
    * output for a star), `anchor` the plan measures normalize
    * against (the relation node, or the synthetic join over the
    * query's own relation nodes). `partial` marks a PARTIAL-star
    * serve: view keys and measures living on the left-out (neutral)
    * dims do not resolve in the partial scope — the keys simply roll
    * up (the query cannot group or filter on what it never joined)
    * and the measures drop out of the lookup; in a full match both
    * stay strict, so a resolution failure falls back instead of
    * serving.
    */
  private def rewriteWith(spark: SparkSession, agg: Aggregate,
      outAttrs: Seq[Attribute], anchor: LogicalPlan,
      filters: Seq[Expression], e: Entry,
      memo: Memo, partial: Boolean = false): Option[Aggregate] = {
    // view freshness pin: manifest version + declaration unchanged
    val cur = memo.declOf(e.viewPath).getOrElse(return None)
    if (cur.version != e.version || cur.keys != e.decl.keys ||
      cur.measures != e.decl.measures) return None

    val resolver = SQLConf.get.resolver
    // key name (manifest spelling) -> base attribute
    val keyAttr: Map[String, Attribute] = e.decl.keys.flatMap { k =>
      outAttrs.find(a => resolver(a.name, k)).map(k -> _)
    }.toMap
    if (!partial && keyAttr.size != e.decl.keys.size) return None
    val keyAttrSet = AttributeSet(keyAttr.values)
    val keyNameOf: Map[ExprId, String] =
      keyAttr.map { case (n, a) => a.exprId -> n }

    // filters may touch keys only
    if (!filters.forall(_.references.subsetOf(keyAttrSet))) return None

    // grouping expressions: key attributes, or any DETERMINISTIC
    // subquery-free expression over key attributes only — a
    // DERIVED-KEY rollup (month(day_key), substr(brand, 1, 4), …).
    // Coarser-than-key grouping is sound because every aggregate
    // this rewrite serves is re-aggregation-shaped already: the view
    // holds one row per FULL key tuple, and the emitted Aggregate
    // re-folds those rows under the derived groups (partial sums
    // re-sum, extrema re-fold, counters re-sum) exactly as the
    // direct plan folds the fact rows
    val groupExprs: Seq[Expression] = agg.groupingExpressions.map {
      case g if g.deterministic && !SubqueryExpression.hasSubquery(g)
          && g.references.subsetOf(keyAttrSet) => g
      case _ => return None
    }

    // optimizer-normalized measure expressions over THIS query's own
    // relation instance(s), keyed by canonical form
    val ml = new MeasureLookup(spark, anchor, e.decl)
    if (!partial && !ml.complete) return None
    def measureFor(x: Expression, kind: String): Option[String] =
      ml.measureFor(x, kind)
    // sum-kind measures only — the null counter and every signed
    // rewrite path must never land on an append-only extremum
    def sumMeasure(x: Expression): Option[String] =
      ml.sumMeasure(x)

    val parts: Option[Seq[Int]] =
      kbPartsFor(filters, keyAttrSet, keyNameOf, e)

    // the pushed key predicate, re-addressed to the view's columns
    val whereCol: Option[Column] = filters.reduceOption(And).map { c =>
      GraftBridge.column(c.transform {
        case a: AttributeReference if keyAttrSet.contains(a) =>
          UnresolvedAttribute.quoted(keyNameOf(a.exprId))
      })
    }

    val viewPlan = GraftBridge.analyzedPlan(
      AggView.readFor(spark, e.viewPath, whereCol, parts))
    val vOut = viewPlan.output
    // .get: a missing column is impossible by construction (readFor
    // serves keys/cnt/measures); if it ever happens the Rule-level
    // NonFatal guard turns it into a skipped rewrite
    def vAttr(name: String): Attribute =
      vOut.find(a => resolver(a.name, name)).get
    val cntAttr = vAttr("cnt")

    def counterMeasure(e: Expression): Option[String] =
      ml.counterMeasure(e)

    def rewriteAgg(ae: AggregateExpression): Option[Expression] = {
      // a FILTER clause over KEY columns only commutes with the
      // rollup: the predicate is uniform across every fact row of a
      // key tuple (it reads nothing else), so filtering the view's
      // group rows keeps exactly the groups whose fact rows the
      // direct plan kept — re-address it to the view's columns and
      // carry it on every re-aggregate this rewrite emits. A filter
      // touching anything else refuses
      val vFilter: Option[Expression] = ae.filter match {
        case None => None
        case Some(f) if f.deterministic &&
            !SubqueryExpression.hasSubquery(f) &&
            f.references.nonEmpty &&
            f.references.subsetOf(keyAttrSet) =>
          Some(f.transform {
            case a: AttributeReference if keyAttrSet.contains(a) =>
              vAttr(keyNameOf(a.exprId))
          })
        case _ => return None
      }
      def withF(x: AggregateExpression): AggregateExpression =
        if (vFilter.isEmpty) x else x.copy(filter = vFilter)
      if (ae.isDistinct) {
        // a DISTINCT aggregate whose inputs are KEY columns only
        // forwards VERBATIM (count/sum/avg DISTINCT key, …): the
        // served view's key tuples are exactly the live fact
        // groups (liveAgg drops `__cnt ≤ 0`, one row per distinct
        // tuple), and DISTINCT collapses precisely the row
        // multiplicity the rollup absorbed — per group, the
        // distinct key-value set over the view equals the one over
        // the facts. Distinct over a MEASURE expression has no
        // such set in the rollup and falls back
        val f = ae.aggregateFunction
        return if (f.deterministic && f.references.nonEmpty &&
            f.references.subsetOf(keyAttrSet) &&
            !SubqueryExpression.hasSubquery(f)) {
          val nf = f.transform {
            case a: AttributeReference if keyAttrSet.contains(a) =>
              vAttr(keyNameOf(a.exprId))
          }.asInstanceOf[aggregate.AggregateFunction]
          Some(ae.copy(aggregateFunction = nf, filter = vFilter))
        } else None
      }
      ae.aggregateFunction match {
        case Count(children)
            if children.nonEmpty &&
              children.forall(c => c.foldable && c.eval() != null) =>
          // count(*) / count(<non-null literal>) = total row count
          Some(Coalesce(Seq(
            withF(Sum(cntAttr).toAggregateExpression()), Literal(0L))))
        case Count(Seq(e)) if !e.foldable =>
          // count(col): the view must carry E's null counter
          counterMeasure(e).map { cName =>
            Coalesce(Seq(
              withF(Sum(vAttr(cName)).toAggregateExpression()),
              Literal(0L)))
          }
        case a: Average if ae.dataType == DoubleType =>
          // avg(E) = sum-measure / counter-measure. The divisor is
          // NULL'd when 0 (an all-null group), so the result is null
          // exactly like the direct plan — and never an ANSI
          // divide-by-zero. Double-typed averages only: a decimal
          // average's scale arithmetic is not replayed here.
          for {
            sName <- sumMeasure(a.child.canonicalized)
            cName <- counterMeasure(a.child)
          } yield {
            val s = Cast(
              withF(Sum(vAttr(sName)).toAggregateExpression()),
              DoubleType)
            val c = Cast(
              withF(Sum(vAttr(cName)).toAggregateExpression()),
              DoubleType)
            Divide(s,
              If(EqualTo(c, Literal(0d)), Literal(null, DoubleType), c))
          }
        case s: Sum =>
          // ANSI note: re-aggregates the view's partial sums — see
          // the object doc's ANSI-divergence contract
          sumMeasure(s.child.canonicalized).map { mName =>
            val re = withF(Sum(vAttr(mName)).toAggregateExpression())
            if (re.dataType == ae.dataType) re else Cast(re, ae.dataType)
          }
        case m: Min =>
          // min of the per-group partial mins — exact for a declared
          // APPEND-ONLY min measure (delete paths refuse at the
          // artifact, so the rollup's extrema are the facts')
          measureFor(m.child.canonicalized, "min").map { name =>
            val re = withF(Min(vAttr(name)).toAggregateExpression())
            if (re.dataType == ae.dataType) re
            else Cast(re, ae.dataType)
          }
        case m: Max =>
          measureFor(m.child.canonicalized, "max").map { name =>
            val re = withF(Max(vAttr(name)).toAggregateExpression())
            if (re.dataType == ae.dataType) re
            else Cast(re, ae.dataType)
          }
        case _ => None
      }
    }

    def rewriteExpr(expr: Expression): Option[Expression] = expr match {
      case ae: AggregateExpression => rewriteAgg(ae)
      case a: AttributeReference if keyAttrSet.contains(a) =>
        Some(vAttr(keyNameOf(a.exprId)))
      case _: AttributeReference => None
      case _: Literal => Some(expr)
      case other =>
        val kids = other.children.map(rewriteExpr)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }

    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if keyAttrSet.contains(a) =>
        Alias(vAttr(keyNameOf(a.exprId)), a.name)(exprId = a.exprId)
      case al: Alias =>
        rewriteExpr(al.child) match {
          case Some(c) => Alias(c, al.name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }
    val newGroups = groupExprs.map(_.transform {
      case a: AttributeReference if keyAttrSet.contains(a) =>
        vAttr(keyNameOf(a.exprId))
    })
    val out = Aggregate(newGroups, newAggExprs, viewPlan)

    // never emit a plan whose output differs from the original
    val same = out.output.size == agg.output.size &&
      out.output.zip(agg.output).forall { case (n, o) =>
        n.exprId == o.exprId && n.name == o.name && n.dataType == o.dataType
      }
    if (same) Some(out) else None
  }

  /** Canonical-form resolution of query expressions against the
    * view's declared measures — shared by the flat/star serve path
    * ([[rewriteWith]]) and the grouping-sets path
    * ([[expandRewriteWith]]). Several measures may normalize to ONE
    * canonical expression (the same E declared as sum AND min AND
    * max is the natural extrema view) — grouped, looked up BY KIND.
    */
  private final class MeasureLookup(spark: SparkSession,
      anchor: LogicalPlan, decl: AggView.Decl) {
    private val normalized: Seq[(Expression, AggView.Measure)] =
      decl.measures.flatMap { m =>
        normalizedMeasure(spark, anchor, m.sqlExpr).map(_ -> m)
      }
    /** Every declared measure resolved against this anchor — required
      * for full matches; a PARTIAL star match resolves only the
      * measures living on its matched scope. */
    val complete: Boolean = normalized.size == decl.measures.size
    private val byExpr: Map[Expression, Seq[AggView.Measure]] =
      normalized.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def measureFor(x: Expression, kind: String): Option[String] =
      byExpr.getOrElse(x, Nil).find(_.kind == kind).map(_.name)
    def sumMeasure(x: Expression): Option[String] = measureFor(x, "sum")
    /** E's NULL-COUNTER measure: a declared measure whose normalized
      * form is `CASE WHEN E IS NULL THEN 0 ELSE 1 END` (or the IF
      * spelling) — what makes count(E) and avg(E) derivable from the
      * rollup despite their null-skipping semantics. Probed on
      * demand: the candidate counter is BUILT from the query's own
      * (already-normalized) E and run through the same optimizer
      * normal form the declared measures got.
      */
    def counterMeasure(e: Expression): Option[String] = {
      def probe(x: Expression): Option[String] =
        try {
          val tiny = Project(Seq(Alias(x, "__m")()), anchor)
          GraftBridge.optimize(spark, GraftBridge.analyze(spark, tiny))
            .collectFirst { case Project(Seq(a: Alias), _) =>
              a.child.canonicalized
            }.flatMap(sumMeasure)
        } catch { case NonFatal(_) => None }
      probe(CaseWhen(Seq((IsNull(e), Literal(0))), Some(Literal(1))))
        .orElse(probe(If(IsNull(e), Literal(0), Literal(1))))
    }
  }

  /** Parse, analyze, and optimizer-normalize one measure expression
    * against the query's own relation node (so attribute ids line up
    * and canonical comparison with the query side is exact).
    */
  private def normalizedMeasure(spark: SparkSession,
      anchor: LogicalPlan, sqlExpr: String): Option[Expression] =
    try {
      val parsed = GraftBridge.parseExpression(spark, sqlExpr)
      val tiny = Project(Seq(Alias(parsed, "__m")()), anchor)
      val norm = GraftBridge.optimize(spark, GraftBridge.analyze(spark, tiny))
      norm.collectFirst {
        case Project(Seq(a: Alias), _) if a.child.resolved =>
          a.child.canonicalized
      }
    } catch { case NonFatal(_) => None }
}
