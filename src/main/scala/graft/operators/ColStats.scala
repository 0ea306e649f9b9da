package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.StableHash
import graft.functions.StrExtremaAgg.{str_max, str_min}

/** Persisted per-column table statistics — the lakehouse stats layer
  * as an incrementally-maintained artifact under the [[IndexDirs]]
  * manifest discipline.
  *
  * Every query planner, data-quality dashboard, and ingest monitor
  * wants the same per-column profile — row/null counts, min/max,
  * sums, distinct-count estimates — and computing it is a full table
  * scan, so at 100 TB it earns the artifact treatment: pay the scan
  * once at build, then fold each ingest batch's partial profile in
  * at O(batch).
  *
  * Layout:
  * {{{
  *   <path>/scalar/   parquet, ≤ |cols| rows: (col_name, kind,
  *                    n_rows, n_nulls, min_num, max_num, sum_num,
  *                    min_str, max_str, sum_len, max_len) — exact
  *                    integer/string aggregates (length stats for
  *                    str columns: the honest row-width input a cost
  *                    model needs), cross-engine replayable
  *   <path>/regs/     parquet, ≤ |cols|·64 rows: (col_name, bucket,
  *                    register) — SPARSE per-column HLL registers
  *                    (m = 64, the [[Hll.md5Hash]] 60-bit hash over
  *                    the rendered value, so DuckDB replays every
  *                    register); serve densifies via a spine
  *   <path>/deltas/d<N>/{scalar,regs}  a batch's partial profile
  *   manifest.m<K>.json — [[IndexDirs]] atomic versioned commits
  * }}}
  *
  * ALGEBRA — append-only by design. Counts and sums are pure sums;
  * min/max and HLL registers are MONOTONE merges (min/min, max/max,
  * per-bucket max): all compose associatively across deltas, so
  * append = one partial-profile pass over the batch and compaction
  * is a fold. None of min/max/registers is RETRACTABLE — removing
  * rows can't shrink a max or un-set a register — so [[delete]] and
  * delete ops in [[applyBatch]] REFUSE with rebuild guidance instead
  * of silently serving stats a retraction has falsified (the honest
  * contract; [[AggView]] documents the same boundary for its
  * non-sum measures). The composed fingerprint makes the served
  * profile's provenance checkable: a survivors-only rebuild after
  * upstream deletes reuses iff nothing else changed.
  *
  * Multi-writer: commits ride the [[Artifact]] kernel's staged
  * commit (anchored optimistic commits with the retry-loop liveness;
  * a lost race GC's its staging), exactly-once streaming via the
  * `batchId <= lastBatch` skip — the family rules.
  */
object ColStats extends SignedArtifact[ColLayout] {

  /** m = 64 registers (bucketBits 6) over [[Hll.md5Hash]]'s 60-bit
    * value — fixed, so every engine replays the same registers.
    */
  private val BucketBits = 6
  private val HashBits = 60

  /** On-disk format version. 2 added the `hist/` log₂ histogram
    * table; 3 added string LENGTH stats (`sum_len`/`max_len` — what
    * a cost model needs for honest row-width estimates, see
    * [[graft.plans.ColStatsInjection]]). `sameIndexAs` includes it,
    * so an artifact written by an older format rebuilds instead of
    * serving a table it never wrote.
    */
  private val Fmt = 3

  override protected def noun = "stats"

  override protected def readDecl(r: IndexDirs.ManifestReader) =
    ColLayout(r.seq("num"), r.seq("str"), r.intOr("fmt", 1),
      r.intOr("lg", 0))

  override protected def writeDecl(w: IndexDirs.ManifestWriter,
      d: ColLayout) =
    w.put("num", d.numCols).put("str", d.strCols).put("fmt", d.fmt)
      .put("lg", d.lg)

  // the ledger flag says whether a build wrote a ledger, not what the
  // profile is
  override protected def sameDecl(a: ColLayout, b: ColLayout) =
    a.copy(lg = 0) == b.copy(lg = 0)

  override protected def fpOf(rows: DataFrame, d: ColLayout) =
    fingerprint(rows, d.numCols, d.strCols)

  /** Signed log₂ magnitude bucket of a BIGINT — pure integer
    * arithmetic both engines replay bit-for-bit: 0 → bucket 0,
    * v > 0 → bit-length(v) (so bucket b covers [2^(b-1), 2^b − 1]),
    * v < 0 → −bit-length(−v) (mirrored). `Long.MinValue` is outside
    * the replayable domain (−v overflows; Spark wraps to −64, DuckDB
    * errors) — fine for rendered data, documented not defended.
    */
  private[operators] def histBucket(v: Column): Column =
    when(v === 0L, lit(0))
      .when(v > 0L, length(bin(v)).cast("int"))
      .otherwise(-length(bin(-v)).cast("int"))

  /** The HLL (bucket, rho) pair of a RENDERED value — the `hl` grain
    * of [[Profile.aggregate]].
    */
  private[operators] def hllBucketRho(vstr: Column): (Column, Column) = {
    val h = shiftrightunsigned(
      shiftleft(StableHash.md5Int60(concat(lit("hll:"), vstr)),
        64 - HashBits), 64 - HashBits)
    val w = HashBits - BucketBits
    val rest = shiftrightunsigned(h, BucketBits)
    (h.bitwiseAND(lit(((1 << BucketBits) - 1).toLong)),
      when(rest === 0L, lit(w + 1))
        .otherwise(lit(w + 1) - length(bin(rest))))
  }

  def fingerprint(df: DataFrame, numCols: Seq[String],
      strCols: Seq[String]): (Long, Long) =
    IndexDirs.contentFingerprint(df, numCols ++ strCols)

  /** [[fingerprint]] grouped per source FILE — the per-file partials
    * a pin refresh ([[graft.plans.PinnedBridge.verifyDelta]])
    * stores so later refreshes fingerprint only NEW files and
    * compose the rest (O(delta)). `df` must be a bare file scan.
    */
  def fingerprintByFile(df: DataFrame, numCols: Seq[String],
      strCols: Seq[String]): Map[String, (Long, Long)] =
    IndexDirs.contentFingerprintByFile(df, numCols ++ strCols)

  /** The batch's partial profile — ONE [[Profile.aggregate]] pass
    * over the ColStats grains at table grain (guide §1.2/§2.4: remove
    * passes before tuning anything else): scalar (`sc`), histogram
    * (`hi`) and HLL (`hl`) entries explode from ONE scan, one
    * map-side-combined aggregate reduces them to ≤ |cols| × (1 + 129 +
    * 64) rows, and [[Profile.colStatsWriters]] writes the three tables
    * as re-aggregations of that checkpointed metadata-scale set,
    * CONCURRENTLY (guide §2.6). On a merge-on-read input the LWW
    * fold is evaluated once. The ColStatsSpec golden values and the
    * q222/q223/q226 oracle twins gate this path directly.
    */
  override protected def stage(df: DataFrame, sign: Int, mf: Mf,
      path: String, root: String): Long = {
    val ColLayout(numCols, strCols, _, _) = mf.decl
    val agg = Profile.aggregate(df, Profile.ColStatsGrains, numCols,
      strCols, byFile = false).localCheckpoint()
    Par.inParallel(Profile.colStatsWriters(agg, root))
    0L
  }

  /** The scalar-profile MERGE (base ∪ deltas → one row per column):
    * sums compose as sums, extrema as extrema — shared by the live
    * read and compaction so the two can never disagree.
    */
  private def mergeScalar(parts: Seq[DataFrame]): DataFrame =
    parts.reduce(_.unionByName(_))
      .groupBy("col_name", "kind")
      .agg(sum("n_rows").as("n_rows"), sum("n_nulls").as("n_nulls"),
        min("min_num").as("min_num"), max("max_num").as("max_num"),
        sum("sum_num").as("sum_num"),
        str_min(col("min_str")).as("min_str"),
        str_max(col("max_str")).as("max_str"),
        sum("sum_len").as("sum_len"), max("max_len").as("max_len"))

  /** The register and histogram MERGES (per-bucket max, per-bucket
    * sum) — shared like [[mergeScalar]].
    */
  private def mergeRegs(parts: Seq[DataFrame]): DataFrame =
    parts.reduce(_.unionByName(_))
      .groupBy("col_name", "bucket")
      .agg(max("register").cast("int").as("register"))

  private def mergeHist(parts: Seq[DataFrame]): DataFrame =
    parts.reduce(_.unionByName(_))
      .groupBy("col_name", "bucket")
      .agg(sum("cnt").as("cnt"))

  /** The three tables with their merges. */
  private val tables: Seq[(String, Seq[DataFrame] => DataFrame)] =
    Seq("scalar" -> mergeScalar, "regs" -> mergeRegs, "hist" -> mergeHist)

  private def merged(spark: SparkSession, roots: Seq[String],
      sub: String): DataFrame =
    tables.toMap.apply(sub)(roots.map(spark.read.parquet(_)))

  private def liveScalar(spark: SparkSession, path: String,
      mf: Mf): DataFrame =
    merged(spark, mf.roots(path, "scalar"), "scalar")

  private def liveRegs(spark: SparkSession, path: String,
      mf: Mf): DataFrame =
    merged(spark, mf.roots(path, "regs"), "regs")

  private def liveHist(spark: SparkSession, path: String,
      mf: Mf): DataFrame =
    merged(spark, mf.roots(path, "hist"), "hist")

  /** `df` must be DETERMINISTIC (a table/view whose plan replays the
    * same rows): the fingerprint and the three profile passes each
    * evaluate it independently — a sampled/rand()-derived input
    * would commit mutually inconsistent tables. Snapshot such inputs
    * (e.g. `localCheckpoint`) before profiling; [[applyBatch]]
    * already does for its micro-batches.
    */
  def buildIfAbsent(df: DataFrame, numCols: Seq[String],
      strCols: Seq[String], path: String): Build = {
    require((numCols ++ strCols).nonEmpty, "declare at least 1 column")
    require(numCols.intersect(strCols).isEmpty,
      s"columns declared both num and str: " +
        numCols.intersect(strCols).mkString(","))
    // bare-scan input: the fingerprint pass runs grouped by source
    // file (same scan) and the partials persist as a `ledger` table
    // beside the profile — what lets the stats bridge's registration
    // seed its pin-refresh partials SCAN-FREE (a partitioned base
    // included). The AggView recipe.
    val (fp, n, ledgerRows) = Ledger.files(df) match {
      case Some(files) =>
        Ledger.compose(files, fingerprintByFile(df, numCols, strCols))
      case None =>
        val (fp, n) = fingerprint(df, numCols, strCols)
        (fp, n, None)
    }
    val want = Artifact.Manifest(ColLayout(numCols, strCols, Fmt,
      if (ledgerRows.isDefined) 1 else 0), fp, n)
    buildOr(path, want) {
      ledgerRows.foreach(Ledger.write(df.sparkSession, _, path))
      stage(df, 1, want, path, path)
    }
  }

  /** The build-time per-file CONTENT-FINGERPRINT ledger: file key →
    * (length, mtime, fp partial, row count) over the declared
    * columns — one row per base file the build scanned, computed in
    * the build's fingerprint pass itself. What
    * [[graft.plans.ColStatsInjection.register]] seeds its
    * pin-refresh partials from. None for profiles built before the
    * ledger existed or over non-bare inputs.
    */
  def fingerprintLedger(spark: SparkSession,
      path: String): Option[Map[String, (Long, Long, Long, Long)]] =
    Ledger.read(spark, path, live(path).decl.lg)

  /** Scalar writers refuse a pre-format-3 artifact ([[requireFmt3]]). */
  override protected def checkWritable(mf: Mf, path: String): Unit =
    requireFmt3(mf, path)

  /** REFUSED: min/max and HLL registers are monotone, not
    * retractable — serving them after a row removal would be a lie.
    * Rebuild from the surviving rows instead (the fingerprint makes
    * the rebuild a no-op when nothing else changed). A CDC batch
    * carrying ANY delete row refuses whole, before anything stages.
    */
  def delete(delta: DataFrame, path: String): Build =
    refuseDelete(null, path)

  override protected def refuseDelete(mf: Mf, path: String): Nothing =
    throw new UnsupportedOperationException(
      s"column statistics at $path are append-only: min/max and " +
        "distinct-count registers cannot retract rows — rebuild " +
        "with buildIfAbsent over the surviving rows")

  override protected def compactible(mf: Mf): Boolean = mf.decl.fmt >= 3

  /** Fold deltas — same serve state, fewer files; all merges are
    * monotone or sums, so the fold is exact. The three table folds are
    * independent metadata-scale jobs, run CONCURRENTLY (guide §2.6).
    */
  override protected def fold(spark: SparkSession, path: String, mf: Mf,
      folded: Seq[String], root: String): Unit =
    Par.inParallel(tables.map { case (sub, _) => () =>
      merged(spark, folded.map(d => s"$path/deltas/$d/$sub"), sub)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/$sub")
    })

  override protected def baseSubs(mf: Mf) = tables.map(_._1)

  /** [[purge]]: base ∪ deltas merged into one versioned base — the
    * fold above, extended over the base. Returns the profiled row
    * count.
    */
  override protected def rewrite(spark: SparkSession, path: String,
      mf: Mf, ver: Int): Long = {
    requireFmt3(mf, path)
    Par.inParallel(tables.map { case (sub, _) => () =>
      merged(spark, mf.roots(path, sub), sub)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/$sub.v$ver")
    })
    mf.n
  }

  /** The merged per-column profile: ≤ |cols| rows, exact integer /
    * string aggregates — (col_name, kind, n_rows, n_nulls, min_num,
    * max_num, sum_num, min_str, max_str).
    */
  /** The scalar table's shape changed at format 3 (string-length
    * stats): serving or APPENDING INTO an older artifact would throw
    * an unresolved-column error — or worse, commit a mixed-schema
    * delta that poisons every later read — so scalar readers and
    * mutators refuse with rebuild guidance instead. (`registers`/
    * `hist`/`ndv`/`quantiles` are format-stable and keep serving.)
    */
  private def requireFmt3(mf: Mf, path: String): Unit =
    require(mf.decl.fmt >= 3,
      s"column statistics at $path were written by format ${mf.decl.fmt} " +
        "(scalar table without string-length stats) — rebuild with " +
        "buildIfAbsent to upgrade")

  def stats(spark: SparkSession, path: String): DataFrame = {
    val mf = live(path)
    requireFmt3(mf, path)
    liveScalar(spark, path, mf)
  }

  /** The committed manifest VERSION of the artifact — every
    * build/append/compact/applyBatch commit is a higher version, so
    * this is the freshness pin a consumer
    * ([[graft.plans.ColStatsInjection]]) re-checks before trusting a
    * profile it registered earlier.
    */
  def version(path: String): Long =
    live(path).mv

  /** The artifact's committed declaration + freshness pins: the
    * declared column lists, the manifest version (the staleness pin a
    * consumer re-checks), the composed content FINGERPRINT of
    * everything the profile absorbed (what [[fingerprint]] of a
    * consistent base reproduces — the pin-REFRESH verification of
    * [[graft.plans.PinnedBridge.verifyDelta]]), and the live row
    * count.
    */
  final case class Decl(numCols: Seq[String], strCols: Seq[String],
      version: Long, fp: Long, n: Long, lastBatch: Long = -1L)

  def declaration(path: String): Decl = {
    val mf = live(path)
    Decl(mf.decl.numCols, mf.decl.strCols, mf.mv, mf.fp, mf.n,
      mf.lastBatch)
  }

  /** The merged DENSE per-column HLL registers: |cols| × 64 rows,
    * untouched buckets as register 0 (a local spine from the
    * manifest's column list — metadata-scale).
    */
  def registers(spark: SparkSession, path: String): DataFrame = {
    val mf = live(path)
    import spark.implicits._
    val spine = (for {
      c <- mf.decl.numCols ++ mf.decl.strCols
      b <- 0 until (1 << BucketBits)
    } yield (c, b.toLong)).toDF("col_name", "bucket")
    spine.join(broadcast(liveRegs(spark, path, mf)),
        Seq("col_name", "bucket"), "left")
      .select(col("col_name"), col("bucket"),
        coalesce(col("register"), lit(0)).cast("int").as("register"))
  }

  /** The merged signed-log₂ value histogram of every numeric column:
    * (col_name, bucket, cnt), bucket = [[histBucket]] — counts are
    * pure sums, so deltas fold exactly and both engines replay every
    * bucket bit-for-bit. ≤ |numCols|·129 rows.
    */
  def hist(spark: SparkSession, path: String): DataFrame = {
    val mf = live(path)
    liveHist(spark, path, mf)
  }

  /** Per-column approximate quantiles from the merged histogram:
    * for each requested fraction q, the FIRST bucket whose cumulative
    * count reaches ⌈q·n_nonnull⌉, estimated at the bucket's value
    * midpoint — the true quantile provably lies inside the chosen
    * bucket's range (the histogram is exact), so the estimate is off
    * by at most half the bucket width (a factor ≤ 2 of the
    * magnitude, the log₂-histogram contract). Float math → spec
    * territory; the oracle pins [[hist]].
    *
    * The window runs partitioned by col_name over the ≤ 129-bucket
    * histogram — metadata-scale by construction.
    */
  def quantiles(spark: SparkSession, path: String,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantile fractions must be in (0, 1], got ${qs.mkString(",")}")
    import org.apache.spark.sql.expressions.Window
    val h = hist(spark, path)
    val w = Window.partitionBy("col_name").orderBy("bucket")
    val cum = h
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("total",
        sum("cnt").over(Window.partitionBy("col_name")))
    val fracs = explode(array(qs.map(lit): _*)).as("q")
    // value midpoint of a signed log2 bucket: b=0 → 0; b>0 →
    // (2^(b-1) + 2^b - 1)/2; b<0 mirrored negative
    val mid = {
      val b = col("bucket").cast("double")
      when(col("bucket") === 0, lit(0.0))
        .when(col("bucket") > 0,
          (pow(lit(2.0), b - 1) + pow(lit(2.0), b) - 1) / 2)
        .otherwise(-(pow(lit(2.0), -b - 1) + pow(lit(2.0), -b) - 1) / 2)
    }
    cum.select(col("col_name"), col("bucket"), col("cum"),
        col("total"), fracs)
      .filter(col("cum") >= ceil(col("q") * col("total")))
      .groupBy("col_name", "q")
      .agg(min("bucket").as("bucket"))
      .select(col("col_name"), col("q"), col("bucket"),
        round(mid, 4).as("estimate"))
  }

  /** Per-column distinct-count estimate from the merged registers
    * (the [[Hll.estimate]] formula per column; float math → spec
    * territory, the oracle pins the REGISTERS).
    */
  def ndv(spark: SparkSession, path: String): DataFrame = {
    val m = 1 << BucketBits
    val alpha = 0.709 // m = 64
    registers(spark, path)
      .groupBy("col_name")
      .agg(sum(pow(lit(2.0), -col("register"))).as("__z"),
        sum(when(col("register") === 0, 1L).otherwise(0L)).as("__v"))
      .select(col("col_name"), {
        val raw = lit(alpha * m.toDouble * m.toDouble) / col("__z")
        round(when(raw <= lit(2.5 * m) && col("__v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("__v")))
          .otherwise(raw), 2).as("ndv_est")
      })
  }
}

/** [[ColStats]]' declaration: profiled columns, format, and whether
  * the build wrote a per-file ledger (`lg`).
  */
private[operators] final case class ColLayout(numCols: Seq[String],
    strCols: Seq[String], fmt: Int, lg: Int)
