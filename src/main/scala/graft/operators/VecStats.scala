package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted per-dimension vector statistics — the dataset-monitoring
  * artifact of the index family: per-dim `(count, Σv, Σv²)` over an
  * integer-quantized embedding corpus, under the [[IndexDirs]]
  * manifest discipline and the [[LmIndex]] pure-sum algebra.
  *
  * A training-data pipeline watches its embedding distribution for
  * DRIFT (a new crawl slice, a changed encoder, a poisoned source
  * shifts per-dimension means long before anything downstream fails).
  * The monitoring state is tiny — `dims` rows of three integers — but
  * computing it is a full corpus scan, so it earns the artifact
  * treatment:
  *
  * {{{
  *   <path>/stats/  parquet: (dim INT, __c BIGINT, __s BIGINT,
  *                  __s2 BIGINT) — per-dim component count, sum, and
  *                  sum of squares over the QUANTIZED (BIGINT) vector
  *                  components; pure integer sums, exact and
  *                  cross-engine replayable
  *   <path>/ids/    parquet, partitionBy(ib): (<id>, __ch, __lw ±1) —
  *                  the doc ledger (content-hash-verified deletes,
  *                  the family rule); ib = pmod(xxhash64(<id>),
  *                  ibParts), so every append/delete guard reads only
  *                  the buckets its own delta ids hash to (the
  *                  [[Bm25Index]] dlb recipe — an id absent everywhere
  *                  cannot hide outside its hash bucket), never the
  *                  whole corpus-sized ledger
  *   <path>/deltas/d<N>/{stats,ids}  appended (or count-NEGATED) rows
  *   <path>/manifest.json — written LAST (atomic commit marker)
  * }}}
  *
  * Append = the delta's per-dim sums, O(delta); delete = the SAME
  * rows negated (takedowns subtract right back out — after a
  * [[compactDeltas]]/[[purge]] the artifact is bit-for-bit the one
  * computed without the deleted vectors); same-batch delete + insert
  * of an id through [[applyBatch]] is a legal update. Integer sums
  * are exact for up to ~2.7e13 components per dimension at the
  * [[Similarity.quantize]] ±580·scale range — shard the artifact per
  * corpus slice beyond that.
  *
  * Reference grounding: immutable loaded artifacts serving every
  * request (directory/directory.go:230-240), applied to monitoring
  * state.
  */
object VecStats extends SignedArtifact[VecLayout] {

  def fingerprint(corpus: DataFrame, idCol: String,
      vecCol: String): (Long, Long) =
    IndexDirs.contentFingerprint(corpus, Seq(idCol, vecCol))

  // ibp IS layout — a different ids bucketing must rebuild; a
  // pre-bucketing manifest reads ibp=0, which can never match a
  // requested layout — it rebuilds once, safely
  override protected def readDecl(r: IndexDirs.ManifestReader) =
    VecLayout(r.str("id"), r.str("vec"), r.intOr("ibp", 0))

  override protected def writeDecl(w: IndexDirs.ManifestWriter,
      d: VecLayout) =
    w.put("id", d.id).put("vec", d.vec).put("ibp", d.ibp)

  override protected def fpOf(rows: DataFrame, d: VecLayout) =
    fingerprint(rows, d.id, d.vec)

  /** The per-dim signed sums of `df` — one exploded pass, map-side
    * combined into ≤ dims rows.
    */
  private def dimSums(df: DataFrame, vecCol: String,
      sign: Int): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy("dim")
      .agg((count(lit(1)) * sign).as("__c"),
        (sum(col("__v")) * sign).as("__s"),
        (sum(col("__v") * col("__v")) * sign).as("__s2"))

  override protected def stage(docs: DataFrame, sign: Int, mf: Mf,
      path: String, root: String): Long = {
    val VecLayout(idCol, vecCol, ibp) = mf.decl
    dimSums(docs, vecCol, sign).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/stats")
    IdLedger.write(docs.select(col(idCol),
        xxhash64(col(idCol), col(vecCol)).as("__ch"),
        lit(sign).as("__lw")), idCol, ibp, s"$root/ids")
    0L
  }

  /** Per-dim sums of `roots`, summed per dim. */
  private def sums(spark: SparkSession, roots: Seq[String]): DataFrame =
    roots.map(spark.read.parquet(_)).reduce(_.unionByName(_))
      .groupBy("dim")
      .agg(sum(col("__c")).as("__c"), sum(col("__s")).as("__s"),
        sum(col("__s2")).as("__s2"))

  /** Live aggregated per-dim sums: base ∪ committed deltas, summed
    * per dim, zero-count dims dropped.
    */
  private def liveStats(spark: SparkSession, path: String,
      mf: Mf): DataFrame =
    sums(spark, mf.roots(path, "stats")).filter(col("__c") > 0)

  /** The ledger read every append/delete guard runs: pruned to the
    * probe ids' own ib buckets (O(delta buckets), never the whole
    * corpus ledger) — an id not present anywhere cannot hide outside
    * its hash bucket, so the prune never weakens the guard.
    * Package-visible so the spec pins the pruned scan in the plan.
    */
  private[operators] def liveIdsForProbe(spark: SparkSession,
      path: String, probeIds: DataFrame): DataFrame = {
    val mf = live(path)
    ledgerOf(spark, path, mf, probeIds)(mf)
  }

  private def ledgerOf(spark: SparkSession, path: String,
      mf: Mf, probeIds: DataFrame): Mf => DataFrame = {
    val read = IdLedger.liveFor(spark, mf.decl.id, mf.decl.ibp, probeIds)
    have => read(have.roots(path, "ids"))
  }

  def buildIfAbsent(corpus: DataFrame, vecCol: String, idCol: String,
      path: String, ibParts: Int = 32): Build = {
    val (fp, n) = fingerprint(corpus, idCol, vecCol)
    val want = Artifact.Manifest(VecLayout(idCol, vecCol, ibParts), fp, n)
    buildOr(path, want)(stage(corpus, 1, want, path, path))
  }

  override protected def insertGuard(delta: DataFrame, decl: Mf,
      dn: Long, path: String): Guard = {
    val probeIds = delta.select(col(decl.decl.id)).distinct()
      .localCheckpoint(false)
    val ledger = ledgerOf(delta.sparkSession, path, decl, probeIds)
    have => {
      val dupes = ledger(have)
        .select(col(have.decl.id))
        .join(broadcast(probeIds), Seq(have.decl.id), "left_semi").count()
      require(dupes == 0,
        s"append delta shares $dupes live id(s) with the stats " +
          s"at $path — double-counted sums (pass checkDisjoint " +
          "= false only when upstream proves disjointness)")
    }
  }

  def append(delta: DataFrame, path: String,
      checkDisjoint: Boolean): Build =
    insert(delta, path, checkDisjoint, None)

  def appendBatch(batch: DataFrame, batchId: Long, path: String,
      checkDisjoint: Boolean): Build =
    insert(batch, path, checkDisjoint, Some(batchId))

  /** Delete = append of negated sums; `checkPresent` verifies both
    * liveness AND content against the ledger's per-id hash (the
    * family rule — stale vectors would stage negations that never
    * cancel).
    */
  def delete(delta: DataFrame, path: String,
      checkPresent: Boolean = true): Build =
    remove(delta, path) { (decl, dn) =>
      val VecLayout(id, vec, _) = decl.decl
      val probe = delta.select(col(id), xxhash64(col(id), col(vec)).as("__pch"))
        .distinct().localCheckpoint(false)
      if (checkPresent) require(probe.count() == dn,
        s"delete delta has duplicate $id rows")
      val ledger = ledgerOf(delta.sparkSession, path, decl, probe)
      have => if (checkPresent) {
        val (nLive, same) = IdLedger.presence(ledger(have), id, probe)
        require(nLive == dn,
          s"delete delta names ${dn - nLive} id(s) not live in " +
            s"the stats at $path")
        require(same == dn,
          s"delete delta vectors differ from the indexed vectors for " +
            s"${dn - same} id(s) at $path — negated sums " +
            "computed from stale vectors would never cancel")
      }
    }

  /** Fold the delta stream into one directory (negatives kept — they
    * must go on cancelling base rows until a [[purge]]).
    */
  override protected def fold(spark: SparkSession, path: String, mf: Mf,
      folded: Seq[String], root: String): Unit = {
    sums(spark, folded.map(d => s"$path/deltas/$d/stats"))
      .filter(col("__c") =!= 0 || col("__s") =!= 0 || col("__s2") =!= 0)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$root/stats")
    IdLedger.write(
      IdLedger.fold(spark, folded.map(d => s"$path/deltas/$d/ids"),
        mf.decl.id), mf.decl.id, mf.decl.ibp, s"$root/ids")
  }

  override protected def baseSubs(mf: Mf) = Seq("stats", "ids")

  /** Survivors-only semantic rewrite into versioned base dirs. */
  override protected def rewrite(spark: SparkSession, path: String,
      mf: Mf, ver: Int): Long = {
    liveStats(spark, path, mf).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/stats.v$ver")
    val kept = IdLedger.live(spark, mf.roots(path, "ids"), mf.decl.id)
      .localCheckpoint(false)
    IdLedger.write(kept.withColumn("__lw", lit(1)), mf.decl.id,
      mf.decl.ibp, s"$path/ids.v$ver")
    kept.count()
  }

  private def meanCol(s: Column, c: Column): Column =
    s.cast("double") / c

  /** The served summary: per-dim (dim, n, mean, std) over the LIVE
    * corpus — exact integer sums divided once at the end, so the
    * values replay bit-for-bit in any engine.
    */
  def summary(spark: SparkSession, path: String): DataFrame =
    statsSummary(liveStats(spark, path, live(path)))

  /** Committed manifest versions, ascending — the valid arguments to
    * [[summaryAsOf]].
    */
  def versions(path: String): Seq[Long] =
    IndexDirs.listManifestVersions(path)

  /** TIME-TRAVEL serve: the summary exactly as it stood at a retained
    * manifest `version` (the [[AggView.readAsOf]] contract — the
    * window closes when a later compaction/purge GC'd the files the
    * version lists; then this throws, never serving a silently-wrong
    * summary). With [[IndexPipeline.pinnedVersions]], a fleet reader
    * serves every artifact at one common batch watermark.
    */
  def summaryAsOf(spark: SparkSession, path: String,
      version: Long): DataFrame = {
    val mf = retained(path, version, "stats")
    statsSummary(liveStats(spark, path, mf))
  }

  private def statsSummary(stats: DataFrame): DataFrame =
    stats.select(col("dim"), col("__c").as("n"),
      round(meanCol(col("__s"), col("__c")), 4).as("mean"),
      round(sqrt(greatest(
        col("__s2").cast("double") / col("__c") -
          meanCol(col("__s"), col("__c")) *
          meanCol(col("__s"), col("__c")),
        lit(0.0))), 4).as("std"))

  /** DRIFT of a new batch against the persisted corpus statistics:
    * per-dim `z = |batchMean − corpusMean| / corpusStd` (NULL where
    * the corpus dimension is constant). The batch pays one exploded
    * aggregate (≤ dims rows, broadcast); the corpus side reads the
    * tiny persisted stats table — no corpus scan anywhere. The
    * monitoring question every ingest asks, answered at the cost of
    * the batch.
    */
  def drift(spark: SparkSession, path: String, batch: DataFrame,
      vecCol: String): DataFrame = {
    val mf = live(path)
    val corpus = liveStats(spark, path, mf)
      .select(col("dim"), col("__c"), col("__s"), col("__s2"))
    val b = dimSums(batch, vecCol, 1)
      .select(col("dim"), col("__c").as("__bc"), col("__s").as("__bs"))
    val cm = meanCol(col("__s"), col("__c"))
    val std = sqrt(greatest(
      col("__s2").cast("double") / col("__c") - cm * cm, lit(0.0)))
    corpus.join(broadcast(b), Seq("dim"))
      .select(col("dim"),
        round(cm, 4).as("corpus_mean"),
        round(meanCol(col("__bs"), col("__bc")), 4).as("batch_mean"),
        round(abs(meanCol(col("__bs"), col("__bc")) - cm) /
          when(std > 0, std), 4).as("z"))
  }
}

/** [[VecStats]]' declaration: columns and ledger bucketing. */
private[operators] final case class VecLayout(id: String, vec: String,
    ibp: Int)
