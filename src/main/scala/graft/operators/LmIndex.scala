package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.LmCounts

/** Persisted trigram-LM count artifact — the trained-model state of
  * [[TextAnalysis.stupidBackoff]] under the [[IndexDirs]] manifest
  * discipline.
  *
  * At 100 TB the LM count pass (tokenize + three n-gram hash
  * aggregates over the whole train corpus) dwarfs every scoring run
  * that uses it, and — unlike most trained models — n-gram counts
  * are PURE SUMS: shard counts merge by `groupBy(gram).sum`, a
  * removed document's counts subtract right back out. This module
  * turns that algebra into an on-disk artifact:
  *
  * {{{
  *   <path>/uni|bi|tri/    parquet count tables (gram, count)
  *   <path>/ids/           parquet (<id>, w ±1) — the doc ledger
  *                         backing the liveness/disjointness guards
  *   <path>/deltas/d<N>/{uni,bi,tri,ids}  appended (or, for deletes,
  *                         count-NEGATED) rows — visible only once
  *                         the manifest lists d<N>
  *   <path>/manifest.json  fingerprint + committed deltas — written
  *                         LAST (commit marker)
  * }}}
  *
  * Reads aggregate base ∪ committed deltas per gram and drop
  * `sum ≤ 0` rows, so an append is O(delta counts), a delete is an
  * append of negated counts (`fp' = fp ⊕ fold(delta)`, xor
  * self-inverse — the [[AnnIndex.delete]] rule without tombstones),
  * and [[compactDeltas]] is a SEMANTIC fold: it materializes the
  * aggregated sums and drops the zeros, after which a deleted doc
  * has no trace. The doc ledger (`ids`, weight ±1) makes the guards
  * exact: a doc is live iff its weight-sum is positive.
  *
  * Reference grounding: immutable loaded artifacts serving every
  * request (directory/directory.go:230-240), applied to LM state.
  */
object LmIndex extends GuardedArtifact[LmLayout] {

  /** Order-independent fingerprint over the raw train rows. */
  def fingerprint(docs: DataFrame, idCol: String,
      textCol: String): (Long, Long) =
    IndexDirs.contentFingerprint(docs, Seq(idCol, textCol))

  /** On-disk layout version: 1 added the per-id content hash column
    * to the ids ledger. Part of the reuse identity, so a pre-hash
    * artifact (reads as 0) rebuilds once instead of failing reads.
    */
  private val LayoutVersion = 1

  // st (the live token total) is derived state like the delta list —
  // the kernel's `acc`, it never gates reuse; gbParts IS layout (a
  // different gram bucketing must rebuild)
  override protected def accKey = Some("st")

  override protected def readDecl(r: IndexDirs.ManifestReader) =
    LmLayout(r.str("id"), r.str("text"), r.intOr("lv", 0),
      // pre-bucketing manifests read gb=0/ibp=0, which can never
      // match a requested layout — they rebuild once, safely
      r.intOr("gb", 0), r.intOr("ibp", 0))

  override protected def writeDecl(w: IndexDirs.ManifestWriter,
      d: LmLayout) =
    w.put("id", d.id).put("text", d.text).put("lv", d.lv)
      .put("gb", d.gbParts).put("ibp", d.ibp)

  override protected def fpOf(rows: DataFrame, d: LmLayout) =
    fingerprint(rows, d.id, d.text)

  private val tables = Seq(
    ("uni", "__w", "__cu"), ("bi", "__b", "__cb"), ("tri", "__t3", "__ct"))

  // max(,1): a legacy (gbParts = 0) artifact compacts/purges into one
  // gb=0 partition instead of a null-partition write
  private def gbCol(key: org.apache.spark.sql.Column, mf: Mf) =
    pmod(xxhash64(key), lit(math.max(mf.decl.gbParts, 1))).cast("int")

  /** Write the four tables of `docs` (scaled by `sign` — deletes
    * stage the SAME rows with negated counts) under `root`, each
    * count table partitioned by its key's gram-hash bucket (`gb`).
    * Returns the SIGNED token total of the staged rows — the
    * manifest-carried `st` advances by it, so the scoring-time N
    * never needs a unigram-table aggregate.
    */
  override protected def stage(docs: DataFrame, sign: Int, mf: Mf,
      path: String, root: String): Long = {
    val LmLayout(idCol, textCol, _, _, _) = mf.decl
    // ONE tokenize pass: the token arrays (plus the id ledger's
    // columns) checkpoint once, and the four table writes explode
    // from the checkpoint — it used to be four independent scans of
    // `docs`, three of them re-running the tokenizer (guide §1.2:
    // the distributed algorithm first; tokenization IS the LM
    // build's corpus cost). The [[Bm25Index]] staging recipe.
    // SIZE-GATED (guide §5): for CDC deltas and small builds the
    // checkpoint is delta-sized and the wins are real; a full-corpus
    // build past the budget must NOT materialize the tokenized corpus
    // to executor-local disk — it keeps the multi-scan form (each
    // write re-tokenizes off the scan, sequentially, exactly the
    // pre-fusion shape) and derives the token total from the written
    // unigram table (gram-scale, not corpus-scale).
    val tokSrc = docs
      .select(col(idCol),
        xxhash64(col(idCol), col(textCol)).as("__ch"),
        TextAnalysis.tokens(lower(col(textCol))).as("__a"))
    val small = Par.fitsCheckpointBudget(docs)
    val toks = if (small) tokSrc.localCheckpoint() else tokSrc
    val streams = Seq(
      toks.select(explode(col("__a")).as("__w")),
      toks.select(explode(expr(TextAnalysis.lmGrams(2,
        "concat(__a[i], ' ', __a[i+1])"))).as("__b")),
      toks.select(explode(expr(TextAnalysis.lmGrams(3,
        "concat(__a[i], ' ', __a[i+1], ' ', __a[i+2])"))).as("__t3")))
    // repartition on gb before each partitioned write: one file per
    // bucket instead of (tasks × buckets) tiny files. The four
    // writes and the signed-total count are independent given the
    // checkpoint — run them CONCURRENTLY (guide §2.6)
    val gramWrites = streams.zip(tables).map {
      case (stream, (sub, key, cnt)) => () =>
        stream.groupBy(key).agg(count(lit(1)).as(cnt))
          .withColumn(cnt, col(cnt) * sign)
          .withColumn("gb", gbCol(col(key), mf))
          .repartition(col("gb"))
          .write.mode("overwrite").partitionBy("gb")
          .parquet(s"$root/$sub")
    }
    val idsWrite = () => IdLedger.write(
      toks.select(col(idCol), col("__ch"), lit(sign).as("__lw")),
      idCol, mf.decl.ibp, s"$root/ids")
    if (small) {
      // the signed total is the exploded unigram stream's row count
      // off the checkpoint (the value the written uni counts sum to —
      // same number, no read-back dependency on the uni write)
      @volatile var st = 0L
      val total = () => { st = streams.head.count() * sign }
      Par.inParallel(gramWrites ++ Seq(idsWrite, total))
      st
    } else {
      // corpus-scale: sequential scans (no checkpoint to share, and N
      // concurrent corpus scans would fight for the same I/O), total
      // read back from the staged uni table's already-signed counts
      (gramWrites :+ idsWrite).foreach(_())
      docs.sparkSession.read.parquet(s"$root/uni")
        .agg(coalesce(sum(col("__cu")), lit(0L)))
        .collect()(0).getLong(0)
    }
  }

  /** Aggregated live rows of one table: base ∪ committed deltas,
    * summed per key, `sum ≤ 0` dropped (a fully-deleted gram is
    * absent, exactly as if its docs were never trained on). `parts`
    * prunes each read to the given gb partition values — the scoring
    * path passes the scored batch's gram buckets.
    */
  private def readAgg(spark: SparkSession, path: String, mf: Mf,
      sub: String, key: String, cnt: String,
      parts: Option[Seq[Int]] = None): DataFrame =
    mf.roots(path, sub).map { r =>
        val df = spark.read.parquet(r)
        parts.fold(df)(w => df.filter(col("gb").isin(w.map(Int.box): _*)))
      }.reduce(_.unionByName(_))
      .groupBy(key).agg(sum(col(cnt)).as(cnt))
      .filter(col(cnt) > 0)

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

  /** The manifest-visible aggregated count tables, ready for
    * [[TextAnalysis.stupidBackoffFrom]].
    */
  def counts(spark: SparkSession, path: String): LmCounts = {
    val mf = live(path)
    val Seq(u, b, t) = tables.map { case (sub, key, cnt) =>
      readAgg(spark, path, mf, sub, key, cnt) }
    LmCounts(u, b, t)
  }

  /** [[TextAnalysis.stupidBackoff]] scoring against the persisted
    * counts — the train pass never re-runs and the token-total N
    * rides the MANIFEST (no unigram-table aggregate, no 1-row cross
    * in the serve plan). Reads the full live count tables: the right
    * shape for CORPUS-SWEEP scoring (quality gates, CCNet buckets),
    * where the batch's gram set touches every bucket anyway. A
    * pre-bucketing artifact (gbParts = 0) falls back to the live N
    * aggregate.
    */
  def score(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.4): DataFrame = {
    val mf = live(path)
    TextAnalysis.stupidBackoffFrom(counts(spark, path), docs, idCol,
      textCol, alpha,
      totalTokens = if (mf.decl.gbParts == 0) None else Some(mf.acc))
  }

  /** [[score]]'s SMALL-BATCH serving shape: each count-table read is
    * PRUNED to the gb buckets the batch's own grams hash to (three
    * bounded ≤ gbParts-int collects over the batch) — a handful of
    * scored docs reads a few gram buckets of a trillion-gram LM,
    * never the whole table. Scores equal [[score]] exactly (pruning
    * only removes rows that cannot join; N rides the manifest). Use
    * [[score]] for corpus sweeps, where the batch saturates every
    * bucket and the probe passes are pure overhead.
    */
  def scoreBatch(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.4): DataFrame = {
    val mf = live(path)
    if (mf.decl.gbParts == 0)
      return score(spark, path, docs, idCol, textCol, alpha)
    val (u, b, t) = TextAnalysis.lmGramStreams(docs, textCol)
    def buckets(stream: DataFrame, key: String): Seq[Int] =
      stream.select(gbCol(col(key), mf).as("gb"))
        .distinct().collect().map(_.getInt(0)).toSeq
    val pruned = LmCounts(
      readAgg(spark, path, mf, "uni", "__w", "__cu",
        Some(buckets(u, "__w"))),
      readAgg(spark, path, mf, "bi", "__b", "__cb",
        Some(buckets(b, "__b"))),
      readAgg(spark, path, mf, "tri", "__t3", "__ct",
        Some(buckets(t, "__t3"))))
    TextAnalysis.stupidBackoffFrom(pruned, docs, idCol, textCol,
      alpha, totalTokens = Some(mf.acc))
  }

  /** Build the artifact at `path` unless the manifest fingerprint
    * matches the train corpus — the count pass is skipped entirely
    * on reuse.
    */
  def buildIfAbsent(train: DataFrame, textCol: String, idCol: String,
      path: String, gbParts: Int = 16, ibParts: Int = 16): Build = {
    val (fp, n) = fingerprint(train, idCol, textCol)
    val want = Artifact.Manifest(
      LmLayout(idCol, textCol, LayoutVersion, gbParts, ibParts), fp, n)
    buildOr(path, want)(stage(train, 1, want, path, path))
  }

  /** `checkDisjoint` (default on) verifies no delta id is already
    * live — double-counting a doc corrupts both the counts and the
    * fingerprint. Verified against the manifest an attempt anchors at
    * (a concurrent overlapping append must flip it to refuse on retry).
    */
  override protected def insertGuard(delta: DataFrame, decl: Mf,
      dn: Long, path: String): Guard = {
    val probeIds = delta.select(col(decl.decl.id)).distinct()
      .localCheckpoint(false)
    val ledger = ledgerOf(delta.sparkSession, path, decl, probeIds)
    have => {
      val dupes = ledger(have)
        .join(broadcast(probeIds), Seq(have.decl.id), "left_semi")
        .count()
      require(dupes == 0,
        s"append delta shares $dupes live id(s) with the LM at " +
          s"$path — re-training a doc double-counts its grams " +
          "(pass checkDisjoint = false only when upstream proves it)")
    }
  }

  /** Remove documents from the LM: the count algebra makes a delete
    * an append of NEGATED counts — `delta` carries the full
    * `(id, text)` rows being removed, their n-gram counts stage with
    * `× -1`, reads sum to zero and drop the grams, and the
    * fingerprint folds the rows back out (xor self-inverse). After a
    * [[compactDeltas]], the artifact is bit-for-bit the one trained
    * without those docs. `checkPresent` verifies liveness AND content
    * against the doc ledger.
    */
  def delete(delta: DataFrame, path: String,
      checkPresent: Boolean = true): Build =
    remove(delta, path) { (decl, dn) =>
      val LmLayout(id, text, _, _, _) = decl.decl
      val probe = delta.select(col(id),
          xxhash64(col(id), col(text)).as("__pch"))
        .distinct().localCheckpoint(false)
      if (checkPresent) require(probe.count() == dn,
        s"delete delta has duplicate $id rows")
      val ledger = ledgerOf(delta.sparkSession, path, decl, probe)
      have => if (checkPresent) {
        val (nLive, same) = IdLedger.presence(ledger(have), id, probe)
        require(nLive == dn,
          s"delete delta names ${dn - nLive} id(s) not live in " +
            s"the LM at $path (pass checkPresent = false only when " +
            "upstream proves liveness)")
        require(same == dn,
          s"delete delta text differs from the trained text for " +
            s"${dn - same} id(s) at $path — negated counts " +
            "computed from stale text would never cancel the stored grams")
      }
    }

  /** Fold the DELTA stream into one directory, O(total delta size):
    * per-gram sums across the delta dirs only, nonzero rows kept —
    * including NEGATIVE ones, which must survive to keep cancelling
    * base counts (a delete of a base-trained doc lives in the deltas
    * as negated counts until a [[purge]]).
    */
  override protected def fold(spark: SparkSession, path: String, mf: Mf,
      folded: Seq[String], root: String): Unit = {
    val gramFolds = tables.map { case (sub, key, cnt) => () =>
      folded.map(d => spark.read.parquet(s"$path/deltas/$d/$sub"))
        .reduce(_.unionByName(_))
        .groupBy(key).agg(sum(col(cnt)).as(cnt))
        .filter(col(cnt) =!= 0)
        .withColumn("gb", gbCol(col(key), mf))
        .repartition(col("gb"))
        .write.mode("overwrite").partitionBy("gb").parquet(s"$root/$sub")
    }
    // the ids ledger cancels per (id, contentHash) pair
    val idsFold = () => IdLedger.write(
      IdLedger.fold(spark, folded.map(d => s"$path/deltas/$d/ids"),
        mf.decl.id), mf.decl.id, mf.decl.ibp, s"$root/ids")
    Par.inParallel(gramFolds :+ idsFold)
  }

  override protected def baseSubs(mf: Mf) = "ids" +: tables.map(_._1)

  /** [[purge]]'s rewrite: the aggregated live counts into fresh
    * `.v<N>` base dirs — deleted docs leave no trace (their grams are
    * gone, not cancelled). Returns the live doc count.
    */
  override protected def rewrite(spark: SparkSession, path: String,
      mf: Mf, ver: Int): Long = {
    // eager checkpoint, then the four survivor rewrites run
    // CONCURRENTLY (guide §2.6) — independent reads of committed data
    val kept = IdLedger.live(spark, mf.roots(path, "ids"), mf.decl.id)
      .localCheckpoint()
    Par.inParallel(tables.map { case (sub, key, cnt) => () =>
      readAgg(spark, path, mf, sub, key, cnt)
        .withColumn("gb", gbCol(col(key), mf))
        .repartition(col("gb"))
        .write.mode("overwrite").partitionBy("gb")
        .parquet(s"$path/$sub.v$ver")
    } :+ { () =>
      IdLedger.write(kept.withColumn("__lw", lit(1)), mf.decl.id,
        mf.decl.ibp, s"$path/ids.v$ver")
    })
    kept.count()
  }
}

/** [[LmIndex]]'s declaration: columns, layout version, bucketing. */
private[operators] final case class LmLayout(id: String, text: String,
    lv: Int, gbParts: Int, ibp: Int)
