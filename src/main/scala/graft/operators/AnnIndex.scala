package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN indexes — the write-once artifact forms of [[Ivf]]
  * (bucket-partitioned assignments) and [[Pq]] (compressed codes).
  *
  * The per-query IVF plans (q46 shape) re-assign the whole corpus to
  * centroid buckets on every query; at 100 TB that assignment scan is
  * the dominant cost and it is IDENTICAL across queries until the
  * corpus changes. This module factors it out into an on-disk index
  * keyed by a content fingerprint of the corpus:
  *
  * {{{
  *   <path>/centroids/    parquet: (c INT, centroid ARRAY<BIGINT>)
  *   <path>/assignments/  parquet, partitionBy(bucket):
  *                          (<id>, <vec>, bucket INT)
  *   <path>/deltas/d<N>/  parquet, partitionBy(bucket): appended rows
  *                        — visible only once the manifest lists d<N>
  *   <path>/manifest.json fingerprint + params + committed delta list
  *                        — written LAST, so a half-built index is
  *                        invisible (no manifest = no index, the
  *                        MergeOnRead commit rule)
  * }}}
  *
  * Crash atomicity: every mutation follows "readers trust ONLY what
  * the manifest names". A REBUILD deletes the manifest first — the
  * index is simply absent while data directories churn, and a crash
  * mid-rebuild leaves no manifest, so the retry rebuilds from
  * scratch instead of serving torn state. An APPEND stages its rows
  * in a fresh, never-reused `deltas/d<N>` directory that no live
  * manifest references, then commits by writing the manifest that
  * lists it — a crash before the manifest write leaves an orphan
  * directory readers never touch (the retry claims the next name;
  * orphans are garbage, never corruption), and a crash after it
  * means the append fully committed.
  *
  * [[buildIfAbsent]] recomputes only the fingerprint (one
  * column-pruned agg over (id, vec)) and SKIPS the assignment scan
  * and write entirely when it matches — the "train once, query many"
  * discipline. The manifest also pins a content hash of the
  * centroids/codebooks themselves, so changing parameter VALUES (not
  * just their count) invalidates a persisted index instead of
  * silently serving results computed from stale centroids.
  * [[searchInt]] serves queries from the persisted layout: probe
  * buckets are computed per probe row, their DISTINCT set is
  * collected (probes are dimension-scale by the ANN contract — they
  * broadcast), and the assignment read is filtered on the PARTITION
  * column, so the scan touches only `≈ nprobe × |probes|` of the k
  * bucket directories no matter how large the corpus — a static
  * partition prune visible in the plan's PartitionFilters, not a bet
  * on runtime DPP.
  *
  * Reference grounding: the reference loads immutable dataset
  * artifacts once and serves every request from the loaded form
  * (directory/directory.go:230-240's snapshot discipline); this is
  * that shape for ANN state.
  */
object AnnIndex extends GuardedArtifact[AnnLayout] {

  /** Order-independent content fingerprint of `(idCol, vecCol)` plus
    * any carried metadata columns — see
    * [[IndexDirs.contentFingerprint]].
    */
  def fingerprint(corpus: DataFrame, idCol: String,
      vecCol: String, carryCols: Seq[String] = Nil): (Long, Long) =
    IndexDirs.contentFingerprint(corpus, idCol +: vecCol +: carryCols)

  /** Deterministic content hash of the index parameters (centroid /
    * codebook VALUES, not just counts) — length-prefixed fold so
    * `[[1,2]]` and `[[1],[2]]` differ. Stored in the manifest: a
    * rebuild with different parameter values must invalidate, not
    * reuse.
    */
  private def paramsHash(xs: Seq[Seq[Long]]): Long =
    xs.foldLeft(17L) { (h, c) =>
      c.foldLeft(h * 31L + c.length)((a, v) => a * 1000003L + v)
    }

  private def pqParamsHash(books: Seq[Seq[Seq[Long]]]): Long =
    books.foldLeft(19L)((h, cb) => h * 31L + paramsHash(cb))

  /** On-disk layout version: 1 added the raw per-row content hash
    * column to the data tables (delete verification). Part of the
    * reuse identity, so a pre-hash artifact (reads as 0) rebuilds
    * once instead of failing reads.
    */
  private val LayoutVersion = 1

  override protected def tombstoned = true
  override protected def idCol(d: AnnLayout) = d.id

  override protected def readDecl(r: IndexDirs.ManifestReader) =
    AnnLayout(r.strOr("kind", "ivf"), r.int("k"), r.str("id"),
      r.str("vec"),
      // a pre-hash manifest (older layout) reads as ph=0 — it can
      // never match a computed hash, so it rebuilds once, safely
      r.longOr("ph", 0L), r.intOr("lv", 0), r.seq("carry"))

  override protected def writeDecl(w: IndexDirs.ManifestWriter,
      d: AnnLayout) =
    w.put("kind", d.kind).put("k", d.k).put("id", d.id).put("vec", d.vec)
      .put("ph", d.ph).put("lv", d.lv).put("carry", d.carry)

  // the live base dir is named in full (`bd`: "" before any purge,
  // else `<assignments|codes>.v<N>`), not by its version number
  override protected def readBase(r: IndexDirs.ManifestReader) =
    """\.v(\d+)$""".r.findFirstMatchIn(r.strOr("bd", ""))
      .map(_.group(1).toInt).getOrElse(0)

  override protected def writeBase(w: IndexDirs.ManifestWriter, mf: Mf) =
    w.put("bd", if (mf.baseVer == 0) "" else mf.baseOf(mf.decl.baseSub))

  /** Kind-aware fingerprint: ivf fingerprints carry columns; pq/sq8
    * carry none, so they fingerprint (id, vec) only — the same rows
    * [[AnnLayout.rowHash]] hashes.
    */
  override protected def fpOf(rows: DataFrame, d: AnnLayout) =
    fingerprint(rows, d.id, d.vec, d.carry)

  /** Build the IVF index at `path` unless a manifest proves the same
    * corpus (by fingerprint + count + centroid content hash) is
    * already indexed. `centroids` are the quantized-space integer
    * centroids ([[Ivf.assignInt]] semantics — typically
    * [[Ivf.trainCentroids]] output quantized, or fixed centroids
    * where reproducibility outranks recall). `carryCols` persists
    * extra metadata columns next to each vector (language, license,
    * source domain, …) for FILTERED ANN at search time
    * ([[searchInt]]'s `where`) — carried values are part of the
    * fingerprint, so metadata changes invalidate like vector changes.
    */
  def buildIfAbsent(corpus: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Seq[Long]], path: String,
      carryCols: Seq[String] = Nil): Build = {
    val (fp, n) = fingerprint(corpus, idCol, vecCol, carryCols)
    val want = Artifact.Manifest(AnnLayout("ivf", centroids.length, idCol,
      vecCol, paramsHash(centroids), LayoutVersion, carryCols), fp, n)
    buildOr(path, want) {
      val spark = corpus.sparkSession
      import spark.implicits._
      centroids.zipWithIndex
        .map { case (c, i) => (i, c) }.toDF("c", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/centroids")
      stage(corpus, 1, want, path, s"$path/assignments")
    }
  }

  /** The persisted index's variant (`ivf` | `pq` | `sq8`) — public
    * so a serve router (e.g. the `annindex` SQL source) can pick the
    * matching search path without reaching into the manifest.
    */
  def kind(path: String): String = live(path).decl.kind

  /** The persisted centroids, in index order. */
  def centroids(spark: SparkSession, path: String): Seq[Seq[Long]] =
    spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getAs[Number]("c").intValue,
        r.getSeq[Long](r.fieldIndex("centroid"))))
      .sortBy(_._1).map(_._2).toSeq

  /** Manifest-visible LIVE rows of the index's data table
    * (`assignments` for ivf, `codes` for pq/sq8): the (possibly
    * [[purge]]-versioned) base directory plus every COMMITTED delta
    * directory, each with its own bucket partition pruning where
    * applicable, minus tombstoned ids (a broadcast anti-join —
    * tombstone lists are bounded between purges by contract). Orphan
    * (crashed, uncommitted) delta directories are never read — they
    * are not in the manifest.
    */
  private def readParts(spark: SparkSession, path: String, mf: Mf,
      bucketFilter: Option[Seq[Int]]): DataFrame = {
    val roots = s"$path/${mf.baseOf(mf.decl.baseSub)}" +:
      mf.deltas.map(d => s"$path/deltas/$d")
    val rows = roots.map { r =>
      val df = spark.read.parquet(r)
      bucketFilter.fold(df)(w => df.filter(col("bucket").isin(w.map(Int.box): _*)))
    }.reduce(_.unionByName(_))
    if (mf.tombs.isEmpty) rows
    else rows.join(broadcast(Artifact.tombIds(spark, path, mf.tombs)),
      Seq(mf.decl.id), "left_anti")
  }

  /** The disjointness guard of every append kind (`checkDisjoint`):
    * no delta id may already be live — duplicated ids would double
    * rows AND xor their hashes out of the fingerprint — nor
    * tombstoned: the tombstone anti-join in [[readParts]] is
    * version-blind, so a re-added row would be silently invisible
    * ([[purge]] re-opens the id space). The delta is small by
    * contract, so the base side streams its id column through a
    * broadcast probe and never shuffles.
    */
  override protected def insertGuard(delta: DataFrame, decl: Mf,
      dn: Long, path: String): Guard = {
    val spark = delta.sparkSession
    val id = decl.decl.id
    val probeIds = delta.select(col(id)).distinct().localCheckpoint(false)
    have => {
      val dupes = readParts(spark, path, have, None).select(col(id))
        .join(broadcast(probeIds), Seq(id), "left_semi").count()
      require(dupes == 0,
        s"append delta shares $dupes id(s) with the index at $path — " +
          "duplicate ids would corrupt both the rows and the xor " +
          "fingerprint (pass checkDisjoint = false only when upstream " +
          "proves disjointness)")
      if (have.tombs.nonEmpty) {
        val hit = Artifact.tombIds(spark, path, have.tombs)
          .join(broadcast(probeIds), Seq(id), "left_semi").count()
        require(hit == 0,
          s"append delta re-adds $hit tombstoned id(s) at $path — the " +
            "tombstone filter would hide the new rows; purge() first")
      }
    }
  }

  /** ANN top-k over the persisted index: probes fan out to their
    * `nprobe` nearest buckets; the corpus side reads ONLY those
    * bucket partitions (static partition filter from the collected
    * probe-bucket set — probes are dimension-scale, so the collect is
    * bounded); cosine + bounded top-k per probe. Column names follow
    * the q46 contract: output (probe_id, <idCol>, sim, rank).
    */
  def searchInt(spark: SparkSession, path: String, probes: DataFrame,
      probeIdCol: String, vecCol: String, nprobe: Int, k: Int,
      idCol: String = "vec_id",
      where: Option[Column] = None): DataFrame = {
    val mf = live(path)
    val cs = centroids(spark, path)
    val p = probes.select(col(probeIdCol).as("probe_id"),
        col(vecCol).as("__pq"),
        explode(Ivf.probeBucketsInt(col(vecCol), cs, nprobe)).as("bucket"))
    val wanted = p.select("bucket").distinct().collect()
      .map(_.getAs[Number](0).intValue).toSeq
    // FILTERED ANN: `where` predicates over carried metadata columns
    // apply before scoring, stacking with the bucket partition prune
    // — Catalyst pushes plain predicates into the parquet scan, so a
    // `lang = 'en'` search reads only matching row groups of only
    // the probed buckets
    val assigned = where.foldLeft(
      readParts(spark, path, mf, Some(wanted)))(_.filter(_))
    val scored = assigned.join(broadcast(p), Seq("bucket"))
      .withColumn("sim", Similarity.cosineInt(col(vecCol), col("__pq")))
    Similarity.topKPerProbe(scored, k, "probe_id", idCol)
  }

  /** Incrementally extend a persisted IVF index with NEW corpus rows:
    * only the delta is assigned and written — into a fresh staged
    * `deltas/d<N>` directory (bucket-partitioned like the base, the
    * [[MergeOnRead]] delta discipline applied to ANN state) that
    * becomes visible only when the manifest commit lists it — and the
    * manifest fingerprint advances WITHOUT rescanning the base
    * corpus: the xor-fold fingerprint composes, so
    * `fp' = fp ⊕ fold(delta)` and `n' = n + |delta|` — an append
    * costs O(delta) no matter how many billions of vectors the base
    * holds. The updated manifest equals what [[buildIfAbsent]] would
    * compute over base ∪ delta, so a later rebuild attempt on the
    * full corpus correctly reuses the appended index.
    *
    * Caller contract: delta ids are disjoint from the base (CDC
    * upstream enforces key identity). `checkDisjoint` (on by default)
    * enforces it ([[insertGuard]]); pass false only when the upstream
    * already proves disjointness and the extra base scan matters.
    */
  override def append(delta: DataFrame, path: String): Build =
    append(delta, path, checkDisjoint = true)

  override def append(delta: DataFrame, path: String,
      checkDisjoint: Boolean): Build =
    appendKind("ivf", "append", delta, path, checkDisjoint)

  private def appendKind(kind: String, op: String, delta: DataFrame,
      path: String, checkDisjoint: Boolean): Build = {
    val have = live(path).decl.kind
    require(have == kind, s"$op needs a $kind index, got $have")
    insert(delta, path, checkDisjoint, None)
  }

  /** Stage `delta`'s kind-appropriate rows under `root` (a claimed
    * delta dir, invisible until a manifest commit lists it, or the
    * build's base dir). Deletes stage tombstone id lists instead.
    */
  override protected def stage(delta: DataFrame, sign: Int, mf: Mf,
      path: String, root: String): Long = {
    val spark = delta.sparkSession
    val d = mf.decl
    d.kind match {
      case "ivf" =>
        val cs = centroids(spark, path)
        delta
          .select(col(d.id) +: col(d.vec) +: d.carry.map(col) :+
            d.rowHash.as("__ch") :+
            Ivf.assignInt(col(d.vec), cs).as("bucket"): _*)
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(root)
      case "pq" =>
        val cbs = pqCodebooks(spark, path)
        delta
          .select(col(d.id), Pq.encodeInt(col(d.vec), cbs).as("codes"),
            d.rowHash.as("__ch"))
          .write.mode("overwrite").parquet(root)
      case _ =>
        delta
          .withColumn("__s", Sq8.scaleOf(col(d.vec)))
          .select(col(d.id), col("__s"),
            Sq8.encode(col(d.vec), col("__s")).as("__c"),
            d.rowHash.as("__ch"))
          .write.mode("overwrite").parquet(root)
    }
    0L
  }

  /** Build a persisted PQ index ([[Pq]] codes) at `path` unless the
    * manifest fingerprint + codebook content hash match — the
    * compressed-artifact twin of [[buildIfAbsent]]. Layout:
    * {{{
    *   <path>/codebooks/  parquet: (s INT, c INT, centroid ARRAY<BIGINT>)
    *   <path>/codes/      parquet: (<id>, codes ARRAY<INT>)
    * }}}
    * The codes table is S small ints per vector — the entire corpus
    * side of every future ADC search, at a fraction of the raw
    * vector bytes (the property that lets a billion-vector index
    * live hot). The encode scan (S × K subvector distances per row)
    * is paid HERE, once; searches never touch raw corpus vectors.
    */
  def buildPqIfAbsent(corpus: DataFrame, vecCol: String, idCol: String,
      codebooks: Seq[Seq[Seq[Long]]], path: String): Build = {
    val (fp, n) = fingerprint(corpus, idCol, vecCol)
    val want = Artifact.Manifest(AnnLayout("pq",
      codebooks.length * codebooks.head.length, idCol, vecCol,
      pqParamsHash(codebooks), LayoutVersion, Nil), fp, n)
    buildOr(path, want) {
      val spark = corpus.sparkSession
      import spark.implicits._
      codebooks.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (cent, c) => (s, c, cent) }
      }.toDF("s", "c", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/codebooks")
      stage(corpus, 1, want, path, s"$path/codes")
    }
  }

  /** The persisted PQ codebooks, as `(S × K × subDim)`. */
  def pqCodebooks(spark: SparkSession, path: String): Seq[Seq[Seq[Long]]] =
    spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getAs[Number]("s").intValue,
        r.getAs[Number]("c").intValue,
        r.getSeq[Long](r.fieldIndex("centroid"))))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq)

  /** Incrementally extend a persisted PQ index with NEW corpus rows —
    * the [[append]] discipline applied to the codes table: only the
    * delta pays the S × K encode scan, its codes stage in a fresh
    * `deltas/d<N>` directory made visible by the manifest commit, and
    * the xor-fold fingerprint composes (`fp' = fp ⊕ fold(delta)`), so
    * a later [[buildPqIfAbsent]] on the full corpus correctly reuses
    * the appended index. Same caller contract and `checkDisjoint`
    * guard as [[append]].
    */
  def pqAppend(delta: DataFrame, path: String,
      checkDisjoint: Boolean = true): Build =
    appendKind("pq", "pqAppend", delta, path, checkDisjoint)

  /** Build a persisted SQ8 index ([[Sq8]] per-vector scale + byte
    * codes) at `path` unless the manifest fingerprint matches — the
    * parameter-free third artifact kind (no centroids to train or
    * pin: the scale derives from each vector). Layout:
    * {{{
    *   <path>/codes/        parquet: (<id>, __s BIGINT, __c ARRAY<BIGINT>)
    * }}}
    */
  def buildSq8IfAbsent(corpus: DataFrame, vecCol: String, idCol: String,
      path: String): Build = {
    val (fp, n) = fingerprint(corpus, idCol, vecCol)
    val want = Artifact.Manifest(
      AnnLayout("sq8", 0, idCol, vecCol, 0L, LayoutVersion, Nil), fp, n)
    buildOr(path, want)(stage(corpus, 1, want, path, s"$path/codes"))
  }

  /** Incrementally extend a persisted SQ8 index — [[pqAppend]]'s
    * twin (delta-only encode, staged commit, composed fingerprint).
    */
  def sq8Append(delta: DataFrame, path: String,
      checkDisjoint: Boolean = true): Build =
    appendKind("sq8", "sq8Append", delta, path, checkDisjoint)

  /** SQ8 top-k over the persisted index: the corpus side reads only
    * (scale, codes) — [[Sq8.topKEncoded]] over base ∪ committed
    * deltas. Output: (probe_id, <idCol>, sq8, rank).
    */
  def sq8SearchInt(spark: SparkSession, path: String, probes: DataFrame,
      probeIdCol: String, vecCol: String, k: Int,
      idCol: String = "vec_id"): DataFrame =
    Sq8.topKEncoded(readParts(spark, path, live(path), None),
      probes.select(col(probeIdCol).as("probe_id"), col(vecCol).as("pq")),
      k, corpusId = idCol)

  /** [[applyBatch]] with an explicit tombstone bound. Within one
    * batch an id must not be both deleted and inserted: the tombstone
    * filter is version-blind and would hide the new rows (delete,
    * purge, then re-insert — or use the count-algebra indexes
    * [[LmIndex]]/[[Bm25Index]], which take same-batch updates).
    */
  def applyBatch(batch: DataFrame, batchId: Long, path: String,
      maxTombstones: Long): Build =
    applyCdc(batch, batchId, path, maxTombstones)

  /** Folds the committed delta directories into ONE — a pure move
    * (ivf deltas keep their bucket partitioning; pq/sq8 deltas are
    * plain codes).
    */
  override protected def fold(spark: SparkSession, path: String, mf: Mf,
      folded: Seq[String], root: String): Unit =
    writeKind(folded.map(d => spark.read.parquet(s"$path/deltas/$d"))
      .reduce(_.unionByName(_)), mf, root)

  private def writeKind(rows: DataFrame, mf: Mf, root: String): Unit =
    if (mf.decl.kind == "ivf")
      rows.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(root)
    else rows.write.mode("overwrite").parquet(root)

  /** Tombstone-delete rows from the index — any kind. `delta` must
    * carry the FULL rows being removed (`id`, `vec`, carry columns as
    * built): the composed fingerprint needs their hashes folded OUT
    * (`fp' = fp ⊕ fold(delta)`, xor being self-inverse), and the
    * pq/sq8 codes tables do not retain raw vectors to recover them
    * from — so deletes ride the same full-row CDC feed appends do
    * (the MergeOnRead delete convention). The commit is an O(delta)
    * staged tombstone id list (`deltas/t<N>`, manifest-gated like
    * data deltas); every read path anti-joins the tombstone set
    * (broadcast — bounded between purges by `maxTombstones`), and a
    * later [[buildIfAbsent]] over the remaining corpus correctly
    * reuses the deleted-from index.
    *
    * `checkPresent` (on by default) verifies every delta id is LIVE
    * in the index AND carries the stored row — a stale or double
    * delete would silently corrupt the fingerprint the same way a
    * duplicate append would.
    */
  def delete(delta: DataFrame, path: String,
      checkPresent: Boolean = true,
      maxTombstones: Long = DefaultMaxTombstones): Build =
    remove(delta, path, maxTombstones) { (decl, dn) =>
      val id = decl.decl.id
      require(delta.select(col(id)).distinct().count() == dn,
        s"delete delta has duplicate $id rows — each stored row " +
          "must be folded out exactly once")
      val probe = delta.select(col(id), decl.decl.rowHash.as("__pch"))
        .distinct().localCheckpoint(false)
      have => if (checkPresent) {
        // liveness AND content in one pass against the stored row hash
        val r = readParts(delta.sparkSession, path, have, None)
          .join(broadcast(probe), Seq(id))
          .agg(count(lit(1)).as("live"),
            coalesce(sum(when(col("__ch") === col("__pch"), 1L)
              .otherwise(0L)), lit(0L)).as("same"))
          .collect()(0)
        require(r.getLong(0) == dn,
          s"delete delta names ${dn - r.getLong(0)} id(s) not live in " +
            s"the index at $path — a stale or repeated delete would " +
            "corrupt the fingerprint (pass checkPresent = false only " +
            "when upstream proves liveness)")
        require(r.getLong(1) == dn,
          s"delete delta rows differ from the indexed rows for " +
            s"${dn - r.getLong(1)} id(s) at $path — the fingerprint " +
            "would fold out hashes that were never folded in")
      }
    }

  override protected def baseSubs(mf: Mf) = Seq(mf.decl.baseSub)

  /** [[purge]]: physically apply tombstones — the LIVE rows into a
    * fresh versioned base directory (`assignments.v<N>`/`codes.v<N>`)
    * with committed deltas folded in. Cost is O(live index) — run it
    * when the tombstone set has grown past broadcast comfort, not per
    * delete. Returns the number of tombstoned ids purged.
    */
  override protected def rewrite(spark: SparkSession, path: String,
      mf: Mf, ver: Int): Long = {
    val purged =
      if (mf.tombs.isEmpty) 0L
      else Artifact.tombIds(spark, path, mf.tombs).count()
    writeKind(readParts(spark, path, mf, None), mf,
      s"$path/${mf.decl.baseSub}.v$ver")
    purged
  }

  override protected def idlePurge(spark: SparkSession, path: String,
      mf: Mf): Long = 0L

  /** ADC top-k over the persisted PQ index: probes build their
    * distance LUTs (probe-side, broadcast), the corpus side reads
    * ONLY the S-byte codes — base plus committed deltas, raw vectors
    * never leave the build step. Output matches [[Pq.adcTopK]]:
    * (probe_id, <idCol>, adc, rank).
    */
  def pqSearchInt(spark: SparkSession, path: String, probes: DataFrame,
      probeIdCol: String, vecCol: String, k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val cbs = pqCodebooks(spark, path)
    val encoded = readParts(spark, path, live(path), None)
      .withColumnRenamed("codes", "__codes")
    Pq.adcTopKEncoded(encoded,
      probes.select(col(probeIdCol).as("probe_id"), col(vecCol).as("pq")),
      k, cbs, corpusId = idCol)
  }
}

/** [[AnnIndex]]'s declaration: kind, parameters (`k`, content hash
  * `ph`), columns, layout version, carried metadata columns.
  */
private[operators] final case class AnnLayout(kind: String, k: Int,
    id: String, vec: String, ph: Long, lv: Int, carry: Seq[String]) {
  /** The data table: bucketed assignments (ivf) or codes (pq/sq8). */
  def baseSub: String = if (kind == "ivf") "assignments" else "codes"
  /** The raw-row hash the fingerprint folds — what a delete verifies
    * a delta row against.
    */
  def rowHash: Column = xxhash64((id +: vec +: carry).map(col): _*)
}
