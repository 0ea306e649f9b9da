package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 statistics — a term-partitioned inverted index of
  * `(doc, term, tf)` postings plus an id-hash-partitioned doc-length
  * ledger, under the [[IndexDirs]] manifest discipline and the
  * [[LmIndex]] count-sum algebra.
  *
  * [[TextAnalysis.bm25]] re-tokenizes the whole corpus per query; at
  * 100 TB the artifact inverts that: the token pass is paid once into
  *
  * {{{
  *   <path>/tf/     parquet, partitionBy(tb): (<id>, __t, __tf)
  *                  tb = pmod(xxhash64(__t), tbParts) — a query
  *                  reads ONLY its terms' partitions
  *   <path>/dl/     parquet, partitionBy(dlb): (<id>, __dl, __ch,
  *                  __w ±1) — doc lengths, weight-signed so deletes/
  *                  updates cancel; __ch = xxhash64(id, text) guards
  *                  deletes against stale text; dlb =
  *                  pmod(xxhash64(<id>), dlParts) so a serve reads
  *                  only the buckets its candidate docs hash to
  *   <path>/deltas/d<N>/{tf,dl}  appended (or count-negated) rows
  *   <path>/manifest.json  — written LAST (atomic commit marker)
  * }}}
  *
  * Term frequencies and doc-length rows are PURE SUMS: append = new
  * docs' postings (O(delta)); delete = the SAME rows with `__tf`
  * negated and `__w = -1` (reads sum per key and drop `≤ 0`);
  * deleting then re-appending an id with different text is a legal
  * UPDATE — everything cancels per (id, term) / (id, dl, ch). The
  * corpus-level stats obey the same algebra, so the manifest CARRIES
  * them: `n` (live docs) and `sdl` (live doc-length sum) advance by
  * the delta's signed totals at each commit, and [[score]] never
  * scans the ledger for them — it touches `|terms|` tf partitions
  * plus the candidate docs' dlb partitions, never the corpus text
  * and never a full table.
  */
object Bm25Index extends GuardedArtifact[Bm25Layout] {

  def fingerprint(docs: DataFrame, idCol: String,
      textCol: String): (Long, Long) =
    IndexDirs.contentFingerprint(docs, Seq(idCol, textCol))

  // sdl (the live doc-length sum) is derived state like the delta
  // list: a rebuild check cannot know it without tokenizing, so it is
  // the kernel's `acc` and never gates reuse. dlParts IS layout — a
  // different dl bucketing must rebuild.
  override protected def accKey = Some("sdl")

  override protected def readDecl(r: IndexDirs.ManifestReader) =
    Bm25Layout(r.str("id"), r.str("text"), r.int("tb"),
      // a pre-ledger-bucketing manifest reads dlp=0, which can never
      // match a requested layout — it rebuilds once, safely
      r.intOr("dlp", 0))

  override protected def writeDecl(w: IndexDirs.ManifestWriter,
      d: Bm25Layout) =
    w.put("id", d.id).put("text", d.text).put("tb", d.tbParts)
      .put("dlp", d.dlParts)

  override protected def fpOf(rows: DataFrame, d: Bm25Layout) =
    fingerprint(rows, d.id, d.text)

  private def dlbCol(id: org.apache.spark.sql.Column, mf: Mf) =
    pmod(xxhash64(id), lit(mf.decl.dlParts)).cast("int")

  private def tbCol(mf: Mf) =
    pmod(xxhash64(col("__t")), lit(mf.decl.tbParts)).cast("int")

  /** Write the postings + ledger of `docs` under `root`, counts
    * scaled by `sign` (deletes stage the same rows negated). Returns
    * the SIGNED doc-length total of the staged rows — the
    * manifest-carried `sdl` advances by it, so corpus stats never
    * need a ledger scan.
    */
  override protected def stage(docs: DataFrame, sign: Int, mf: Mf,
      path: String, root: String): Long = {
    val Bm25Layout(idCol, textCol, _, _) = mf.decl
    // EAGER checkpoint (was lazy): the three consumers below now run
    // concurrently, and a lazy checkpoint's first-action race would
    // let two of them compute the tokenize pass twice. SIZE-GATED
    // (guide §5): past the budget — a full-corpus build — the
    // tokenized corpus must not land on executor-local disk; the
    // multi-scan form runs instead (writes sequential, doc-length
    // total read back from the staged ledger, which is doc-scale).
    val tokSrc = docs.select(col(idCol),
        TextAnalysis.tokens(lower(col(textCol))).as("__toks"),
        xxhash64(col(idCol), col(textCol)).as("__ch"))
    val small = Par.fitsCheckpointBudget(docs)
    val toks = if (small) tokSrc.localCheckpoint() else tokSrc
    // repartition on the bucket column before each partitioned write:
    // one file per bucket instead of (tasks × buckets) tiny files —
    // the write commit and every later pruned read pay per-file
    // costs. The two writes and the total are independent given the
    // checkpoint — run them CONCURRENTLY (guide §2.6)
    val writeTf = () => toks
      .select(col(idCol), explode(col("__toks")).as("__t"))
      .groupBy(idCol, "__t")
      .agg((count(lit(1)) * sign).as("__tf"))
      .withColumn("tb", tbCol(mf))
      .repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$root/tf")
    val writeDl = () => toks
      .select(col(idCol), size(col("__toks")).as("__dl"),
        col("__ch"), lit(sign).as("__w"))
      .withColumn("dlb", dlbCol(col(idCol), mf))
      .repartition(col("dlb"))
      .write.mode("overwrite").partitionBy("dlb").parquet(s"$root/dl")
    if (small) {
      @volatile var total = 0L
      val sumDl = () => total = toks
        .agg(coalesce(sum(size(col("__toks")).cast("long")), lit(0L)))
        .collect()(0).getLong(0)
      Par.inParallel(Seq(writeTf, writeDl, sumDl))
      total * sign
    } else {
      Seq(writeTf, writeDl).foreach(_())
      docs.sparkSession.read.parquet(s"$root/dl")
        .agg(coalesce(sum(col("__dl").cast("long")), lit(0L)))
        .collect()(0).getLong(0) * sign
    }
  }

  /** Aggregated live postings, pruned to `terms`' tb partitions when
    * given: per-(id, term) tf sums > 0.
    */
  private def liveTf(spark: SparkSession, path: String, mf: Mf,
      terms: Option[Seq[String]]): DataFrame = {
    // the same pmod(xxhash64) the writer used, evaluated once for
    // the whole term list (terms are query-scale) so the partition
    // filter is STATIC, not a runtime subquery
    val wanted = terms.map { ts =>
      import spark.implicits._
      ts.toDF("__t").select(tbCol(mf))
        .distinct().collect().map(_.getInt(0)).toSeq
    }
    val rows = mf.roots(path, "tf").map { r =>
      val df = spark.read.parquet(r)
      wanted.fold(df)(w => df.filter(col("tb").isin(w.map(Int.box): _*)))
    }.reduce(_.unionByName(_))
    val filtered = terms.fold(rows)(ts =>
      rows.filter(col("__t").isin(ts: _*)))
    filtered.groupBy(mf.decl.id, "__t").agg(sum(col("__tf")).as("__tf"))
      .filter(col("__tf") > 0)
  }

  /** The live doc-length ledger `(id, __dl, __ch)` — weight-cancelled
    * per (id, dl, contentHash), pruned to `parts` dlb partitions when
    * given (the id-hash prune: a serve reads only the buckets its
    * candidate docs hash to, never the whole ledger).
    */
  private def liveDl(spark: SparkSession, path: String, mf: Mf,
      parts: Option[Seq[Int]] = None): DataFrame = {
    val rows = mf.roots(path, "dl").map { r =>
      val df = spark.read.parquet(r)
      parts.fold(df)(w => df.filter(col("dlb").isin(w.map(Int.box): _*)))
    }.reduce(_.unionByName(_))
    rows.groupBy(mf.decl.id, "__dl", "__ch").agg(sum(col("__w")).as("__w"))
      .filter(col("__w") > 0)
      .select(col(mf.decl.id), col("__dl"), col("__ch"))
  }

  /** A guard's ledger read of `probe`'s ids: only the dlb buckets
    * they hash to (an id not present anywhere cannot hide outside its
    * hash bucket, so the prune never weakens a guard), collected once
    * — the bucketing is layout, fixed until a rebuild.
    */
  private def ledgerOf(spark: SparkSession, path: String, decl: Mf,
      probe: DataFrame): Mf => DataFrame = {
    lazy val wanted = probe.select(dlbCol(col(decl.decl.id), decl).as("dlb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    have => liveDl(spark, path, have, Some(wanted))
  }

  def buildIfAbsent(docs: DataFrame, textCol: String, idCol: String,
      path: String, tbParts: Int = 64, dlParts: Int = 32): Build = {
    val (fp, n) = fingerprint(docs, idCol, textCol)
    val want = Artifact.Manifest(
      Bm25Layout(idCol, textCol, tbParts, dlParts), fp, n)
    buildOr(path, want)(stage(docs, 1, want, path, path))
  }

  /** Disjointness guard, verified against the manifest an attempt
    * anchors at (a concurrent overlapping append must flip it to
    * refuse on retry).
    */
  override protected def insertGuard(delta: DataFrame, decl: Mf,
      dn: Long, path: String): Guard = {
    val probeIds = delta.select(col(decl.decl.id)).distinct()
      .localCheckpoint(false)
    val ledger = ledgerOf(delta.sparkSession, path, decl, probeIds)
    have => {
      val dupes = ledger(have).select(col(have.decl.id))
        .join(broadcast(probeIds), Seq(have.decl.id), "left_semi").count()
      require(dupes == 0,
        s"append delta shares $dupes live id(s) with the index at " +
          s"$path — double-counted postings (pass checkDisjoint = " +
          "false only when upstream proves disjointness)")
    }
  }

  /** Delete = append of negated postings ([[LmIndex.delete]]'s
    * algebra): `delta` carries the full `(id, text)` rows being
    * removed. `checkPresent` verifies BOTH liveness and CONTENT:
    * each delta row's `xxhash64(id, text)` must equal the hash the
    * ledger stored at append time — a delete naming a live id but
    * carrying stale/edited text would stage negations that never
    * cancel (and corrupt the fingerprint), so it throws instead.
    */
  def delete(delta: DataFrame, path: String,
      checkPresent: Boolean = true): Build =
    remove(delta, path) { (decl, dn) =>
      val Bm25Layout(id, text, _, _) = decl.decl
      val probe = delta.select(col(id),
          xxhash64(col(id), col(text)).as("__pch"))
        .distinct().localCheckpoint(false)
      if (checkPresent) require(probe.count() == dn,
        s"delete delta has duplicate $id rows")
      val ledger = ledgerOf(delta.sparkSession, path, decl, probe)
      have => if (checkPresent) {
        val r = ledger(have).join(broadcast(probe), Seq(id))
          .agg(count(lit(1)).as("live"),
            coalesce(sum(when(col("__ch") === col("__pch"), 1L)
              .otherwise(0L)), lit(0L)).as("same"))
          .collect()(0)
        require(r.getLong(0) == dn,
          s"delete delta names ${dn - r.getLong(0)} id(s) not live in " +
            s"the index at $path")
        require(r.getLong(1) == dn,
          s"delete delta text differs from the indexed text for " +
            s"${dn - r.getLong(1)} id(s) at $path — negations computed " +
            "from stale text would never cancel the stored postings")
      }
    }

  /** Fold the delta stream (sums per key, nonzero kept — negatives
    * survive to keep cancelling base rows until a full rebuild).
    */
  override protected def fold(spark: SparkSession, path: String, mf: Mf,
      folded: Seq[String], root: String): Unit =
    Par.inParallel(Seq(
      () => folded.map(d => spark.read.parquet(s"$path/deltas/$d/tf"))
        .reduce(_.unionByName(_))
        .groupBy(mf.decl.id, "__t", "tb").agg(sum(col("__tf")).as("__tf"))
        .filter(col("__tf") =!= 0)
        .repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$root/tf"),
      () => folded.map(d => spark.read.parquet(s"$path/deltas/$d/dl"))
        .reduce(_.unionByName(_))
        .groupBy(mf.decl.id, "__dl", "__ch", "dlb")
        .agg(sum(col("__w")).as("__w"))
        .filter(col("__w") =!= 0)
        .repartition(col("dlb"))
        .write.mode("overwrite").partitionBy("dlb").parquet(s"$root/dl")))

  override protected def baseSubs(mf: Mf) = Seq("tf", "dl")

  /** [[purge]]'s rewrite ([[LmIndex.purge]]'s rule): the aggregated
    * live postings + ledger into fresh `.v<N>` base dirs. Returns the
    * live doc count.
    */
  override protected def rewrite(spark: SparkSession, path: String,
      mf: Mf, ver: Int): Long = {
    // eager checkpoint, then the two survivor rewrites run
    // CONCURRENTLY (guide §2.6) — independent reads of committed data
    val kept = liveDl(spark, path, mf).localCheckpoint()
    Par.inParallel(Seq(
      () => liveTf(spark, path, mf, None)
        .withColumn("tb", tbCol(mf))
        .repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$path/tf.v$ver"),
      () => kept.withColumn("__w", lit(1))
        .withColumn("dlb", dlbCol(col(mf.decl.id), mf))
        .repartition(col("dlb"))
        .write.mode("overwrite").partitionBy("dlb")
        .parquet(s"$path/dl.v$ver")))
    kept.count()
  }

  /** The scoring core shared by [[score]] and [[scoreMany]]: takes
    * the (already term-pruned) live postings, joins the dl ledger
    * pruned to the CANDIDATE docs' dlb partitions (collected as ≤
    * dlParts ints — the [[DedupIndex]] two-hop prune recipe), and
    * computes per-(row) BM25 terms with the corpus stats `n`/`avgdl`
    * taken from the MANIFEST — no full-ledger scan or aggregate
    * anywhere in the serve plan.
    */
  private def scoredTerms(spark: SparkSession, path: String,
      mf: Mf, tfPruned: DataFrame, k1: Double,
      b: Double): DataFrame = {
    import spark.implicits._
    // ONE bounded auxiliary job over the term-pruned postings collects
    // both serve-side statistics at once: per-term df (|terms| rows —
    // query-scale) and the candidate docs' dlb bucket set (≤ dlParts
    // ints). The serve plan then evaluates the postings exactly once
    // and keeps both pruned FileScans visible.
    val aux = tfPruned
      .select(col("__t"), dlbCol(col(mf.decl.id), mf).as("dlb"))
      .groupBy("__t")
      .agg(count(lit(1)).as("__df"), collect_set(col("dlb")).as("__dlbs"))
      .collect()
    val wantedDlb = aux.flatMap(_.getSeq[Int](2)).distinct.toSeq
    val dfreq = aux.map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("__t", "__df")
    val dl = liveDl(spark, path, mf, Some(wantedDlb)).drop("__ch")
    val avgdl = if (mf.n == 0) 1.0 else mf.acc.toDouble / mf.n
    tfPruned.join(dl, Seq(mf.decl.id))
      .join(broadcast(dfreq), "__t")
      .withColumn("__s",
        log((lit(mf.n) - col("__df") + 0.5) / (col("__df") + 0.5) + 1) *
          (col("__tf") * (k1 + 1)) /
          (col("__tf") +
            lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / avgdl)))
  }

  /** BM25 of `terms` over the indexed corpus — reads `|terms|` tf
    * partitions + the candidates' dl partitions; N/avgdl come from
    * the manifest and df from the pruned postings, so the scores
    * match [[TextAnalysis.bm25]] over the live doc set exactly.
    * Output: (<idCol>, bm25), docs containing ≥ 1 term.
    */
  def score(spark: SparkSession, path: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val mf = live(path)
    scoredTerms(spark, path, mf,
        liveTf(spark, path, mf, Some(terms)), k1, b)
      .groupBy(col(mf.decl.id))
      .agg(round(sum(col("__s")), 4).as("bm25"))
  }

  /** Batched BM25 — the 100 TB serving shape: a whole query WORKLOAD
    * `(qid, term)` scored in ONE plan. The postings read is pruned to
    * the union of the workload's tb partitions (the term list is
    * collected once — a query workload is dimension-scale against the
    * corpus), each pruned posting row fans out to the qids asking for
    * its term via one broadcast equi-join, and per-query totals are a
    * single (qid, id) hash aggregate — so a thousand queries cost one
    * postings pass, not a thousand. Per-term df and the manifest
    * N/avgdl are workload-independent, so the scores equal [[score]]
    * run per query. Output: (qidCol, <idCol>, bm25), docs with ≥ 1
    * hit.
    */
  def scoreMany(spark: SparkSession, path: String, queryTerms: DataFrame,
      qidCol: String, termCol: String, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val mf = live(path)
    val qt = queryTerms
      .select(col(qidCol), col(termCol).as("__t")).distinct()
      .localCheckpoint(false)
    val terms = qt.select("__t").distinct().collect()
      .map(_.getString(0)).toSeq
    require(terms.nonEmpty, "bm25 workload has no query terms")
    scoredTerms(spark, path, mf,
        liveTf(spark, path, mf, Some(terms)), k1, b)
      .join(broadcast(qt), "__t")
      .groupBy(col(qidCol), col(mf.decl.id))
      .agg(round(sum(col("__s")), 4).as("bm25"))
  }
}

/** [[Bm25Index]]'s declaration: the indexed columns and bucketing. */
private[operators] final case class Bm25Layout(id: String, text: String,
    tbParts: Int, dlParts: Int)
