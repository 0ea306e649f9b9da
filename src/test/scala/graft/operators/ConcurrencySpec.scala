package graft.operators

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.operators.AggView.Measure

/** The lifecycle PROPERTY SUITE of the [[Artifact]] kernel, run over
  * every kernel instance (the seven persisted artifacts): every
  * scenario mutates an artifact and compares it against a ONE-SHOT
  * build over the expected surviving rows — same served content, same
  * composed fingerprint and count.
  *
  *  - Multi-writer LIVENESS: the versioned no-overwrite commits make
  *    lost updates impossible ([[IndexDirsSpec]]); the commit loop
  *    makes racing writers CONVERGE instead of one of them failing —
  *    N uncoordinated ingest jobs can maintain one artifact.
  *  - Deterministic interleavings: the kernel's one-shot seam
  *    ([[Artifact.withSeam]]) pins racing schedules a thread race
  *    cannot reproduce reliably (a compaction or a second purge
  *    landing inside a purge).
  *  - CRASH RECOVERY: a crash injected at each protocol step — after
  *    staging, before commit, after commit but before GC — in a CDC
  *    batch, a compaction and a purge, followed by the at-least-once
  *    replay, converges to the one-shot build.
  *  - FLEETS: one CDC feed maintaining several artifacts through
  *    [[IndexPipeline.sink]] converges after a crash between artifact
  *    commits, and pinned reads serve a common batch watermark.
  */
class ConcurrencySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(p: String) =
    Files.createTempDirectory(p).toUri.toString.stripSuffix("/") + "/view"

  private def facts(from: Int, until: Int) = {
    import spark.implicits._
    (from until until).map { i =>
      (s"g${i % 5}", i % 3, (i * 7 % 101).toLong)
    }.toDF("grp", "sub", "v")
  }

  private val measures =
    Seq(Measure("v_sum", "v"), Measure("v2_sum", "v * v"))

  private def handView(rows: Seq[Int]): Set[(String, Int, Long, Long, Long)] =
    rows.map(i => (s"g${i % 5}", i % 3, (i * 7 % 101).toLong))
      .groupBy(t => (t._1, t._2))
      .map { case ((g, s), ts) =>
        (g, s, ts.size.toLong, ts.map(_._3).sum,
          ts.map(t => t._3 * t._3).sum)
      }.toSet

  private def viewOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet

  /** Run the thunks concurrently from a common start gate; rethrow
    * the first failure.
    */
  private def race(thunks: Seq[() => Unit]): Unit = {
    val start = new CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = thunks.map { t =>
      new Thread(() => {
        start.await()
        try t() catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(120000))
    if (!errors.isEmpty) throw errors.peek()
  }

  // ----- the harness: every kernel instance -------------------------

  /** One persisted-artifact family, adapted to a common mutator
    * surface over deterministic rows indexed [from, until): every
    * scenario below compares a mutated artifact against a ONE-SHOT
    * build over the expected surviving row range — same served
    * content, same composed fingerprint and count. `deletes = false`:
    * the artifact refuses deletes (append-only stats), so its
    * scenarios delete nothing.
    */
  private abstract class Family(val name: String,
      val deletes: Boolean = true) {
    def build(from: Int, until: Int, path: String): IndexBuild
    /** `guarded` = run the per-attempt disjointness guard (safe only
      * when no concurrent maintenance can GC files mid-guard-read).
      */
    def append(from: Int, until: Int, path: String,
        guarded: Boolean): IndexBuild
    def applyBatch(ins: (Int, Int), del: (Int, Int), batchId: Long,
        path: String): IndexBuild
    def compact(path: String): Int
    def purge(path: String): Long
    /** Canonical served content — read through the family's own
      * serve path, collected to a comparable set.
      */
    def served(path: String): Set[String]
    /** Current (fingerprint, count) without mutating: a no-op append. */
    def probe(path: String): IndexBuild =
      append(0, 0, path, guarded = false)
  }

  private def docs(from: Int, until: Int): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (i.toLong,
      s"doc $i alpha word${i % 7} beta token${i % 11} gamma item$i"))
      .toDF("doc_id", "text")
  }

  private def vecs(from: Int, until: Int): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (i.toLong,
      (0 until 8).map(d => ((i * 31 + d * 7) % 201 - 100).toLong)))
      .toDF("vec_id", "q")
  }

  private def withOps(ins: DataFrame, del: DataFrame): DataFrame =
    ins.withColumn("op", lit("I"))
      .unionByName(del.withColumn("op", lit("D")))

  private val annCents: Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(3)
    Seq.fill(4)(Seq.fill(8)((rnd.nextInt(201) - 100).toLong))
  }

  private val families: Seq[Family] = Seq(
    new Family("aggview") {
      def build(from: Int, until: Int, path: String) =
        AggView.buildIfAbsent(facts(from, until), Seq("grp", "sub"),
          measures, path, kbParts = 8)
      def append(from: Int, until: Int, path: String, guarded: Boolean) =
        AggView.append(facts(from, until), path)
      def applyBatch(ins: (Int, Int), del: (Int, Int), batchId: Long,
          path: String) =
        AggView.applyBatch(
          withOps(facts(ins._1, ins._2), facts(del._1, del._2)),
          batchId, path)
      def compact(path: String) = AggView.compactDeltas(spark, path)
      def purge(path: String) = AggView.purge(spark, path)
      def served(path: String) =
        AggView.read(spark, path).collect().map(_.toString).toSet
    },
    new Family("vecstats") {
      def build(from: Int, until: Int, path: String) =
        VecStats.buildIfAbsent(vecs(from, until), "q", "vec_id", path,
          ibParts = 4)
      def append(from: Int, until: Int, path: String, guarded: Boolean) =
        VecStats.append(vecs(from, until), path, checkDisjoint = guarded)
      def applyBatch(ins: (Int, Int), del: (Int, Int), batchId: Long,
          path: String) =
        VecStats.applyBatch(
          withOps(vecs(ins._1, ins._2), vecs(del._1, del._2)),
          batchId, path)
      def compact(path: String) = VecStats.compactDeltas(spark, path)
      def purge(path: String) = VecStats.purge(spark, path)
      def served(path: String) =
        VecStats.summary(spark, path).collect().map(_.toString).toSet
    },
    new Family("annindex") {
      def build(from: Int, until: Int, path: String) =
        AnnIndex.buildIfAbsent(vecs(from, until), "q", "vec_id",
          annCents, path)
      def append(from: Int, until: Int, path: String, guarded: Boolean) =
        AnnIndex.append(vecs(from, until), path, checkDisjoint = guarded)
      def applyBatch(ins: (Int, Int), del: (Int, Int), batchId: Long,
          path: String) =
        AnnIndex.applyBatch(
          withOps(vecs(ins._1, ins._2), vecs(del._1, del._2)),
          batchId, path)
      def compact(path: String) = AnnIndex.compactDeltas(spark, path)
      def purge(path: String) = AnnIndex.purge(spark, path)
      def served(path: String) = {
        // nprobe = all buckets and k ≥ corpus: the full live row set
        // rides out per-probe, so the set is layout-independent
        val probes = vecs(0, 1).select(col("vec_id").as("pid"), col("q"))
        AnnIndex.searchInt(spark, path, probes, "pid", "q",
            nprobe = annCents.length, k = 100000)
          .select("probe_id", "vec_id")
          .collect().map(_.toString).toSet
      }
    },
    new Family("dedupindex") {
      def build(from: Int, until: Int, path: String) =
        DedupIndex.buildIfAbsent(docs(from, until), "text", "doc_id",
          DedupIndex.MinhashXx(16, 3), bands = 4, path,
          kbParts = 4, sbParts = 4, dbParts = 4)
      def append(from: Int, until: Int, path: String, guarded: Boolean) =
        DedupIndex.append(docs(from, until), path,
          checkDisjoint = guarded)
      def applyBatch(ins: (Int, Int), del: (Int, Int), batchId: Long,
          path: String) =
        DedupIndex.applyBatch(
          withOps(docs(ins._1, ins._2), docs(del._1, del._2)),
          batchId, path)
      def compact(path: String) = DedupIndex.compactDeltas(spark, path)
      def purge(path: String) = DedupIndex.purge(spark, path)
      def served(path: String) =
        DedupIndex.sigs(spark, path).collect()
          .map(r => s"${r.getLong(0)}:${r.getSeq[Long](1).mkString(",")}")
          .toSet
    },
    new Family("lmindex") {
      def build(from: Int, until: Int, path: String) =
        LmIndex.buildIfAbsent(docs(from, until), "text", "doc_id",
          path, gbParts = 4, ibParts = 4)
      def append(from: Int, until: Int, path: String, guarded: Boolean) =
        LmIndex.append(docs(from, until), path, checkDisjoint = guarded)
      def applyBatch(ins: (Int, Int), del: (Int, Int), batchId: Long,
          path: String) =
        LmIndex.applyBatch(
          withOps(docs(ins._1, ins._2), docs(del._1, del._2)),
          batchId, path)
      def compact(path: String) = LmIndex.compactDeltas(spark, path)
      def purge(path: String) = LmIndex.purge(spark, path)
      // scoring reads all three count tables AND the manifest-carried
      // token total, so it pins every piece of served state
      def served(path: String) =
        LmIndex.score(spark, path, docs(0, 3), "doc_id", "text")
          .collect().map(_.toString).toSet
    },
    new Family("bm25index") {
      def build(from: Int, until: Int, path: String) =
        Bm25Index.buildIfAbsent(docs(from, until), "text", "doc_id",
          path, tbParts = 4, dlParts = 4)
      def append(from: Int, until: Int, path: String, guarded: Boolean) =
        Bm25Index.append(docs(from, until), path,
          checkDisjoint = guarded)
      def applyBatch(ins: (Int, Int), del: (Int, Int), batchId: Long,
          path: String) =
        Bm25Index.applyBatch(
          withOps(docs(ins._1, ins._2), docs(del._1, del._2)),
          batchId, path)
      def compact(path: String) = Bm25Index.compactDeltas(spark, path)
      def purge(path: String) = Bm25Index.purge(spark, path)
      // scores read the tf + dl tables and the manifest (n, sdl)
      def served(path: String) =
        Bm25Index.score(spark, path, Seq("alpha", "word1", "token3"))
          .collect().map(_.toString).toSet
    },
    new Family("colstats", deletes = false) {
      def build(from: Int, until: Int, path: String) =
        ColStats.buildIfAbsent(facts(from, until), Seq("sub", "v"),
          Seq("grp"), path)
      def append(from: Int, until: Int, path: String, guarded: Boolean) =
        ColStats.append(facts(from, until), path)
      def applyBatch(ins: (Int, Int), del: (Int, Int), batchId: Long,
          path: String) =
        ColStats.applyBatch(
          withOps(facts(ins._1, ins._2), facts(del._1, del._2)),
          batchId, path)
      def compact(path: String) = ColStats.compactDeltas(spark, path)
      def purge(path: String) = ColStats.purge(spark, path)
      // the merged scalar profile, registers and histogram
      def served(path: String) =
        (ColStats.stats(spark, path).collect() ++
          ColStats.registers(spark, path).collect() ++
          ColStats.hist(spark, path).collect()).map(_.toString).toSet
    })

  /** Delete range of a scenario: nothing for append-only artifacts. */
  private def del(f: Family, from: Int, until: Int): (Int, Int) =
    if (f.deletes) (from, until) else (0, 0)

  /** Run `op` with the kernel seam firing `f` when `op` reaches `step`
    * on `path`.
    */
  private def seamed[T](path: String, step: Artifact.Step)(f: => Unit)(
      op: => T): T =
    Artifact.withSeam(path, step)(f)(op)

  private final class Crash extends RuntimeException("injected crash")

  /** `op` dies at `step` like a killed process: nothing after it runs. */
  private def crashAt(path: String, step: Artifact.Step)(op: => Any): Unit =
    intercept[Crash](seamed(path, step)(throw new Crash)(op))

  /** One-shot builds are deterministic: each (family, row range) is
    * built and served once, then compared against every artifact
    * that should equal it.
    */
  private val oneShots = scala.collection.concurrent
    .TrieMap[(String, Int, Int), (IndexBuild, Set[String])]()

  /** served + fingerprint + count of `path` must equal a one-shot
    * build over rows [from, until) at another path.
    */
  private def assertEqualsOneShot(f: Family, path: String,
      from: Int, until: Int): Unit = {
    val (oneShot, want) = oneShots.getOrElseUpdate((f.name, from, until), {
      val ref = tmp(s"conc-${f.name}-ref")
      val b = f.build(from, until, ref)
      (b, f.served(ref))
    })
    val state = f.probe(path)
    assert(f.served(path) == want,
      s"${f.name}: served content diverged from the sequential fold")
    assert(state.fingerprint == oneShot.fingerprint &&
      state.count == oneShot.count,
      s"${f.name}: composed fingerprint/count diverged from one-shot")
  }

  for (f <- families) {
    test(s"${f.name}: 8 uncoordinated concurrent appends all land " +
        "exactly once — view, count, and composed fingerprint equal " +
        "the sequential fold's") {
      val path = tmp(s"conc-${f.name}-append")
      f.build(0, 40, path)
      race((0 until 8).map { i => () =>
        f.append(40 + 10 * i, 50 + 10 * i, path, guarded = true); ()
      })
      assertEqualsOneShot(f, path, 0, 120)
    }

    test(s"${f.name}: 4 racing replays of ONE batch id apply exactly " +
        "once and the losers leave no orphan deltas in the manifest") {
      val path = tmp(s"conc-${f.name}-batch")
      f.build(0, 60, path)
      race((0 until 4).map { _ => () =>
        f.applyBatch((60, 80), del(f, 0, 10), 0L, path); ()
      })
      // replay after the race: must skip as already-applied
      assert(f.applyBatch((60, 80), del(f, 0, 10), 0L, path).reused)
      assertEqualsOneShot(f, path, del(f, 0, 10)._2, 80)
    }

    test(s"${f.name}: appends racing a compaction and a purge are " +
        "never lost") {
      val path = tmp(s"conc-${f.name}-maint")
      f.build(0, 30, path)
      f.append(30, 60, path, guarded = true)
      f.append(60, 90, path, guarded = true)
      // unguarded appends never read the artifact's files, so they
      // may race maintenance freely (a guard racing a purge's GC is
      // the documented reader-of-GC'd-state hazard, not append's)
      race(Seq(
        () => { f.compact(path); () },
        () => { f.append(90, 110, path, guarded = false); () },
        () => { f.append(110, 130, path, guarded = false); () }))
      assertEqualsOneShot(f, path, 0, 130)
      // purge racing one more append: both effects must survive
      race(Seq(
        () => { f.purge(path); () },
        () => { f.append(130, 150, path, guarded = false); () }))
      assertEqualsOneShot(f, path, 0, 150)
    }

    test(s"${f.name}: a purge whose snapshot deltas were compacted " +
        "away REFUSES instead of double-counting the folded rows") {
      val path = tmp(s"conc-${f.name}-pc")
      f.build(0, 30, path)
      f.append(30, 60, path, guarded = true)
      f.append(60, 90, path, guarded = true)
      // deterministic schedule: purge snapshots + rewrites, then a
      // full compaction commits, then the purge tries to commit —
      // without the subset guard it would keep the fold dir AND the
      // new base that absorbed the same rows
      intercept[IllegalArgumentException] {
        seamed(path, Artifact.Staged)(f.compact(path))(f.purge(path))
      }
      assertEqualsOneShot(f, path, 0, 90)
      // the artifact purges cleanly afterwards
      f.purge(path)
      assertEqualsOneShot(f, path, 0, 90)
    }

    test(s"${f.name}: two racing purges claim DISJOINT base targets " +
        "and exactly one commits; the loser's rewrite is GC'd") {
      val path = tmp(s"conc-${f.name}-pp")
      f.build(0, 30, path)
      f.append(30, 60, path, guarded = true)
      // deterministic schedule: purge A snapshots + rewrites its
      // claimed target, purge B runs END-TO-END (claiming a DIFFERENT
      // suffix), then A's commit refuses on the base-version guard
      intercept[IllegalArgumentException] {
        seamed(path, Artifact.Staged)(f.purge(path))(f.purge(path))
      }
      assertEqualsOneShot(f, path, 0, 60)
      // still fully functional: appends and deletes keep working
      f.append(60, 90, path, guarded = true)
      assertEqualsOneShot(f, path, 0, 90)
    }
  }

  /** Crash and replay on one artifact: CDC batches crash at every
    * protocol step, each replayed before the next batch lands (past
    * it, the watermark would skip the replay) — three batches also
    * leave every artifact ≥ 2 deltas of a kind to fold. Compaction
    * and purge then crash between their swap and their GC, the step
    * where they differ from a batch (their earlier steps leave the
    * manifest untouched, as the batches show, and the
    * purge-interleaving cases stop them at Staged); their replays find
    * the swap done and the orphans unread.
    */
  private def crashAndReplay(f: Family): Unit = {
    val path = tmp(s"conc-${f.name}-crash")
    f.build(0, 30, path)
    for ((step, b) <- Seq(Artifact.Staged, Artifact.BeforeCommit,
        Artifact.Committed).zipWithIndex) {
      val (ins, out) =
        ((30 + 10 * b, 40 + 10 * b), del(f, 3 * b, 3 * b + 3))
      crashAt(path, step)(f.applyBatch(ins, out, b, path))
      f.applyBatch(ins, out, b, path)
    }
    crashAt(path, Artifact.Committed)(f.compact(path))
    assert(f.compact(path) == 0)
    crashAt(path, Artifact.Committed)(f.purge(path))
    f.purge(path)
    assert(f.applyBatch((0, 0), (0, 0), 2L, path).reused)
    assertEqualsOneShot(f, path, del(f, 0, 9)._2, 60)
  }

  test("every artifact: a crash after staging, before commit, or after " +
      "commit but before GC — in a CDC batch, a compaction and a purge " +
      "— converges to the one-shot build after replay") {
    // the artifacts recover independently (the seam is per path), so
    // they run side by side
    val pool =
      java.util.concurrent.Executors.newFixedThreadPool(families.size)
    try {
      val runs = families.map(f => f.name -> pool.submit(
        new java.util.concurrent.Callable[Unit] {
          def call(): Unit = crashAndReplay(f)
        }))
      val failed = runs.flatMap { case (name, run) =>
        try { run.get(); None }
        catch { case e: java.util.concurrent.ExecutionException =>
          Some(s"$name: ${e.getCause}") }
      }
      assert(failed.isEmpty, failed.mkString("\n"))
    } finally pool.shutdown()
  }

  // ----- AggView hand-oracle scenarios (kept from the original spec,
  // they pin exact values rather than one-shot equivalence) ---------

  test("aggview hand oracle: 8 uncoordinated concurrent appends land " +
      "exactly once against exact hand-computed sums") {
    val path = tmp("conc-append")
    AggView.buildIfAbsent(facts(0, 40), Seq("grp", "sub"), measures,
      path, kbParts = 8)
    race((0 until 8).map { i => () =>
      AggView.append(facts(40 + 20 * i, 60 + 20 * i), path); ()
    })
    assert(viewOf(AggView.read(spark, path)) == handView(0 until 200))
    // fingerprint/count must equal a one-shot build over everything
    // (xor composition is order-free, so ANY interleaving matches)
    val oneShot = AggView.buildIfAbsent(facts(0, 200), Seq("grp", "sub"),
      measures, tmp("conc-oneshot"), kbParts = 8)
    val folded = AggView.append(facts(0, 0), path) // no-op: reads state
    assert(folded.fingerprint == oneShot.fingerprint &&
      folded.count == oneShot.count)
  }

  test("aggview hand oracle: racing replays of one batch id apply " +
      "once (insert + delete mixed)") {
    val path = tmp("conc-batch")
    AggView.buildIfAbsent(facts(0, 150), Seq("grp", "sub"), measures,
      path, kbParts = 8)
    val b0 = facts(150, 200).withColumn("op", lit("I"))
      .unionByName(facts(0, 30).withColumn("op", lit("D")))
    race((0 until 4).map { _ => () =>
      AggView.applyBatch(b0, 0L, path); ()
    })
    assert(viewOf(AggView.read(spark, path)) == handView(30 until 200))
    val once = AggView.buildIfAbsent(facts(30, 200), Seq("grp", "sub"),
      measures, tmp("conc-batch-once"), kbParts = 8)
    val state = AggView.applyBatch(b0, 0L, path) // replay: skips
    assert(state.reused && state.fingerprint == once.fingerprint &&
      state.count == once.count)
  }

  test("aggview hand oracle: appends racing a compaction and a purge " +
      "are never lost; delete still exact afterwards") {
    val path = tmp("conc-maint")
    AggView.buildIfAbsent(facts(0, 40), Seq("grp", "sub"), measures,
      path, kbParts = 8)
    AggView.append(facts(40, 80), path)
    AggView.append(facts(80, 120), path)
    race(Seq(
      () => { AggView.compactDeltas(spark, path); () },
      () => { AggView.append(facts(120, 160), path); () },
      () => { AggView.append(facts(160, 200), path); () }))
    assert(viewOf(AggView.read(spark, path)) == handView(0 until 200))
    race(Seq(
      () => { AggView.purge(spark, path); () },
      () => { AggView.append(facts(200, 240), path); () }))
    assert(viewOf(AggView.read(spark, path)) == handView(0 until 240))
    AggView.delete(facts(0, 30), path)
    assert(viewOf(AggView.read(spark, path)) == handView(30 until 240))
  }

  // ----- one CDC feed, many artifacts (IndexPipeline fleets): per-
  // artifact exactly-once makes the FLEET converge to the sequential
  // fold even when a crash lands between artifact commits ----------

  private def corpus(from: Int, until: Int) = {
    import spark.implicits._
    (from until until).map(i =>
      (i.toLong, s"tok${i % 5} tok${(i + 1) % 5} body word$i tail${i % 3}"))
      .toDF("doc_id", "text")
  }

  private def bm25Scores(path: String) =
    Bm25Index.score(spark, path, Seq("tok1", "tok3")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet

  private def lmScores(path: String, docs: org.apache.spark.sql.DataFrame) =
    LmIndex.score(spark, path, docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet

  test("a crash between artifact commits + at-least-once replay " +
      "converges every artifact to the sequential fold") {
    val (bmPath, lmPath, ddPath) =
      (tmp("pipe-bm"), tmp("pipe-lm"), tmp("pipe-dd"))
    Bm25Index.buildIfAbsent(corpus(0, 20), "text", "doc_id", bmPath,
      tbParts = 4, dlParts = 4)
    LmIndex.buildIfAbsent(corpus(0, 20), "text", "doc_id", lmPath,
      gbParts = 4, ibParts = 4)
    DedupIndex.buildIfAbsent(corpus(0, 20), "text", "doc_id",
      DedupIndex.MinhashMd5(16, 4), bands = 4, ddPath,
      kbParts = 4, sbParts = 4, dbParts = 4)

    val batch0 = corpus(20, 26).withColumn("op", lit("I"))
      .unionByName(corpus(0, 2).withColumn("op", lit("D")))

    // CRASH SIMULATION: batch 0 reached BM25 only, then the process
    // died before the LM and dedup sinks ran
    Bm25Index.applyBatch(batch0, 0L, bmPath)

    // the at-least-once replay drives the full pipeline sink: BM25
    // skips (watermark), LM and dedup apply — the fleet converges
    IndexPipeline.sink(
      Bm25Index.cdcSink(bmPath),
      LmIndex.cdcSink(lmPath),
      DedupIndex.cdcSink(ddPath))(batch0, 0L)

    val survivors = corpus(2, 26)
    val (wantFp, wantN) =
      IndexDirs.contentFingerprint(survivors, Seq("doc_id", "text"))
    for (p <- Seq(bmPath, lmPath, ddPath)) {
      val b = p match {
        case `bmPath` => Bm25Index.buildIfAbsent(survivors, "text",
          "doc_id", p, tbParts = 4, dlParts = 4)
        case `lmPath` => LmIndex.buildIfAbsent(survivors, "text",
          "doc_id", p, gbParts = 4, ibParts = 4)
        case _ => DedupIndex.buildIfAbsent(survivors, "text", "doc_id",
          DedupIndex.MinhashMd5(16, 4), bands = 4, p,
          kbParts = 4, sbParts = 4, dbParts = 4)
      }
      assert(b.reused && b.fingerprint == wantFp && b.count == wantN,
        s"artifact $p must equal the sequential fold")
    }
    // and the servable state matches survivors-only rebuilds
    val bmWant = tmp("pipe-bm-want")
    Bm25Index.buildIfAbsent(survivors, "text", "doc_id", bmWant,
      tbParts = 4, dlParts = 4)
    assert(bm25Scores(bmPath) == bm25Scores(bmWant))
    val lmWant = tmp("pipe-lm-want")
    LmIndex.buildIfAbsent(survivors, "text", "doc_id", lmWant,
      gbParts = 4, ibParts = 4)
    assert(lmScores(lmPath, corpus(0, 26)) ==
      lmScores(lmWant, corpus(0, 26)))
  }

  test("after a partial crash-replay, the PINNED read serves every " +
      "artifact at the common batch watermark (= the sequential fold " +
      "at that batch), never mixing watermarks") {
    import graft.operators.AggView.Measure
    val (aggPath, vsPath) = (tmp("pin-agg"), tmp("pin-vs"))
    import spark.implicits._
    def facts(from: Int, until: Int) = (from until until).map { i =>
      (i.toLong, s"g${i % 3}", (i * 7 % 101).toLong,
        (0 until 4).map(d => ((i * 31 + d * 7) % 201 - 100).toLong))
    }.toDF("id", "grp", "v", "q")
    AggView.buildIfAbsent(facts(0, 30), Seq("grp"),
      Seq(Measure("v_sum", "v")), aggPath, kbParts = 4)
    VecStats.buildIfAbsent(facts(0, 30), "q", "id", vsPath, ibParts = 4)
    val sinks = IndexPipeline.sink(
      AggView.cdcSink(aggPath), VecStats.cdcSink(vsPath))
    sinks(facts(30, 40).withColumn("op", lit("I")), 0L)
    // CRASH SIMULATION: batch 1 reached the AggView only
    AggView.applyBatch(facts(40, 50).withColumn("op", lit("I")), 1L,
      aggPath)
    assert(IndexPipeline.lastBatch(aggPath) == 1L &&
      IndexPipeline.lastBatch(vsPath) == 0L)
    // mid-convergence: the fleet's consistent read point is batch 0,
    // and the pinned serves equal the sequential fold AT batch 0
    assert(IndexPipeline.commonBatch(Seq(aggPath, vsPath)) == 0L)
    val pins = IndexPipeline.pinnedVersions(Seq(aggPath, vsPath))
    val aggAt0 = AggView.readAsOf(spark, aggPath, pins(aggPath))
      .collect().map(_.toString).toSet
    val vsAt0 = VecStats.summaryAsOf(spark, vsPath, pins(vsPath))
      .collect().map(_.toString).toSet
    val (aggWant, vsWant) = (tmp("pin-agg-w"), tmp("pin-vs-w"))
    AggView.buildIfAbsent(facts(0, 40), Seq("grp"),
      Seq(Measure("v_sum", "v")), aggWant, kbParts = 4)
    VecStats.buildIfAbsent(facts(0, 40), "q", "id", vsWant, ibParts = 4)
    assert(aggAt0 == AggView.read(spark, aggWant)
      .collect().map(_.toString).toSet)
    assert(vsAt0 == VecStats.summary(spark, vsWant)
      .collect().map(_.toString).toSet)
    // the replay lands batch 1 everywhere; the pins advance together
    sinks(facts(40, 50).withColumn("op", lit("I")), 1L)
    assert(IndexPipeline.commonBatch(Seq(aggPath, vsPath)) == 1L)
    val pins1 = IndexPipeline.pinnedVersions(Seq(aggPath, vsPath))
    assert(AggView.readAsOf(spark, aggPath, pins1(aggPath))
      .collect().map(_.toString).toSet ==
      AggView.read(spark, aggPath).collect().map(_.toString).toSet)
    assert(VecStats.summaryAsOf(spark, vsPath, pins1(vsPath))
      .collect().map(_.toString).toSet ==
      VecStats.summary(spark, vsPath).collect().map(_.toString).toSet)
  }

  test("a live mixed CDC stream maintains three artifacts through one " +
      "foreachBatch pipeline") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (bmPath, lmPath, ddPath) =
      (tmp("pipes-bm"), tmp("pipes-lm"), tmp("pipes-dd"))
    Bm25Index.buildIfAbsent(corpus(0, 15), "text", "doc_id", bmPath,
      tbParts = 4, dlParts = 4)
    LmIndex.buildIfAbsent(corpus(0, 15), "text", "doc_id", lmPath,
      gbParts = 4, ibParts = 4)
    DedupIndex.buildIfAbsent(corpus(0, 15), "text", "doc_id",
      DedupIndex.MinhashMd5(16, 4), bands = 4, ddPath,
      kbParts = 4, sbParts = 4, dbParts = 4)
    def rowsOf(df: org.apache.spark.sql.DataFrame, op: String) =
      df.collect().map(r => (r.getLong(0), r.getString(1), op)).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val q = input.toDF().toDF("doc_id", "text", "op")
      .writeStream
      .foreachBatch(IndexPipeline.sink(
        Bm25Index.cdcSink(bmPath),
        LmIndex.cdcSink(lmPath),
        DedupIndex.cdcSink(ddPath)))
      .start()
    input.addData(rowsOf(corpus(15, 20), "I") ++
      rowsOf(corpus(0, 3), "D"): _*)
    q.processAllAvailable()
    input.addData(rowsOf(corpus(20, 24), "I"): _*)
    q.processAllAvailable()
    q.stop()
    val survivors = corpus(3, 24)
    val (wantFp, _) =
      IndexDirs.contentFingerprint(survivors, Seq("doc_id", "text"))
    assert(Bm25Index.buildIfAbsent(survivors, "text", "doc_id", bmPath,
      tbParts = 4, dlParts = 4)
      .fingerprint == wantFp)
    assert(LmIndex.buildIfAbsent(survivors, "text", "doc_id", lmPath,
      gbParts = 4, ibParts = 4)
      .reused)
    assert(DedupIndex.buildIfAbsent(survivors, "text", "doc_id",
      DedupIndex.MinhashMd5(16, 4), bands = 4, ddPath,
      kbParts = 4, sbParts = 4, dbParts = 4).reused)
  }

  test("ColStats rides an insert-only fleet exactly-once; a delete " +
      "batch REFUSES in its sink while the fleet's common-watermark " +
      "read point stays consistent") {
    import graft.operators.AggView.Measure
    import spark.implicits._
    val (aggPath, csPath) = (tmp("csfleet-agg"), tmp("csfleet-cs"))
    def facts(from: Int, until: Int) = (from until until).map { i =>
      (i.toLong, s"g${i % 3}", (i * 7 % 101).toLong)
    }.toDF("id", "grp", "v")
    AggView.buildIfAbsent(facts(0, 30), Seq("grp"),
      Seq(Measure("v_sum", "v")), aggPath, kbParts = 4)
    ColStats.buildIfAbsent(facts(0, 30), Seq("id", "v"), Seq("grp"),
      csPath)
    val sinks = IndexPipeline.sink(
      AggView.cdcSink(aggPath), ColStats.cdcSink(csPath))
    sinks(facts(30, 40).withColumn("op", lit("I")), 0L)
    // at-least-once replay: both artifacts skip (watermark)
    sinks(facts(30, 40).withColumn("op", lit("I")), 0L)
    assert(ColStats.buildIfAbsent(facts(0, 40), Seq("id", "v"),
      Seq("grp"), csPath).reused,
      "colstats must equal the one-shot build over the fold")
    // a delete batch: AggView (first sink) applies it, ColStats
    // refuses — monotone stats can't retract — and NOTHING is staged
    intercept[UnsupportedOperationException] {
      sinks(facts(0, 5).withColumn("op", lit("D")), 1L)
    }
    assert(IndexPipeline.lastBatch(aggPath) == 1L &&
      IndexPipeline.lastBatch(csPath) == 0L)
    // the fleet's consistent read point pins at the common watermark
    assert(IndexPipeline.commonBatch(Seq(aggPath, csPath)) == 0L)
    val pins = IndexPipeline.pinnedVersions(Seq(aggPath, csPath))
    assert(AggView.readAsOf(spark, aggPath, pins(aggPath))
      .agg(sum("v_sum")).head().getLong(0) ==
      facts(0, 40).agg(sum("v")).head().getLong(0))
  }

  test("a MergeOnRead change stream drives the fleet: CDC table -> " +
      "changeStream -> pipeline sink converges both artifacts") {
    import spark.implicits._
    val morDir = Files.createTempDirectory("pipecs-mor").toUri.toString
      .stripSuffix("/") + "/tbl"
    val (bmPath, lmPath) = (tmp("pipecs-bm"), tmp("pipecs-lm"))
    val ckpt = Files.createTempDirectory("pipecs-ckpt").toString
    MergeOnRead.create(corpus(0, 15), morDir, Seq("doc_id"))
    Bm25Index.buildIfAbsent(corpus(0, 15), "text", "doc_id", bmPath,
      tbParts = 4, dlParts = 4)
    LmIndex.buildIfAbsent(corpus(0, 15), "text", "doc_id", lmPath,
      gbParts = 4, ibParts = 4)
    // mutate the TABLE; the artifacts subscribe to its change feed
    MergeOnRead.append(corpus(15, 20)
      .withColumn("op", lit("I")).withColumn("seq", lit(1L)), morDir)
    MergeOnRead.append(corpus(0, 3)
      .withColumn("op", lit("D")).withColumn("seq", lit(1L)), morDir)
    val q = MergeOnRead.changeStream(spark, morDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        // the feed carries seq/batch; the artifact sinks take the
        // CDC triple
        IndexPipeline.sink(
          Bm25Index.cdcSink(bmPath),
          LmIndex.cdcSink(lmPath))(df.select("doc_id", "text", "op"), id)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // both artifacts equal the survivors-only fold of the table —
    // which is exactly the table's own live state
    val survivors = corpus(3, 20)
    assert(MergeOnRead.read(spark, morDir).select("doc_id", "text")
        .collect().map(_.toString).toSet ==
      survivors.collect().map(_.toString).toSet)
    val (wantFp, _) =
      IndexDirs.contentFingerprint(survivors, Seq("doc_id", "text"))
    assert(Bm25Index.buildIfAbsent(survivors, "text", "doc_id", bmPath,
      tbParts = 4, dlParts = 4)
      .fingerprint == wantFp)
    assert(LmIndex.buildIfAbsent(survivors, "text", "doc_id", lmPath,
      gbParts = 4, ibParts = 4)
      .reused)
  }
}
