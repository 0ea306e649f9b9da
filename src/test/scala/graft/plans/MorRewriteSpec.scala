package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.{AggView, MergeOnRead}
import graft.sources.MorRelation

/** The materialized-view rewrite over a [[MergeOnRead]] CDC base —
  * the always-fresh-view loop, mechanically:
  *
  *  - a grouped aggregate over a live `mor`-source read rewrites onto
  *    the registered [[AggView]] (the one table kind with a real
  *    commit protocol gets the exact manifest-state pin, no listing
  *    fold);
  *  - a stream batch landing in the TABLE only makes the pin stale —
  *    the query falls back to the (correct) base+delta fold, and
  *    [[AggViewRewrite.refreshPins]] REFUSES until the view's own
  *    watermark reaches the table's;
  *  - once the fleet applies the same batch to the view,
  *    `refreshPins` verifies the watermarks and re-pins — the next
  *    plain-SQL aggregate rewrites again, reflecting the batch;
  *  - compaction moves the manifest but not the watermark: refresh
  *    re-pins without any data verification cost;
  *  - a version-pinned (time-travel) mor read never rewrites.
  */
class MorRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkTestSession.spark
    AggViewRewrite.install(s)
    s
  }

  private var dir: String = _
  private var viewDir: String = _

  private def morDf: DataFrame =
    spark.read.format("mor").load(dir)

  override def beforeAll(): Unit = {
    val root = Files.createTempDirectory("graft-mor-rw").toString
    dir = s"$root/tbl"
    viewDir = s"$root/view"
    val s = spark
    import s.implicits._
    val t0 = (0 until 120).map(i => (i.toLong, s"g${i % 4}", i.toLong))
      .toDF("k", "g", "x")
    MergeOnRead.create(t0, dir, Seq("k"), nBuckets = 4)
    AggView.buildIfAbsent(morDf, Seq("g"),
      Seq(AggView.Measure("sum_x", "x")), viewDir, kbParts = 4)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW morspec_tbl " +
      s"USING mor OPTIONS (path '$dir')")
  }

  override def afterAll(): Unit = AggViewRewrite.clear()

  private def q: DataFrame =
    spark.sql("""SELECT g, count(*) AS c, sum(x) AS sx
                |FROM morspec_tbl GROUP BY g""".stripMargin)

  private def hitsView(df: DataFrame): Boolean = hitsViewAt(df, viewDir)

  private def hitsViewAt(df: DataFrame, vd: String): Boolean = {
    val plan = GraftBridge.optimizedPlan(df)
    val morLeft = plan.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[MorRelation] => l
    }.isDefined
    val viewScanned = plan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.exists(_.contains(vd))
    viewScanned && !morLeft
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("the full always-fresh lifecycle: rewrite → table-only batch " +
      "refuses → fleet convergence re-pins → compaction re-pins") {
    AggViewRewrite.clear()
    val truth0 = sorted(q)
    AggViewRewrite.register(spark, morDf, viewDir)
    val r0 = q
    assert(hitsView(r0), GraftBridge.optimizedPlan(r0).toString)
    assert(sorted(r0) == truth0)
    // MOR pins are evaluated by status() directly
    val st = AggViewRewrite.status(spark).collect().head
    assert(st.getAs[Boolean]("base_fresh") &&
      st.getAs[Boolean]("version_fresh"))

    // one CDC changelog batch: inserts, plus a delete carrying the
    // FULL old row (what the view retraction needs; MOR only needs
    // the key)
    val s = spark
    import s.implicits._
    val batch = ((120 until 140).map(i =>
        (i.toLong, s"g${i % 4}", i.toLong, "I", 1L)) ++
      (0 until 10).map(i => (i.toLong, s"g${i % 4}", i.toLong, "D", 2L)))
      .toDF("k", "g", "x", "op", "seq")

    // lands in the TABLE only
    MergeOnRead.streamAppend(batch, 0L, dir)
    val r1 = q
    assert(!hitsView(r1)) // pin stale: base+delta fold serves
    val fold1 = sorted(r1)
    assert(fold1 != truth0) // the batch is visible through the fold
    val ref1 = AggViewRewrite.refreshPins(spark).collect().head
    assert(!ref1.getBoolean(1) &&
      ref1.getString(2).contains("diverge"), ref1.getString(2))

    // the fleet applies the same batch to the view
    AggView.applyBatch(batch, 0L, viewDir)
    val ref2 = AggViewRewrite.refreshPins(spark).collect().head
    assert(ref2.getBoolean(1), ref2.getString(2))
    val r2 = q
    assert(hitsView(r2), GraftBridge.optimizedPlan(r2).toString)
    assert(sorted(r2) == fold1)

    // compaction moves the manifest (and folds the delta) but not
    // the watermark — refresh re-pins, results unchanged
    assert(MergeOnRead.compact(spark, dir) > 0)
    assert(!hitsView(q))
    val ref3 = AggViewRewrite.refreshPins(spark).collect().head
    assert(ref3.getBoolean(1), ref3.getString(2))
    val r3 = q
    assert(hitsView(r3))
    assert(sorted(r3) == fold1)
  }

  test("an out-of-band (unmarked) append refuses the refresh") {
    AggViewRewrite.clear()
    AggViewRewrite.register(spark, morDf, viewDir)
    val s = spark
    import s.implicits._
    val oob = Seq((500L, "g0", 500L, "I", 1L))
      .toDF("k", "g", "x", "op", "seq")
    MergeOnRead.append(oob, dir) // plain append: NO stream marker
    assert(!hitsView(q))
    val ref = AggViewRewrite.refreshPins(spark).collect().head
    assert(!ref.getBoolean(1) &&
      ref.getString(2).contains("out-of-band"), ref.getString(2))
    // clean up for other tests: fold the orphan in and re-sync view
    MergeOnRead.compact(spark, dir)
    AggView.append(oob.drop("op", "seq"), viewDir)
  }

  test("an out-of-band VIEW mutation refuses the refresh (the " +
      "poisoned view never re-pins); a view compaction re-pins") {
    AggViewRewrite.clear()
    AggViewRewrite.register(spark, morDf, viewDir)
    val s = spark
    import s.implicits._
    // pure maintenance: compaction moves the version but not the fp —
    // the commit-chain walk accepts it and the pin refreshes
    AggView.compactDeltas(s, viewDir)
    val r1 = AggViewRewrite.refreshPins(s).collect().head
    assert(r1.getBoolean(1) || r1.getString(2).contains("fresh"),
      r1.getString(2))
    // poison: rows folded into the VIEW outside the batch feed — fp
    // moves without the watermark; the MOR watermarks still match,
    // so ONLY the chain walk can catch this
    AggView.append(Seq((777L, "g0", 777L)).toDF("k", "g", "x"),
      viewDir)
    val r2 = AggViewRewrite.refreshPins(s).collect().head
    assert(!r2.getBoolean(1) &&
      r2.getString(2).contains("outside the batch feed"),
      r2.getString(2))
    assert(!hitsView(q)) // and the rewrite stays off
  }

  test("an out-of-band view append whose delta XOR-CANCELS (even-" +
      "multiplicity duplicates) still refuses: the chain check pairs " +
      "fp with n") {
    AggViewRewrite.clear()
    val root = Files.createTempDirectory("graft-mor-xorc").toString
    val tdir = s"$root/tbl"
    val vdir = s"$root/view"
    val s = spark
    import s.implicits._
    val t0 = (0 until 40).map(i => (i.toLong, s"g${i % 2}", i.toLong))
      .toDF("k", "g", "x")
    MergeOnRead.create(t0, tdir, Seq("k"), nBuckets = 2)
    val mdf = spark.read.format("mor").load(tdir)
    AggView.buildIfAbsent(mdf, Seq("g"),
      Seq(AggView.Measure("sum_x", "x")), vdir, kbParts = 2)
    AggViewRewrite.register(spark, mdf, vdir)
    // the poison: every appended row appears TWICE, so the delta's
    // xor fingerprint cancels to 0 and the composed fp is UNCHANGED —
    // only the row count betrays the commit
    val dup = Seq((900L, "g0", 900L)).toDF("k", "g", "x")
    AggView.append(dup.union(dup), vdir)
    val r = AggViewRewrite.refreshPins(spark).collect().head
    assert(!r.getBoolean(1) &&
      r.getString(2).contains("outside the batch feed"),
      r.getString(2))
    AggViewRewrite.clear()
  }

  test("refreshPins isolates a broken registration: one unreadable " +
      "base reports as its own row, the healthy row still refreshes") {
    AggViewRewrite.clear()
    val s = spark
    import s.implicits._
    RefreshIsolation.check("graft-mor-iso", 30, 10) { (p, n) =>
      (0 until n).map(i => (s"g${i % 3}", i.toLong)).toDF("g", "x")
        .write.parquet(s"$p-base")
      AggView.buildIfAbsent(spark.read.parquet(s"$p-base"), Seq("g"),
        Seq(AggView.Measure("sum_x", "x")), s"$p-view", kbParts = 2)
      AggViewRewrite.register(spark, spark.read.parquet(s"$p-base"),
        s"$p-view")
      s"$p-view"
    }(AggViewRewrite.refreshPins(spark))
    AggViewRewrite.clear()
  }

  test("refreshingSink keeps the registration live across a REAL " +
      "micro-batch stream: every batch lands in table, view, and pin") {
    AggViewRewrite.clear()
    val root = Files.createTempDirectory("graft-mor-stream-rw").toString
    val tdir = s"$root/tbl"
    val vdir = s"$root/view"
    implicit val sqlCtx = spark.sqlContext
    val s = spark
    import s.implicits._
    def rows(from: Int, until: Int, op: String, seq: Long) =
      (from until until).map(i =>
        (i.toLong, s"g${i % 3}", i.toLong, op, seq))
    MergeOnRead.create(
      rows(0, 60, "I", 0L).toDF("k", "g", "x", "op", "seq")
        .drop("op", "seq"),
      tdir, Seq("k"), nBuckets = 4)
    val mdf = spark.read.format("mor").load(tdir)
    AggView.buildIfAbsent(mdf, Seq("g"),
      Seq(AggView.Measure("sum_x", "x")), vdir, kbParts = 4)
    AggViewRewrite.register(spark, mdf, vdir)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW morspec_stream " +
      s"USING mor OPTIONS (path '$tdir')")
    def agg = spark.sql("""SELECT g, count(*) AS c, sum(x) AS sx
                          |FROM morspec_stream GROUP BY g""".stripMargin)

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, String, Long)]
    val q = input.toDF().toDF("k", "g", "x", "op", "seq")
      .writeStream
      .foreachBatch(graft.operators.IndexPipeline.sink(
        MergeOnRead.foreachBatchSink(tdir),
        AggView.cdcSink(vdir),
        AggViewRewrite.refreshingSink(spark)))
      .start()
    input.addData(rows(60, 80, "I", 1L): _*)
    q.processAllAvailable()
    // batch 0 applied to table AND view, then the sink refreshed the
    // pin — the very next plain-SQL aggregate rewrites
    val a1 = agg
    assert(hitsViewAt(a1, vdir), GraftBridge.optimizedPlan(a1).toString)
    assert(a1.collect().map(_.getLong(1)).sum == 80L)
    // a delete batch flows the same way
    input.addData(rows(0, 5, "D", 2L): _*)
    q.processAllAvailable()
    q.stop()
    val a2 = agg
    assert(hitsViewAt(a2, vdir), GraftBridge.optimizedPlan(a2).toString)
    assert(a2.collect().map(_.getLong(1)).sum == 75L)
    AggViewRewrite.unregister(vdir)
  }

  test("a version-pinned (time-travel) mor read never rewrites") {
    AggViewRewrite.clear()
    val v = MergeOnRead.versions(dir).max
    val pinned = spark.read.format("mor")
      .option("version", v.toString).load(dir)
    intercept[IllegalArgumentException] {
      AggViewRewrite.register(spark, pinned, viewDir)
    }
    AggViewRewrite.register(spark, morDf, viewDir)
    pinned.createOrReplaceTempView("morspec_pinned")
    val r = spark.sql("""SELECT g, sum(x) AS sx FROM morspec_pinned
                        |GROUP BY g""".stripMargin)
    assert(!hitsView(r))
  }
}
