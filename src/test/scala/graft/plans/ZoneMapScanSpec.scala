package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.ZoneMap

/** Zone-map skipping for PLAIN parquet reads, mechanically:
  *
  *  - a registered table's filtered plain read scans ONLY the files
  *    the zone map cannot rule out (`inputFiles` shrinks), and the
  *    result equals the full scan's bit-for-bit (the predicate
  *    re-evaluates above the pruned scan);
  *  - a file landing in the table disables pruning (full scan, never
  *    drift) until [[ZoneMap.refresh]] + [[ZoneMapScan.refreshPins]]
  *    re-verify and re-pin — and an unprofiled file is NEVER dropped
  *    meanwhile (killed-set subtraction);
  *  - untranslatable predicates, unregistered tables, and all-match
  *    predicates keep the full scan.
  */
class ZoneMapScanSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkTestSession.spark
    ZoneMapScan.install(s)
    s
  }

  private var tableDir: String = _
  private var zmDir: String = _
  private var totalFiles: Int = _

  private def t: DataFrame = spark.read.parquet(tableDir)

  override def beforeAll(): Unit = {
    val root = Files.createTempDirectory("graft-zms-spec").toString
    tableDir = s"$root/tbl"
    zmDir = s"$root/zm"
    val s = spark
    import s.implicits._
    // range-laid-out on v: each of the 8 files holds a tight v zone
    (0 until 4000).map(i => (i.toLong, (i / 10).toLong, s"s$i"))
      .toDF("k", "v", "s")
      .repartitionByRange(8, col("v"))
      .write.parquet(tableDir)
    totalFiles = t.inputFiles.length
    assert(totalFiles == 8)
    ZoneMap.buildIfAbsent(spark, tableDir, Seq("v"), Nil, zmDir)
    ()
  }

  override def afterAll(): Unit = ZoneMapScan.clear()

  test("filtered plain read scans only surviving files, result " +
      "identical to the full scan") {
    ZoneMapScan.clear()
    val q = t.filter(col("v") >= 100L && col("v") < 120L)
    val truth = q.collect().map(_.toString).sorted.toSeq
    assert(q.inputFiles.length == totalFiles) // unregistered: full
    ZoneMapScan.register(spark, t, zmDir)
    val pruned = t.filter(col("v") >= 100L && col("v") < 120L)
    assert(pruned.inputFiles.length < totalFiles,
      pruned.queryExecution.optimizedPlan.toString)
    assert(pruned.collect().map(_.toString).sorted.toSeq == truth)
    // plain SQL through a temp view prunes the same way
    t.createOrReplaceTempView("zms_tbl")
    val sqlQ = spark.sql(
      "SELECT * FROM zms_tbl WHERE v >= 100 AND v < 120")
    assert(sqlQ.inputFiles.length < totalFiles)
    assert(sqlQ.collect().map(_.toString).sorted.toSeq == truth)
    // an all-match predicate keeps every file
    assert(t.filter(col("v") >= 0L).inputFiles.length == totalFiles)
  }

  test("table drift disables pruning (full scan, never drift) until " +
      "refresh + re-pin; unprofiled files are never dropped") {
    ZoneMapScan.clear()
    ZoneMapScan.register(spark, t, zmDir)
    assert(t.filter(col("v") === 50L).inputFiles.length < totalFiles)
    // a late file lands: OUTSIDE every existing zone (v = -1)
    val s = spark
    import s.implicits._
    Seq((999999L, -1L, "late")).toDF("k", "v", "s")
      .write.mode("append").parquet(tableDir)
    val stale = t.filter(col("v") === -1L)
    // sig mismatch: full scan of ALL files — the late row is found
    assert(stale.inputFiles.length == totalFiles + 1)
    assert(stale.count() == 1L)
    // the ops surface sees the drift
    val stStale = ZoneMapScan.status(spark).collect().head
    assert(!stStale.getAs[Boolean]("pin_fresh"))
    // refresh the artifact (profiles the new file), then re-pin
    ZoneMap.refresh(spark, zmDir)
    val st = ZoneMapScan.refreshPins(spark).collect().head
    assert(st.getBoolean(1), st.getString(2))
    val fresh = t.filter(col("v") === -1L)
    assert(fresh.inputFiles.length < totalFiles + 1)
    assert(fresh.count() == 1L)
    // and a zone-mapped value elsewhere prunes again
    assert(t.filter(col("v") === 50L).inputFiles.length <
      totalFiles + 1)
    val same = ZoneMapScan.refreshPins(spark).collect().head
    assert(!same.getBoolean(1) && same.getString(2).contains("fresh"))
  }

  test("DATE zone columns: a date-range plain read scans only the " +
      "surviving files, equality and boundary probes stay exact, " +
      "and refresh profiles a late date file") {
    ZoneMapScan.clear()
    val root = Files.createTempDirectory("graft-zms-date").toString
    val s = spark
    import s.implicits._
    def day(i: Int) = java.time.LocalDate.of(2023, 1, 1).plusDays(i)
    // range-laid-out on the date: each of 8 files holds ~50 days
    (0 until 4000).map(i => (i.toLong, day(i / 10)))
      .toDF("k", "dt")
      .repartitionByRange(8, col("dt"))
      .write.parquet(s"$root/tbl")
    def dtT: DataFrame = spark.read.parquet(s"$root/tbl")
    val nFiles = dtT.inputFiles.length
    ZoneMap.buildIfAbsent(spark, s"$root/tbl", Seq("dt"), Nil,
      s"$root/zm")
    ZoneMapScan.register(spark, dtT, s"$root/zm")
    val lo = java.sql.Date.valueOf("2023-04-01")
    val hi = java.sql.Date.valueOf("2023-04-15")
    val q = dtT.filter(col("dt").between(lo, hi))
    assert(q.inputFiles.length < nFiles,
      q.queryExecution.optimizedPlan.toString)
    assert(q.count() == 150L) // 15 days × 10 rows
    // equality on a boundary day is never pruned away
    val eq = dtT.filter(col("dt") === lit(day(399)))
    assert(eq.count() == 10L)
    // a late file with an OUT-OF-RANGE date: full scan until
    // refresh, pruned-and-found after
    Seq((999999L, day(5000))).toDF("k", "dt")
      .write.mode("append").parquet(s"$root/tbl")
    val stale = dtT.filter(col("dt") === lit(day(5000)))
    assert(stale.count() == 1L)
    ZoneMap.refresh(spark, s"$root/zm")
    val st = ZoneMapScan.refreshPins(spark).collect()
      .find(_.getString(0).contains("graft-zms-date")).get
    assert(st.getBoolean(1), st.getString(2))
    val fresh = dtT.filter(col("dt") === lit(day(5000)))
    assert(fresh.inputFiles.length < nFiles + 1)
    assert(fresh.count() == 1L)
    ZoneMapScan.clear()
  }

  test("bloom filters back plain-SQL equality pruning where zones " +
      "keep everything (hash layout)") {
    ZoneMapScan.clear()
    val root = Files.createTempDirectory("graft-zms-bloom").toString
    val s = spark
    import s.implicits._
    // hash layout: every file's k-zone spans the whole domain, so
    // only the per-file bloom can rule files out for an equality
    (0 until 4000).map(i => (i.toLong, s"v$i"))
      .toDF("k", "s").repartition(8, col("k"))
      .write.parquet(s"$root/tbl")
    val t2 = spark.read.parquet(s"$root/tbl")
    ZoneMap.buildIfAbsent(spark, s"$root/tbl", Seq("k"), Nil,
      s"$root/zm", bloomCols = Seq("k"))
    ZoneMapScan.register(spark, t2, s"$root/zm")
    t2.createOrReplaceTempView("zms_bloom_tbl")
    val q = spark.sql("SELECT * FROM zms_bloom_tbl WHERE k = 1234")
    assert(q.inputFiles.length < 8,
      q.queryExecution.optimizedPlan.toString)
    assert(q.count() == 1L)
  }

  test("an artifact rebuilt at the same path after registration is " +
      "NOT trusted: the version pin disables pruning until " +
      "refreshPins re-verifies") {
    ZoneMapScan.clear()
    val root = Files.createTempDirectory("graft-zms-ver").toString
    val s = spark
    import s.implicits._
    (0 until 2000).map(i => (i.toLong, (i / 10).toLong))
      .toDF("k", "v").repartitionByRange(8, col("v"))
      .write.parquet(s"$root/tbl")
    val t2 = spark.read.parquet(s"$root/tbl")
    ZoneMap.buildIfAbsent(spark, s"$root/tbl", Seq("v"), Nil,
      s"$root/zm")
    ZoneMapScan.register(spark, t2, s"$root/zm")
    assert(t2.filter(col("v") === 5L).inputFiles.length < 8)
    // rebuild the artifact AT THE SAME PATH against a different
    // column set — same table listing, higher manifest version: the
    // killed sets it computes were never verified for this pin
    ZoneMap.buildIfAbsent(spark, s"$root/tbl", Seq("k"), Nil,
      s"$root/zm")
    assert(t2.filter(col("v") === 5L).inputFiles.length == 8)
    val st = ZoneMapScan.status(spark).collect().head
    assert(!st.getAs[Boolean]("version_fresh"))
    // refreshPins re-runs register's verification against the LIVE
    // artifact and re-pins; pruning (now keyed on k) works again
    val r = ZoneMapScan.refreshPins(spark).collect().head
    assert(r.getBoolean(1), r.getString(2))
    assert(t2.filter(col("k") === 7L).inputFiles.length < 8)
    ZoneMapScan.clear()
  }

  test("refreshPins isolates a broken registration: an unreadable " +
      "base reports as its own row, the healthy row still reads fresh") {
    ZoneMapScan.clear()
    val s = spark
    import s.implicits._
    RefreshIsolation.check("graft-zms-iso", 50, 10) { (p, n) =>
      (0 until n).map(i => (i.toLong, (i / 10).toLong)).toDF("k", "v")
        .write.parquet(s"$p-base")
      ZoneMap.buildIfAbsent(spark, s"$p-base", Seq("v"), Nil, s"$p-zm")
      ZoneMapScan.register(spark, spark.read.parquet(s"$p-base"), s"$p-zm")
      s"$p-zm"
    }(ZoneMapScan.refreshPins(spark))
    ZoneMapScan.clear()
  }

  test("a PARTITIONED table composes: the plan keeps partition " +
      "pruning AND drops zone-killed files, results exact") {
    ZoneMapScan.clear()
    val root = Files.createTempDirectory("graft-zms-part").toString
    val s = spark
    import s.implicits._
    // 3 partitions × 4 range-tight files on v each
    (0 until 3).foreach { p =>
      (0 until 1200).map(i => (i.toLong + p * 10000, (i / 10).toLong))
        .toDF("k", "v").repartitionByRange(4, col("v"))
        .write.mode("append").parquet(s"$root/pt/p=$p")
    }
    val pt = spark.read.parquet(s"$root/pt")
    val allFiles = pt.inputFiles.length
    assert(allFiles == 12)
    ZoneMap.buildIfAbsent(spark, s"$root/pt", Seq("v"), Nil,
      s"$root/zmp")
    ZoneMapScan.register(spark, pt, s"$root/zmp")
    pt.createOrReplaceTempView("zms_part_tbl")
    val q = spark.sql(
      "SELECT * FROM zms_part_tbl WHERE p = 1 AND v BETWEEN 20 AND 29")
    // partition pruning (1 of 3 partitions) AND zone skipping
    // (fewer than that partition's 4 files) both fired: fewer than
    // 4 of the 12 files are scanned, and the physical scan carries
    // a real PartitionFilters clause
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p"), plan)
    assert(q.inputFiles.length < allFiles / 3,
      s"${q.inputFiles.length} of $allFiles scanned\n$plan")
    // exact: equals the unregistered full-scan answer
    val truth = {
      ZoneMapScan.clear()
      spark.sql("SELECT * FROM zms_part_tbl WHERE p = 1 AND " +
        "v BETWEEN 20 AND 29").collect().map(_.toString).sorted.toSeq
    }
    ZoneMapScan.register(spark, pt, s"$root/zmp")
    assert(q.collect().map(_.toString).sorted.toSeq == truth)
    ZoneMapScan.clear()
  }

  test("register refuses a non-bare plan") {
    ZoneMapScan.clear()
    intercept[IllegalArgumentException] {
      ZoneMapScan.register(spark, t.filter(col("v") > 0), zmDir)
    }
  }
}
