package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The one profiling pass ([[Profile.aggregate]]) and the fused
  * one-scan build of both profile artifacts ([[Profile.buildBoth]]):
  *
  *  - content-identical artifacts: every table (scalar/regs/hist;
  *    stats/bloom/files) holds row-for-row what the separate
  *    [[ColStats.buildIfAbsent]] / [[ZoneMap.buildIfAbsent]] builders
  *    write, and the manifest fingerprints are bit-equal — so the
  *    fused and separate builds REUSE each other and all downstream
  *    maintenance works unchanged;
  *  - the aggregate's physical plan scans the corpus ONCE (one
  *    parquet scan node) for every caller's grain set, and a grain
  *    a caller does not request adds nothing to its pass;
  *  - serve interop: the fused artifacts answer through the existing
  *    APIs (stats/ndv/hist, scan/prune) identically.
  */
class ProfileSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  private var tableDir: String = _
  private var root: String = _

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graft-profile-spec").toString
    tableDir = s"$root/tbl"
    val s = spark
    import s.implicits._
    (0 until 3000).map { i =>
      (i.toLong,
        if (i % 13 == 0) None else Some((i % 40).toLong),
        if (i % 7 == 0) None else Some(s"s${i % 25}"),
        (i % 11).toLong)
    }.toDF("k", "g", "s", "b")
      .repartitionByRange(4, col("k"))
      .write.parquet(tableDir)
  }

  private val num = Seq("k", "g")
  private val str = Seq("s")
  private val blooms = Seq("b")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("fused build writes content-identical artifacts with " +
      "bit-equal fingerprints, and the two build paths reuse each " +
      "other") {
    val sepCs = s"$root/sep-cs"
    val sepZm = s"$root/sep-zm"
    val fusCs = s"$root/fus-cs"
    val fusZm = s"$root/fus-zm"
    val t = spark.read.parquet(tableDir)
    val csB = ColStats.buildIfAbsent(t, num, str, sepCs)
    val zmB = ZoneMap.buildIfAbsent(spark, tableDir, num, str, sepZm,
      bloomCols = blooms)
    val (fCs, fZm) = Profile.buildBoth(spark, tableDir, num, str,
      fusCs, fusZm, bloomCols = blooms)
    assert(!fCs.reused && !fZm.reused)
    assert(fCs.fingerprint == csB.fingerprint && fCs.count == csB.count)
    assert(fZm.fingerprint == zmB.fingerprint && fZm.count == zmB.count)
    // every persisted table row-identical
    for (sub <- Seq("scalar", "regs", "hist"))
      assert(rows(spark.read.parquet(s"$sepCs/$sub")) ==
        rows(spark.read.parquet(s"$fusCs/$sub")), sub)
    for (sub <- Seq("stats", "bloom", "files"))
      assert(rows(spark.read.parquet(s"$sepZm/$sub")) ==
        rows(spark.read.parquet(s"$fusZm/$sub")), sub)
    // cross-reuse: the fused artifacts satisfy the separate builders'
    // fingerprint checks and vice versa
    assert(ColStats.buildIfAbsent(t, num, str, fusCs).reused)
    assert(ZoneMap.buildIfAbsent(spark, tableDir, num, str, fusZm,
      bloomCols = blooms).reused)
    val (rCs, rZm) = Profile.buildBoth(spark, tableDir, num, str,
      sepCs, sepZm, bloomCols = blooms)
    assert(rCs.reused && rZm.reused)
  }

  test("bloomless fused build: the empty bloom table keeps the " +
      "reader-expected schema and matches the separate builder") {
    val sepCs = s"$root/sep0-cs"
    val sepZm = s"$root/sep0-zm"
    val fusCs = s"$root/fus0-cs"
    val fusZm = s"$root/fus0-zm"
    ColStats.buildIfAbsent(spark.read.parquet(tableDir), num, str,
      sepCs)
    ZoneMap.buildIfAbsent(spark, tableDir, num, str, sepZm)
    val (fCs, fZm) = Profile.buildBoth(spark, tableDir, num, str,
      fusCs, fusZm)
    assert(!fCs.reused && !fZm.reused)
    val sepBloom = spark.read.parquet(s"$sepZm/bloom")
    val fusBloom = spark.read.parquet(s"$fusZm/bloom")
    assert(sepBloom.schema == fusBloom.schema)
    assert(sepBloom.count() == 0L && fusBloom.count() == 0L)
    // the reader path (prune with an undeclared-bloom equality)
    // unions the empty table without error on either artifact
    import org.apache.spark.sql.sources.EqualTo
    assert(ZoneMap.prune(spark, fusZm, Seq(EqualTo("s", "s1")))._2 == 4L)
    assert(rows(ZoneMap.stats(spark, fusZm)) ==
      rows(ZoneMap.stats(spark, sepZm)))
  }

  test("the fused aggregate scans the corpus exactly once") {
    // every caller's grain set: ColStats' table-grain staging,
    // ZoneMap's per-file profile and the fused build
    val cs = Profile.ColStatsGrains
    val zm = Profile.ZoneMapGrains
    for ((grains, byFile) <- Seq(cs -> false, zm -> true,
        (cs ++ zm) -> true)) {
      val agg = Profile.aggregate(spark.read.parquet(tableDir), grains,
        num, str, byFile, bloomCols = blooms, bloomBits = 8192,
        bloomK = 3)
      val p = agg.queryExecution.executedPlan.toString
      assert("Scan parquet".r.findAllIn(p).length == 1, p)
      // a grain the caller does not request adds no column and no
      // per-row expression to its pass
      assert(agg.columns.contains("file") == byFile)
      assert(agg.columns.contains("maxrho") == grains("hl"))
      assert(agg.columns.contains("sumlen") == grains("hl"))
      assert(agg.columns.contains("orbits") == grains("bl"))
      assert(agg.columns.contains("xorv") == grains("fp"))
      assert(p.contains("xxhash64") == (grains("bl") || grains("fp")), p)
      assert(p.contains("rho") == grains("hl"), p)
    }
  }

  test("fused artifacts serve and maintain through the existing " +
      "APIs: ndv/hist/quantiles agree, zone prune agrees, append " +
      "composes") {
    val fusCs = s"$root/fus-cs" // built by the first test
    val sepCs = s"$root/sep-cs"
    val fusZm = s"$root/fus-zm"
    val sepZm = s"$root/sep-zm"
    assert(rows(ColStats.ndv(spark, fusCs)) ==
      rows(ColStats.ndv(spark, sepCs)))
    assert(rows(ColStats.quantiles(spark, fusCs)) ==
      rows(ColStats.quantiles(spark, sepCs)))
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    val f = Seq(GreaterThanOrEqual("k", 1500L), EqualTo("b", 3L))
    val (sF, _) = ZoneMap.prune(spark, fusZm, f)
    val (sS, _) = ZoneMap.prune(spark, sepZm, f)
    assert(sF == sS && sF.size < 4)
    assert(rows(ZoneMap.scan(spark, fusZm, f)) ==
      rows(ZoneMap.scan(spark, sepZm, f)))
    // maintenance interop: the same delta appended to both
    val s = spark
    import s.implicits._
    val delta = Seq((100000L, Some(1L), Some("zz"), 0L))
      .toDF("k", "g", "s", "b")
    ColStats.append(delta, fusCs)
    ColStats.append(delta, sepCs)
    assert(rows(ColStats.stats(spark, fusCs)) ==
      rows(ColStats.stats(spark, sepCs)))
  }
}
