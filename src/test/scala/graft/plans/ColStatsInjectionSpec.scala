package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.ColStats

/** The statistics-injection contract:
  *
  *  - a registered relation plans from the ARTIFACT's numbers
  *    (rowCount, per-column nulls/NDV/integral min-max, string
  *    avg/max lengths → an honest sizeInBytes), not its raw file
  *    bytes;
  *  - the honest size PREVENTS a harmful broadcast: a compressed
  *    file under the threshold whose logical rows are far over it
  *    stays a shuffle join once the profile is injected (the
  *    broadcast-OOM footgun file-length stats walk into);
  *  - both staleness pins refuse (base listing drift, artifact
  *    version drift), and injection never touches a relation that
  *    already carries catalog stats.
  */
class ColStatsInjectionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkTestSession.spark
    ColStatsInjection.install(s)
    s
  }

  private var baseDir: String = _
  private var statsDir: String = _
  private val nRows = 4000

  private def baseDf: DataFrame = spark.read.parquet(baseDir)

  override def beforeAll(): Unit = {
    val root = Files.createTempDirectory("graft-csi-spec").toString
    baseDir = s"$root/base"
    statsDir = s"$root/stats"
    val s = spark
    import s.implicits._
    // k dense, g 50-valued with nulls, v an incompressible-ish fat
    // string (13 md5 hexes ≈ 416 chars) — the compressed file bytes
    // will badly under-state the logical row size
    (0 until nRows).map { i =>
      (i.toLong,
        if (i % 11 == 0) None else Some((i % 50).toLong),
        (0 until 13).map(j =>
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"$i:$j".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString).mkString)
    }.toDF("k", "g", "v")
      .repartition(2)
      .write.parquet(baseDir)
    ColStats.buildIfAbsent(baseDf, Seq("k", "g"), Seq("v"), statsDir)
    ()
  }

  override def afterAll(): Unit = ColStatsInjection.clear()

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("registered relation plans from the artifact: rowCount, " +
      "nulls, NDV, integral min/max, honest string widths") {
    ColStatsInjection.clear()
    withConf("spark.sql.cbo.enabled" -> "true") {
      val before = GraftBridge.optimizedPlan(baseDf).stats
      assert(before.rowCount.isEmpty)

      val e = ColStatsInjection.register(spark, baseDf, statsDir)
      val plan = GraftBridge.optimizedPlan(baseDf)
      val stats = plan.stats
      assert(stats.rowCount.contains(BigInt(nRows)), stats)
      assert(stats.sizeInBytes == e.stats.sizeInBytes)
      // logical size carries the REAL ~416-char strings: far above
      // a (defaultSize = 20) guess and above the compressed file
      assert(stats.sizeInBytes > BigInt(nRows) * 400L)

      val byName = stats.attributeStats.toSeq
        .map { case (a, cs) => a.name -> cs }.toMap
      val g = byName("g")
      assert(g.nullCount.contains(BigInt(nRows / 11 + 1)), g)
      // plan-level ColumnStat carries the INTERNAL typed values
      assert(g.min.contains(0L) && g.max.contains(49L), g)
      val nd = g.distinctCount.get.toDouble
      assert(nd > 30 && nd < 70, s"ndv estimate off: $nd") // true 50
      val v = byName("v")
      assert(v.avgLen.exists(l => l > 400 && l < 430), v)
      assert(v.maxLen.contains(416L), v)
    }
  }

  test("honest sizeInBytes prevents the compressed-file broadcast " +
      "footgun") {
    ColStatsInjection.clear()
    val e = ColStatsInjection.register(spark, baseDf, statsDir)
    val fileBytes = new java.io.File(baseDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val logical = e.stats.sizeInBytes
    assert(BigInt(fileBytes) < logical,
      s"test premise: compressed $fileBytes < logical $logical")
    val threshold = (BigInt(fileBytes) + logical) / 2
    // the fact side is sized well over any threshold midpoint, so
    // the broadcast decision is about the DIM side only
    val fact = spark.range(2000000).select(col("id").as("k"))

    def joinPlan(): String = {
      // no projection above the dim side: its stats are the bare
      // relation's, so the threshold comparison is exact
      fact.join(baseDf, "k").queryExecution.executedPlan.toString
    }
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString,
      "spark.sql.adaptive.enabled" -> "false") {
      // with the profile: logical size over threshold — shuffle join
      assert(joinPlan().contains("SortMergeJoin"))
      // without: the compressed file bytes sneak under — broadcast
      ColStatsInjection.clear()
      assert(joinPlan().contains("BroadcastHashJoin"))
    }
  }

  test("staleness refuses: base listing drift and artifact version " +
      "drift both disable injection") {
    ColStatsInjection.clear()
    withConf("spark.sql.cbo.enabled" -> "true") {
      ColStatsInjection.register(spark, baseDf, statsDir)
      assert(GraftBridge.optimizedPlan(baseDf).stats
        .rowCount.contains(BigInt(nRows)))

      // artifact moves: one appended batch bumps the manifest version
      val s = spark
      import s.implicits._
      ColStats.append(
        Seq((9999999L, Some(1L), "zz")).toDF("k", "g", "v"), statsDir)
      assert(GraftBridge.optimizedPlan(baseDf).stats.rowCount.isEmpty)

      // re-pin at the new version, then move the BASE instead
      ColStatsInjection.register(spark, baseDf, statsDir)
      assert(GraftBridge.optimizedPlan(baseDf).stats.rowCount.isDefined)
      Seq((-1L, Some(1L), "zz")).toDF("k", "g", "v")
        .write.mode("append").parquet(baseDir)
      assert(GraftBridge.optimizedPlan(baseDf).stats.rowCount.isEmpty)
    }
  }

  test("metadata-only aggregate: global count/min/max/sum served " +
      "from the profile with ZERO scan, exactly") {
    ColStatsInjection.clear()
    // fresh artifact over the current listing (earlier tests
    // appended a base row)
    val root = Files.createTempDirectory("graft-csi-meta").toString
    val statsD = s"$root/stats"
    ColStats.buildIfAbsent(baseDf, Seq("k", "g"), Seq("v"), statsD)
    val q = """SELECT count(*) AS n, count(g) AS ng, min(k) AS mn,
              |  max(k) AS mx, sum(g) AS sg, min(g) AS mng
              |FROM csi_meta_base""".stripMargin
    baseDf.createOrReplaceTempView("csi_meta_base")
    val truth = spark.sql(q).collect().head
    ColStatsInjection.register(spark, baseDf, statsD)
    val served = spark.sql(q)
    val phys = served.queryExecution.executedPlan.toString
    assert(!phys.contains("FileScan"), phys) // zero scan
    assert(served.collect().head == truth)
    // a WHERE disqualifies: the profile is the WHOLE table's
    val filtered = spark.sql(
      "SELECT count(*) AS n FROM csi_meta_base WHERE k > 10")
    assert(filtered.queryExecution.executedPlan.toString
      .contains("FileScan"))
    // a string min is not answerable from the numeric profile
    val strMin = spark.sql("SELECT min(v) AS m FROM csi_meta_base")
    assert(strMin.queryExecution.executedPlan.toString
      .contains("FileScan"))
    // grouped aggregates refuse (profile has no per-group state)
    val grouped = spark.sql(
      "SELECT g, count(*) AS n FROM csi_meta_base GROUP BY g")
    assert(grouped.queryExecution.executedPlan.toString
      .contains("FileScan"))
    ColStatsInjection.clear()
  }

  test("status() reports the pin, the injected numbers, and live " +
      "version freshness") {
    ColStatsInjection.clear()
    val root = Files.createTempDirectory("graft-csi-status").toString
    val sd = s"$root/stats"
    ColStats.buildIfAbsent(baseDf, Seq("k", "g"), Seq("v"), sd)
    ColStatsInjection.register(spark, baseDf, sd)
    val row = ColStatsInjection.status(spark).collect().head
    assert(row.getAs[String]("stats_path") == sd)
    assert(row.getAs[Long]("row_count") == baseDf.count())
    assert(row.getAs[Boolean]("version_fresh"))
    val s = spark
    import s.implicits._
    ColStats.append(
      Seq((777777L, Some(1L), "x")).toDF("k", "g", "v"), sd)
    assert(!ColStatsInjection.status(spark).collect()
      .head.getAs[Boolean]("version_fresh"))
    ColStatsInjection.clear()
  }

  test("misdeclared columns refuse: num-profiled strings and " +
      "str-profiled integrals never serve wrong metadata answers") {
    ColStatsInjection.clear()
    val root = Files.createTempDirectory("graft-csi-kind").toString
    val s = spark
    import s.implicits._
    // the lossy-cast hazard is a NON-ANSI phenomenon (under ANSI the
    // misdeclared build itself raises on the failed cast — loudly
    // honest); pin ANSI off so the hazard is reachable
    withConf("spark.sql.ansi.enabled" -> "false") {
    // sv: numeric-looking strings with one UNPARSEABLE value (its
    // long-cast is null, so a num-profiled n_nulls over-counts);
    // ik: an integral column misdeclared as str
    Seq((1L, "10", 5L), (2L, "20", 6L), (3L, "oops", 7L))
      .toDF("k", "sv", "ik").coalesce(1).write.parquet(s"$root/base")
    val b = s.read.parquet(s"$root/base")
    // MISDECLARED on purpose: sv in numCols, ik in strCols
    ColStats.buildIfAbsent(b, Seq("k", "sv"), Seq("ik"), s"$root/st")
    ColStatsInjection.register(s, b, s"$root/st")
    b.createOrReplaceTempView("csi_kind_base")
    def phys(q: String) =
      s.sql(q).queryExecution.executedPlan.toString
    // count(sv): a num profile of a string column counts failed
    // casts as nulls — MUST scan (and the scan answers 3, not 2)
    val cq = "SELECT count(sv) AS c FROM csi_kind_base"
    assert(phys(cq).contains("FileScan"), phys(cq))
    assert(s.sql(cq).collect().head.getLong(0) == 3L)
    // min/max/sum of the str-profiled integral: no numeric scalars
    // in the profile — MUST scan, never Literal(null)/0
    val mq = "SELECT min(ik) AS mn, max(ik) AS mx, sum(ik) AS sm " +
      "FROM csi_kind_base"
    assert(phys(mq).contains("FileScan"), phys(mq))
    assert(s.sql(mq).collect().head.toString == "[5,7,18]")
    // count(ik) through the str profile IS exact (render preserves
    // nulls) — serves with zero scan
    val okq = "SELECT count(ik) AS c FROM csi_kind_base"
    assert(!phys(okq).contains("FileScan"), phys(okq))
    assert(s.sql(okq).collect().head.getLong(0) == 3L)
    // and the injected CBO stats carry nothing for the misdeclared
    // num column (its nulls/NDV/min/max would all be lies)
    withConf("spark.sql.cbo.enabled" -> "true") {
      val byName = GraftBridge.optimizedPlan(b).stats.attributeStats
        .toSeq.map { case (a, cs) => a.name -> cs }.toMap
      assert(!byName.contains("sv"), byName.keySet)
      assert(byName("ik").nullCount.contains(BigInt(0))) // str-kind ok
      assert(byName("ik").min.isEmpty && byName("ik").max.isEmpty)
    }
    }
    ColStatsInjection.clear()
  }

  test("ANSI sum serve fires only when the profile's own bounds rule " +
      "overflow out") {
    ColStatsInjection.clear()
    val root = Files.createTempDirectory("graft-csi-ansi").toString
    val s = spark
    import s.implicits._
    // values near Long.MaxValue: the sum itself does NOT overflow,
    // but n_nonnull × max|v| cannot prove that
    Seq((1L, Long.MaxValue - 10L), (2L, 1L))
      .toDF("k", "big").coalesce(1).write.parquet(s"$root/riskbase")
    val risk = s.read.parquet(s"$root/riskbase")
    ColStats.buildIfAbsent(risk, Seq("k", "big"), Nil, s"$root/riskst")
    ColStatsInjection.register(s, risk, s"$root/riskst")
    risk.createOrReplaceTempView("csi_ansi_risk")
    val q = "SELECT sum(big) AS sb FROM csi_ansi_risk"
    withConf("spark.sql.ansi.enabled" -> "false") {
      val p = s.sql(q).queryExecution.executedPlan.toString
      assert(!p.contains("FileScan"), p) // non-ANSI: wrap == wrap
    }
    withConf("spark.sql.ansi.enabled" -> "true") {
      val p = s.sql(q).queryExecution.executedPlan.toString
      assert(p.contains("FileScan"), p) // unprovable: refuse to scan
      assert(s.sql(q).collect().head.getLong(0) ==
        Long.MaxValue - 9L) // and the scan is the exact ANSI answer
      // a provably-safe column still serves under ANSI
      val pk = s.sql("SELECT sum(k) AS sk FROM csi_ansi_risk")
      assert(!pk.queryExecution.executedPlan.toString
        .contains("FileScan"))
      assert(pk.collect().head.getLong(0) == 3L)
    }
    ColStatsInjection.clear()
  }

  test("injected histograms: a skewed-column filter's selectivity " +
      "estimate leaves the uniform assumption") {
    ColStatsInjection.clear()
    val root = Files.createTempDirectory("graft-csi-hist").toString
    val s = spark
    import s.implicits._
    // 99% of rows at 1, 1% at 1_000_000: uniform min/max estimation
    // of h > 1000 keeps ~99.9% of rows; the histogram knows better
    val n = 2000
    (0 until n).map(i =>
        (i.toLong, if (i % 100 == 0) 1000000L else 1L))
      .toDF("k", "h").repartition(2).write.parquet(s"$root/base")
    val b = s.read.parquet(s"$root/base")
    ColStats.buildIfAbsent(b, Seq("k", "h"), Nil, s"$root/st")
    val trueMatches = n / 100
    def estimate(): BigInt = withConf(
      "spark.sql.cbo.enabled" -> "true") {
      GraftBridge.optimizedPlan(b.filter(col("h") > 1000L))
        .stats.rowCount.getOrElse(BigInt(-1))
    }
    ColStatsInjection.register(s, b, s"$root/st", histograms = false)
    val uniform = estimate()
    ColStatsInjection.register(s, b, s"$root/st")
    val withHist = estimate()
    assert(uniform > BigInt(n / 2),
      s"premise: uniform estimate should keep most rows, got $uniform")
    assert(withHist < uniform / 10,
      s"histogram estimate $withHist not sharper than uniform $uniform")
    assert((withHist - trueMatches).abs < BigInt(trueMatches * 5),
      s"histogram estimate $withHist far from truth $trueMatches")
    ColStatsInjection.clear()
  }

  test("under the config-time extensions path, injected stats drive " +
      "CBO join REORDERING: the tiny dim joins the fact first") {
    ColStatsInjection.clear()
    val root = Files.createTempDirectory("graft-csi-reorder").toString
    val s = spark
    import s.implicits._
    // one big fact (100k rows), a TINY dim d1 (50 rows) and a FAT
    // dim d2 (5000 rows), all on key k with ndv 50. The query is
    // WRITTEN fat-dim-first — (big ⋈ d2) ⋈ d1 builds a ~10M-row
    // intermediate where (big ⋈ d1) ⋈ d2 builds ~100k — so only a
    // cost-based reorder with REAL cardinalities can flip it (d1 ⋈ d2
    // directly is a cartesian product the reorderer won't plan)
    (0 until 100000).map(i => (i.toLong % 50, i.toLong))
      .toDF("k", "x").coalesce(2).write.parquet(s"$root/big")
    (0 until 50).map(i => (i.toLong, s"a$i"))
      .toDF("k", "a").coalesce(1).write.parquet(s"$root/d1")
    (0 until 5000).map(i => (i.toLong % 50, s"b$i"))
      .toDF("k", "b").coalesce(1).write.parquet(s"$root/d2")
    for (t <- Seq("big", "d1", "d2"))
      ColStats.buildIfAbsent(s.read.parquet(s"$root/$t"),
        Seq("k"), Nil, s"$root/st-$t")
    // the config-time injection altitude: a sibling session whose
    // extensions run the rule in the operator batch, BEFORE the
    // Join Reorder batch (the install() path runs after it — the
    // documented limitation this spec complements)
    val s2 = GraftBridge.sessionWithExtensions(spark,
      new GraftExtensions()(_))
    for (t <- Seq("big", "d1", "d2"))
      ColStatsInjection.register(s2, s2.read.parquet(s"$root/$t"),
        s"$root/st-$t")
    def q(sess: org.apache.spark.sql.SparkSession) =
      sess.read.parquet(s"$root/big")
        .join(sess.read.parquet(s"$root/d2"), "k")
        .join(sess.read.parquet(s"$root/d1"), "k")
    // the INNERMOST join's subtree: with reordering, it holds the
    // two dims and not the fact table
    def innermostRoots(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val plan = GraftBridge.optimizedPlan(df)
      val joins = plan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      val innermost = joins.last // collect is pre-order; last = deepest
      innermost.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten.toSet
    }
    val conf = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    // no registrations visible to the plain session rule-run order:
    // assert the written order survives WITHOUT stats
    val without = withConf(conf: _*) {
      ColStatsInjection.clear()
      innermostRoots(q(s))
    }
    assert(without.exists(_.contains("/d2")) &&
      !without.exists(_.contains("/d1")),
      s"premise: without stats the written (fat-dim-first) order " +
        s"holds: $without")
    for (t <- Seq("big", "d1", "d2"))
      ColStatsInjection.register(s2, s2.read.parquet(s"$root/$t"),
        s"$root/st-$t")
    conf.foreach { case (k, v) => s2.conf.set(k, v) }
    val withStats = innermostRoots(q(s2))
    assert(withStats.exists(_.contains("/d1")) &&
      !withStats.exists(_.contains("/d2")),
      s"stats-driven reorder should join the tiny dim first: $withStats")
    // and the results are identical either way (plan-only)
    assert(q(s2).count() == q(s).count())
    ColStatsInjection.clear()
  }

  test("refreshPins re-registers only when base and artifact " +
      "verifiably hold the same content") {
    ColStatsInjection.clear()
    val root = Files.createTempDirectory("graft-csi-refresh").toString
    val s = spark
    import s.implicits._
    def rows(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    rows(0, 100).coalesce(1).write.parquet(s"$root/base")
    def b = s.read.parquet(s"$root/base")
    ColStats.buildIfAbsent(b, Seq("k"), Seq("v"), s"$root/st")
    ColStatsInjection.register(s, b, s"$root/st")
    withConf("spark.sql.cbo.enabled" -> "true") {
      assert(GraftBridge.optimizedPlan(b).stats
        .rowCount.contains(BigInt(100)))
      // fleet batch lands on BOTH sides
      rows(100, 130).write.mode("append").parquet(s"$root/base")
      ColStats.append(rows(100, 130), s"$root/st")
      assert(GraftBridge.optimizedPlan(b).stats.rowCount.isEmpty)
      val r1 = ColStatsInjection.refreshPins(s).collect().head
      assert(r1.getBoolean(1), r1.getString(2))
      assert(GraftBridge.optimizedPlan(b).stats
        .rowCount.contains(BigInt(130)))
      // base-only append: refresh refuses, injection stays off
      rows(130, 140).write.mode("append").parquet(s"$root/base")
      val r2 = ColStatsInjection.refreshPins(s).collect().head
      assert(!r2.getBoolean(1) && r2.getString(2).contains("diverge"))
      assert(GraftBridge.optimizedPlan(b).stats.rowCount.isEmpty)
      // artifact catches up → refresh re-registers
      ColStats.append(rows(130, 140), s"$root/st")
      val r3 = ColStatsInjection.refreshPins(s).collect().head
      assert(r3.getBoolean(1), r3.getString(2))
      assert(GraftBridge.optimizedPlan(b).stats
        .rowCount.contains(BigInt(140)))
      // idempotent
      val r4 = ColStatsInjection.refreshPins(s).collect().head
      assert(!r4.getBoolean(1) && r4.getString(2).contains("fresh"))
    }
    ColStatsInjection.clear()
  }

  test("refreshPins isolates a broken registration: an unreadable " +
      "base reports as its own row, the healthy row still verifies") {
    ColStatsInjection.clear()
    val s = spark
    import s.implicits._
    RefreshIsolation.check("graft-csi-iso", 50, 10) { (p, n) =>
      (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .write.parquet(s"$p-base")
      ColStats.buildIfAbsent(s.read.parquet(s"$p-base"),
        Seq("k"), Seq("v"), s"$p-st")
      ColStatsInjection.register(s, s.read.parquet(s"$p-base"), s"$p-st")
      s"$p-st"
    }(ColStatsInjection.refreshPins(s))
    ColStatsInjection.clear()
  }

  test("injected() is scoped: stats baked into the returned plan, " +
      "registry empty afterwards") {
    ColStatsInjection.clear()
    withConf("spark.sql.cbo.enabled" -> "true") {
      // note: beforeAll's artifact is stale vs the appended base row
      // from the previous test — rebuild over the current listing
      val root = Files.createTempDirectory("graft-csi-scoped").toString
      ColStats.buildIfAbsent(baseDf, Seq("k", "g"), Seq("v"),
        s"$root/stats")
      val out = ColStatsInjection.injected(spark, baseDf,
        s"$root/stats")(baseDf.groupBy("g").count())
      assert(GraftBridge.optimizedPlan(out).collectLeaves()
        .exists(_.stats.rowCount.isDefined))
      // scoped: a fresh plan no longer sees the stats
      assert(GraftBridge.optimizedPlan(baseDf).stats.rowCount.isEmpty)
    }
  }
}
