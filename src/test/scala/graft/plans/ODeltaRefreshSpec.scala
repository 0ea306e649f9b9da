package graft.plans

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.{AggView, ColStats, ZoneMap}

/** O(delta) pin-refresh verification — the round-19 contract that a
  * parquet-base registration's refresh costs the CHANGE, not the
  * corpus:
  *
  *  - [[RelationPins.composeFingerprint]] scans exactly the files it
  *    has no stored partial for, composes the rest, and its result
  *    equals the direct full-scan fingerprint (xor/count are
  *    abelian);
  *  - an in-place rewrite (same name, different length/mtime)
  *    REFUSES — the stored partial no longer describes the file;
  *  - a file REMOVAL composes exactly (partials subtract out);
  *  - end-to-end: a [[ColStatsInjection]] registration seeded from
  *    the profile's own build-time fingerprint ledger refreshes after
  *    an append by reading ~the appended file, not the base
  *    (records-read bound), and [[AggViewRewrite]]'s second refresh
  *    after its first (seeding) verification does the same.
  */
class ODeltaRefreshSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkTestSession.spark
    ColStatsInjection.install(s)
    AggViewRewrite.install(s)
    s
  }

  override def afterAll(): Unit = {
    ColStatsInjection.clear()
    AggViewRewrite.clear()
  }

  /** Sum of input records read by every task while `body` runs —
    * the cheap observable that separates "scanned the delta" from
    * "scanned the corpus" (listener events drain asynchronously).
    */
  private def recordsRead(body: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (t.taskMetrics != null)
          n.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      val deadline = System.currentTimeMillis() + 5000
      var last = -1L
      while (System.currentTimeMillis() < deadline && last != n.get()) {
        last = n.get(); Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("composeFingerprint scans exactly the unpinned files and " +
      "matches the direct fingerprint; removals compose; in-place " +
      "rewrites refuse") {
    val root = Files.createTempDirectory("graft-odelta-unit").toString
    val s = spark
    import s.implicits._
    def write(n: Int, dir: String): Unit =
      (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1).write.parquet(dir)
    write(100, s"$root/f1"); write(50, s"$root/f2")
    write(25, s"$root/f3")
    def listed(dirs: String*) : Seq[RelationPins.ListedFile] =
      dirs.flatMap { d =>
        val df = spark.read.parquet(d)
        RelationPins.bare(GraftBridge.analyzedPlan(df)).toSeq
          .flatMap(r => RelationPins.listedFiles(r._2))
      }
    val all = listed(s"$root/f1", s"$root/f2", s"$root/f3")
    assert(all.size == 3)
    val byFile = ColStats.fingerprintByFile(
      spark.read.parquet(all.map(_.uri): _*), Seq("k"), Seq("v"))
    val pinned = all.take(2).map(f =>
      f.key -> {
        val (fp, n) = byFile(f.key)
        RelationPins.FileFp(f.len, f.mtime, fp, n)
      }).toMap
    var asked: Seq[String] = Nil
    val out = RelationPins.composeFingerprint(all, pinned, uris => {
      asked = uris
      ColStats.fingerprintByFile(
        spark.read.parquet(uris: _*), Seq("k"), Seq("v"))
    })
    // exactly the one unpinned file was scanned
    assert(asked == Seq(all(2).uri), asked)
    val direct = ColStats.fingerprint(
      spark.read.parquet(all.map(_.uri): _*), Seq("k"), Seq("v"))
    assert(out.toOption.map(r => (r._1, r._2)).contains(direct))
    // removal: drop f2 from the live listing — no scan at all, and
    // the composition equals the survivors' direct fingerprint
    val survivors = all.filterNot(_.key == all(1).key)
    var asked2: Seq[String] = Nil
    val out2 = RelationPins.composeFingerprint(survivors,
      out.toOption.get._3, uris => { asked2 = uris; Map.empty })
    assert(asked2.isEmpty)
    val direct2 = ColStats.fingerprint(
      spark.read.parquet(survivors.map(_.uri): _*), Seq("k"), Seq("v"))
    assert(out2.toOption.map(r => (r._1, r._2)).contains(direct2))
    // in-place rewrite: a live file whose pinned (len, mtime) differ
    val poked = all.updated(0, all(0).copy(mtime = all(0).mtime + 1))
    val out3 = RelationPins.composeFingerprint(poked, pinned,
      _ => Map.empty)
    assert(out3.swap.toOption.exists(_.contains("rewritten in place")),
      out3)
  }

  test("the ColStats build-time ledger seeds the stats registration: " +
      "the FIRST refresh after an append reads the appended file, not " +
      "the corpus") {
    ColStatsInjection.clear()
    val root = Files.createTempDirectory("graft-odelta-cs").toString
    val s = spark
    import s.implicits._
    def rows(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, s"v${i % 97}"))
        .toDF("k", "v")
    rows(0, 40000).repartition(4).write.parquet(s"$root/base")
    def b = spark.read.parquet(s"$root/base")
    // the build over a bare scan writes its per-file fingerprint
    // ledger, which the registration seeds from without a scan
    ColStats.buildIfAbsent(b, Seq("k"), Seq("v"), s"$root/cs")
    assert(ColStats.fingerprintLedger(spark, s"$root/cs").isDefined)
    ColStatsInjection.register(spark, b, s"$root/cs", histograms = false)
    // fleet batch lands on both sides: one new file, 200 rows
    rows(40000, 40200).coalesce(1).write.mode("append")
      .parquet(s"$root/base")
    ColStats.append(rows(40000, 40200), s"$root/cs")
    val read = recordsRead {
      val r = ColStatsInjection.refreshPins(spark).collect().head
      assert(r.getBoolean(1), r.getString(2))
    }
    // the verification read the 200-row delta plus metadata-scale
    // artifact tables — nowhere near the 40k-row corpus (which a
    // pre-O(delta) refresh re-fingerprinted wholesale)
    assert(read < 10000, s"refresh read $read records")
    // and the refreshed registration still injects exact numbers
    val withCbo = () => {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try GraftBridge.optimizedPlan(b).stats.rowCount
      finally spark.conf.unset("spark.sql.cbo.enabled")
    }
    assert(withCbo().contains(BigInt(40200)))
    ColStatsInjection.clear()
  }

  test("an AggView parquet-base refresh accumulates partials across " +
      "verifications (each is O(delta)); an in-place base rewrite " +
      "refuses end-to-end") {
    AggViewRewrite.clear()
    val root = Files.createTempDirectory("graft-odelta-av").toString
    val s = spark
    import s.implicits._
    def rows(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, s"g${i % 5}", i.toLong))
        .toDF("k", "g", "x")
    rows(0, 40000).repartition(4).write.parquet(s"$root/base")
    def b = spark.read.parquet(s"$root/base")
    AggView.buildIfAbsent(b, Seq("g"),
      Seq(AggView.Measure("sum_x", "x")), s"$root/view", kbParts = 2)
    AggViewRewrite.register(spark, b, s"$root/view")
    // first fleet batch: the refresh pays one full (seeding) pass
    rows(40000, 40100).coalesce(1).write.mode("append")
      .parquet(s"$root/base")
    AggView.append(rows(40000, 40100), s"$root/view")
    val r1 = AggViewRewrite.refreshPins(spark).collect().head
    assert(r1.getBoolean(1), r1.getString(2))
    // second fleet batch: partials are seeded — O(delta)
    rows(40100, 40200).coalesce(1).write.mode("append")
      .parquet(s"$root/base")
    AggView.append(rows(40100, 40200), s"$root/view")
    val read = recordsRead {
      val r2 = AggViewRewrite.refreshPins(spark).collect().head
      assert(r2.getBoolean(1), r2.getString(2))
    }
    assert(read < 10000, s"second refresh read $read records")
    // in-place rewrite: one base file's mtime moves under the same
    // name and byte length — the very case a whole-listing
    // signature with cancelling deltas could miss, and exactly what
    // the per-file (len, mtime) pin catches. The composition must
    // refuse, never silently re-verify.
    val victim = new java.io.File(s"$root/base").listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    assert(victim.setLastModified(victim.lastModified() + 12345L))
    val r3 = AggViewRewrite.refreshPins(spark).collect().head
    assert(!r3.getBoolean(1) &&
      r3.getString(2).contains("rewritten in place"), r3.getString(2))
    AggViewRewrite.clear()
  }

  test("the AggView build-time ledger seeds register scan-free: the " +
      "FIRST refresh after an append reads the appended file, not " +
      "the corpus; non-bare facts build no ledger") {
    AggViewRewrite.clear()
    val root = Files.createTempDirectory("graft-odelta-avl").toString
    val s = spark
    import s.implicits._
    def rows(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, s"g${i % 5}", i.toLong))
        .toDF("k", "g", "x")
    rows(0, 40000).repartition(4).write.parquet(s"$root/base")
    def b = spark.read.parquet(s"$root/base")
    AggView.buildIfAbsent(b, Seq("g"),
      Seq(AggView.Measure("sum_x", "x")), s"$root/view", kbParts = 2)
    // the ledger exists, covers the 4 base files, and composes to
    // the view's own fingerprint
    val led = AggView.fingerprintLedger(spark, s"$root/view").get
    assert(led.size == 4)
    val decl = AggView.declaration(s"$root/view")
    assert(led.valuesIterator.map(_._4).sum == decl.n)
    assert(led.valuesIterator.map(_._3).foldLeft(0L)(_ ^ _) == decl.fp)
    AggViewRewrite.register(spark, b, s"$root/view")
    // fleet batch: one new file; the FIRST refresh must verify by
    // scanning ~that file only (register seeded the partials from
    // the build ledger — no seeding pass ever runs)
    rows(40000, 40100).coalesce(1).write.mode("append")
      .parquet(s"$root/base")
    AggView.append(rows(40000, 40100), s"$root/view")
    val read = recordsRead {
      val r = AggViewRewrite.refreshPins(spark).collect().head
      assert(r.getBoolean(1), r.getString(2))
    }
    assert(read < 10000, s"first refresh read $read records")
    // a view built over NON-BARE facts (a derived projection is fine
    // — bare means the relation itself; here: a union) has no
    // per-file provenance and records no ledger
    val nb = rows(0, 10).unionByName(rows(10, 20))
    AggView.buildIfAbsent(nb, Seq("g"),
      Seq(AggView.Measure("sum_x", "x")), s"$root/view_nb", kbParts = 2)
    assert(AggView.fingerprintLedger(spark, s"$root/view_nb").isEmpty)
    AggViewRewrite.clear()
  }

  test("buildStarIfAbsent writes a per-FACT-file ledger (joined " +
      "rows composed by the fact file they expanded from) and " +
      "registerStar seeds from it: a star view's FIRST refresh " +
      "after a fact append joins only the appended file") {
    AggViewRewrite.clear()
    val root = Files.createTempDirectory("graft-odelta-star").toString
    val s = spark
    import s.implicits._
    def rows(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, (i % 16).toLong, i.toLong))
        .toDF("k", "pk", "x")
    rows(0, 40000).repartition(4).write.parquet(s"$root/fact")
    (0 until 16).map(i => (i.toLong, s"g${i % 5}")).toDF("d1k", "g")
      .write.parquet(s"$root/d1")
    def f = spark.read.parquet(s"$root/fact")
    def d = spark.read.parquet(s"$root/d1")
    def dims = Seq(AggView.StarDim(d, Seq(("pk", "d1k"))))
    AggView.buildStarIfAbsent(f, dims, Seq("g"),
      Seq(AggView.Measure("sum_x", "x")), s"$root/view", kbParts = 2)
    // the ledger covers the 4 FACT files and composes to the view's
    // own (joined-projection) fingerprint
    val led = AggView.fingerprintLedger(spark, s"$root/view").get
    assert(led.size == 4)
    val decl = AggView.declaration(s"$root/view")
    assert(led.valuesIterator.map(_._4).sum == decl.n)
    assert(led.valuesIterator.map(_._3).foldLeft(0L)(_ ^ _) == decl.fp)
    AggViewRewrite.registerStar(spark, f, dims, s"$root/view")
    // fleet batch: one new fact file; the FIRST refresh must verify
    // by joining ~that file only — the register seeded the partials
    // from the build's own fingerprint pass
    val delta = rows(40000, 40100)
    delta.coalesce(1).write.mode("append").parquet(s"$root/fact")
    val dd = d
    AggView.append(delta.join(dd, delta("pk") === dd("d1k")),
      s"$root/view")
    val read = recordsRead {
      val r = AggViewRewrite.refreshPins(spark).collect().head
      assert(r.getBoolean(1), r.getString(2))
    }
    assert(read < 10000, s"first star refresh read $read records")
    AggViewRewrite.clear()
  }

  test("a hive-partitioned base registers and refreshes O(delta): " +
      "appends into existing AND new partition directories verify " +
      "by scanning only the appended files (partition columns " +
      "resolve via basePath); a multi-root partitioned register " +
      "refuses") {
    ColStatsInjection.clear()
    AggViewRewrite.clear()
    val root = Files.createTempDirectory("graft-odelta-part").toString
    val s = spark
    import s.implicits._
    def rows(from: Int, until: Int, g: Int => String) =
      (from until until).map(i => (i.toLong, g(i), i.toLong * 3))
        .toDF("k", "g", "x")
    rows(0, 40000, i => s"g${i % 3}").repartition(2)
      .write.partitionBy("g").parquet(s"$root/base")
    def b = spark.read.parquet(s"$root/base")
    // the partition column is a DECLARED str column and a VIEW KEY
    ColStats.buildIfAbsent(b, Seq("k", "x"), Seq("g"), s"$root/cs")
    AggView.buildIfAbsent(b, Seq("g"),
      Seq(AggView.Measure("sum_x", "x")), s"$root/view", kbParts = 2)
    ColStatsInjection.register(spark, b, s"$root/cs",
      histograms = false)
    AggViewRewrite.register(spark, b, s"$root/view")
    // batch: rows into an existing partition AND a brand-new g=zz
    // partition directory
    val delta = rows(40000, 40200,
      i => if (i % 2 == 0) "g0" else "zz")
    delta.coalesce(1).write.partitionBy("g").mode("append")
      .parquet(s"$root/base")
    ColStats.append(delta, s"$root/cs")
    AggView.append(delta, s"$root/view")
    val read = recordsRead {
      val rc = ColStatsInjection.refreshPins(spark).collect().head
      assert(rc.getBoolean(1), rc.getString(2))
      val rv = AggViewRewrite.refreshPins(spark).collect().head
      assert(rv.getBoolean(1), rv.getString(2))
    }
    // both verifications read the two appended leaf files (one per
    // landed partition dir, 200 rows total) — never the 40k corpus.
    // The AggView path pays no seeding scan either: its build-time
    // ledger covered the partitioned base files.
    assert(read < 10000, s"partitioned refresh read $read records")
    // and the refreshed registrations serve exactly
    val fresh = spark.read.parquet(s"$root/base")
    fresh.createOrReplaceTempView("odelta_part_tbl")
    val q = """SELECT g, count(*) AS n, sum(x) AS sx
              |FROM odelta_part_tbl GROUP BY g""".stripMargin
    val served = GraftBridge.ofRows(spark,
      GraftBridge.optimizedPlan(spark.sql(q)))
    val servedRoots = served.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(servedRoots.exists(_.contains(s"$root/view")) &&
      !servedRoots.exists(_.contains(s"$root/base")),
      served.queryExecution.optimizedPlan)
    val got = served.collect().map(_.toString).sorted.toSeq
    ColStatsInjection.clear()
    AggViewRewrite.clear()
    assert(got ==
      spark.sql(q).collect().map(_.toString).sorted.toSeq)
    // several roots of a partitioned table: no unambiguous basePath
    val multi = spark.read.option("basePath", s"$root/base")
      .parquet(s"$root/base/g=g0", s"$root/base/g=g1")
    val e = intercept[IllegalArgumentException] {
      AggViewRewrite.register(spark, multi, s"$root/view")
    }
    assert(e.getMessage.contains("SINGLE root"), e.getMessage)
    AggViewRewrite.clear()
  }

  test("the zone map's format-4 fingerprint ledger: per-file " +
      "partials compose to the table fingerprint, and refresh " +
      "extends the ledger for new files only") {
    val root = Files.createTempDirectory("graft-odelta-zm").toString
    val s = spark
    import s.implicits._
    def rows(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, s"w$i")).toDF("k", "v")
    rows(0, 1000).repartition(3).write.parquet(s"$root/tbl")
    ZoneMap.buildIfAbsent(spark, s"$root/tbl", Seq("k"), Seq("v"),
      s"$root/zm")
    val led = ZoneMap.fingerprintLedger(spark, s"$root/zm").get
    assert(led.size == 3)
    val direct = ColStats.fingerprint(
      spark.read.parquet(s"$root/tbl"), Seq("k"), Seq("v"))
    val composed = (led.valuesIterator.foldLeft(0L)(_ ^ _._3),
      led.valuesIterator.map(_._4).sum)
    assert(composed == direct)
    // refresh after an append: the new file gets its own partial,
    // existing partials byte-identical
    rows(1000, 1100).coalesce(1).write.mode("append")
      .parquet(s"$root/tbl")
    ZoneMap.refresh(spark, s"$root/zm")
    val led2 = ZoneMap.fingerprintLedger(spark, s"$root/zm").get
    assert(led2.size == 4)
    led.foreach { case (k, v) => assert(led2(k) == v) }
    val direct2 = ColStats.fingerprint(
      spark.read.parquet(s"$root/tbl"), Seq("k"), Seq("v"))
    assert((led2.valuesIterator.foldLeft(0L)(_ ^ _._3),
      led2.valuesIterator.map(_._4).sum) == direct2)
  }
}
