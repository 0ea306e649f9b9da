package graft.api

import java.sql.{Date, Timestamp}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.sources.Ingest

class ApiSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  private def snap(d: String) = Api.Snapshot(Date.valueOf(d),
    Annotate.buildGeoSnapshot(
      Ingest.geoliteBlocks(spark, fixture("geolite2-blocks-v4.csv")),
      Ingest.geoliteLocations(spark, fixture("geolite2-locations.csv"))),
    Annotate.buildAsnSnapshot(
      Ingest.pfx2as(spark, fixture("routeviews.pfx2as")),
      Ingest.asNames(spark, fixture("asnames.csv"))))

  /** The aggregate renderer `toV2ResponseJson` replaced: one
    * dropDuplicates + collect_list document, kept as the oracle.
    */
  private def aggregateJson(annotated: DataFrame, date: Date): String =
    annotated.dropDuplicates("ip").agg(to_json(struct(
      lit(date.toString).as("AnnotatorDate"),
      map_from_arrays(
        collect_list(col("ip")),
        collect_list(struct(col("geo").as("Geo"),
          col("network").as("Network")))).as("Annotations"))))
      .collect()(0).getString(0)

  /** Spark jobs started from this thread while `body` runs. A tagged
    * marker job after `body` drains the listener bus: once the
    * listener sees it, every earlier job start has been delivered.
    */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"api-spec-${java.util.UUID.randomUUID}"
    val marker = s"$tag-marker"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        if (p.exists(_.getProperty("spark.job.description") == marker))
          drained.countDown()
        else if (p.flatMap(x => Option(x.getProperty("spark.job.tags")))
            .exists(_.split(',').contains(tag))) jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(l)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus not drained")
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("directory as-of pick + clamp (directory.go:230-240)") {
    val dir = Api.Directory(Seq(snap("2020-01-01"), snap("2021-01-01")))
    assert(dir.forDate(Date.valueOf("2020-06-01")).date.toString == "2020-01-01")
    assert(dir.forDate(Date.valueOf("2021-01-01")).date.toString == "2021-01-01")
    assert(dir.forDate(Date.valueOf("2019-01-01")).date.toString == "2020-01-01")
    // a NULL date takes the earliest snapshot, as a date before it does
    assert(dir.forDate(null).date.toString == "2020-01-01")
  }

  test("the per-row as-of pick equals per-date annotateV2 and forDate") {
    import spark.implicits._
    // three snapshots whose payloads carry their own date (city and AS
    // name), the latest missing the Hartford range, listed out of order
    def marked(d: String, dropCity: String = ""): Api.Snapshot = {
      val s = snap(d)
      s.copy(
        geo = s.geo.filter(coalesce(col("geo.city"), lit("")) =!= dropCity)
          .withColumn("geo", col("geo").withField("city",
            concat_ws("@", col("geo.city"), lit(d)))),
        asn = s.asn.withColumn("network",
          col("network").withField("as_name", lit(d))))
    }
    val dir = Api.Directory(Seq(marked("2021-01-01"),
      marked("2022-01-01", dropCity = "Hartford"), marked("2020-01-01")))
    // before the earliest, on each snapshot date, between snapshots,
    // after the latest, and NULL
    val dates = Seq("2019-06-01", "2020-01-01", "2020-06-01", "2021-01-01",
      "2021-06-01", "2022-01-01", "2023-01-01").map(Date.valueOf) :+
      (null: Date)
    val ips = Seq("1.0.0.200", "1.0.0.130", "1.0.1.50", "9.9.9.9",
      "2002:100:c8::", "2001:200::1", "junk")
    val facts = (for (d <- dates; ip <- ips) yield (ip, d)).toDF("ip", "date")
      .repartition(3)
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getAs[String]("ip"), Option(r.getAs[Date]("date"))) -> r).toMap
    val perRow = rows(Api.annotateAsOf(facts, col("ip"), col("date"), dir))
    val perDate = dates.map { d =>
      val day = if (d == null) col("date").isNull else col("date") === lit(d)
      rows(Api.annotateV2(spark, dir, d, facts.filter(day)))
    }.reduce(_ ++ _)
    assert(perRow.size == dates.size * ips.size)
    assert(perRow == perDate)
    // each row's payload is the one of the snapshot forDate picks
    dates.foreach { d =>
      val r = perRow(("1.0.0.200", Option(d)))
      val picked = dir.forDate(d).date.toString
      assert(r.getAs[Row]("network").getAs[String]("as_name") == picked)
      assert(r.getAs[Row]("geo").getAs[String]("city") == s"Scarborough@$picked")
      assert(perRow(("1.0.0.130", Option(d))).getAs[Row]("geo")
        .getAs[Boolean]("missing") == (picked == "2022-01-01"))
    }
    assert(dates.map(d => dir.forDate(d).date.toString).distinct ==
      Seq("2020-01-01", "2021-01-01", "2022-01-01"))
  }

  test("v2 response JSON: original-key map, omit-empty nulls (S12)") {
    import spark.implicits._
    val dir = Api.Directory(Seq(snap("2020-01-01")))
    val out = Api.annotateV2(spark, dir, Date.valueOf("2021-01-01"),
      Seq("1.0.0.200", "2002:100:c8::", "9.9.9.9").toDF("ip"))
    val json = Api.toV2ResponseJson(out, Date.valueOf("2020-01-01"))
    assert(json.contains(""""AnnotatorDate":"2020-01-01""""))
    // keyed by the ORIGINAL 2002: string, not the rewritten v4
    assert(json.contains(""""2002:100:c8::":{"Geo":"""))
    assert(json.contains(""""city":"Scarborough""""))
    // miss → {"missing":true} with null fields dropped (omitempty)
    assert(json.contains(""""9.9.9.9":{"Geo":{"missing":true}"""))
    assert(!json.contains("null"))
  }

  test("v1 keys are ip + base36 seconds; bad IP rejects the batch (P15/F5)") {
    import spark.implicits._
    val dir = Api.Directory(Seq(snap("2020-01-01")))
    val ts = java.sql.Timestamp.valueOf("2021-01-01 00:00:00")
    val reqs = Seq(("1.0.0.200", ts)).toDF("ip", "ts")
    val out = Api.annotateV1(spark, dir, reqs)
    val key = out.select("key").collect()(0).getString(0)
    val expectSuffix = java.lang.Long.toString(ts.getTime / 1000, 36)
    assert(key == s"1.0.0.200$expectSuffix")

    val bad = Seq(("nope", ts)).toDF("ip", "ts")
    intercept[IllegalArgumentException] {
      Api.annotateV1(spark, dir, bad)
    }
  }

  test("v2 response tolerates duplicate IPs in a batch") {
    import spark.implicits._
    val dir = Api.Directory(Seq(snap("2020-01-01")))
    val out = Api.annotateV2(spark, dir, Date.valueOf("2021-01-01"),
      Seq("1.0.0.200", "1.0.0.200", "9.9.9.9").toDF("ip"))
    val json = Api.toV2ResponseJson(out, Date.valueOf("2020-01-01"))
    assert(json.contains(""" "1.0.0.200":{"Geo": """.trim))
  }

  test("v1 checks a bad IP before an empty batch, in one aggregate") {
    import spark.implicits._
    val dir = Api.Directory(Seq(snap("2020-01-01")))
    val empty = intercept[IllegalArgumentException] {
      Api.annotateV1(spark, dir, Seq.empty[(String, Timestamp)].toDF("ip", "ts"))
    }
    assert(empty.getMessage.contains("empty v1 batch"))
    // a bad IP wins even when no row carries a timestamp
    val bad = intercept[IllegalArgumentException] {
      Api.annotateV1(spark, dir,
        Seq(("nope", null: Timestamp)).toDF("ip", "ts"))
    }
    assert(bad.getMessage.contains("invalid IP"))
    val ts = Timestamp.valueOf("2021-01-01 00:00:00")
    val reqs = Seq(("1.0.0.200", ts)).toDF("ip", "ts")
    dir.latest.indexes // built at first use, not by the checks
    // both checks cost what one aggregate over the batch costs
    assert(jobsRunBy(Api.annotateV1(spark, dir, reqs)) ==
      jobsRunBy(reqs.agg(min("ts")).collect()))
  }

  test("v2 response JSON equals the aggregate renderer's document") {
    import spark.implicits._
    val dir = Api.Directory(Seq(snap("2020-01-01")))
    val date = Date.valueOf("2020-01-01")
    // a document that repeats a key is wrong even where the last
    // value would win, so the parser refuses duplicates
    val mapper = new ObjectMapper()
      .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    def agrees(out: DataFrame): String = {
      val got = Api.toV2ResponseJson(out, date)
      assert(mapper.readTree(got) == mapper.readTree(aggregateJson(out, date)),
        got)
      got
    }
    def same(ips: DataFrame): String =
      agrees(Api.annotateV2(spark, dir, date, ips))
    // duplicates, a miss, unparseable strings, 6to4, native v6 and a
    // key that needs escaping
    val ips = Seq("1.0.0.200", "9.9.9.9", "1.0.0.200", "nope", "",
      "2002:100:c8::", "2001:200::1", "a\"b\\c", "9.9.9.9")
    val got = same(ips.toDF("ip"))
    val doc = mapper.readTree(got).get("Annotations")
    assert(doc.size == ips.distinct.length)
    assert(doc.get("a\"b\\c").get("Geo").get("missing").asBoolean)
    assert(doc.get("2001:200::1").get("Network").get("asn").asLong == 55967L)
    // any other input takes the one-job path to the same document
    same(ips.toDF("ip").repartition(3))
    assert(same(Seq.empty[String].toDF("ip")) ==
      """{"AnnotatorDate":"2020-01-01","Annotations":{}}""")
    // the IP column under another case resolves as `col("ip")` does
    same(ips.toDF("IP"))
    // a frame with extra columns: v1's output carries `key`, and its
    // repeated IPs have different keys
    val ts = (i: Int) => new Timestamp(1609459200000L + i * 1000L)
    val valid = Seq("1.0.0.200", "9.9.9.9", "1.0.0.200", "2002:100:c8::",
      "2001:200::1", "9.9.9.9")
    agrees(Api.annotateV1(spark, dir,
      valid.zipWithIndex.map { case (ip, i) => (ip, ts(i)) }.toDF("ip", "ts")))
    // a batch at the service's largest size, with repeats, hits and
    // misses over both families, local and distributed
    val big = (0 until 599).map(i => i % 5 match {
      case 0 => "1.0.0.200"
      case 1 => s"1.0.${i % 3}.${i % 256}"
      case 2 => s"2001:200::${i % 40}"
      case 3 => s"9.9.${i % 7}.9"
      case _ => s"2002:100:${i % 4}::"
    })
    val bigDoc = mapper.readTree(same(big.toDF("ip"))).get("Annotations")
    assert(bigDoc.size == big.distinct.length && big.distinct.length < 599)
    same(big.toDF("ip").repartition(3))
  }

  test("v2 response rejects a NULL IP, naming the column") {
    import spark.implicits._
    val dir = Api.Directory(Seq(snap("2020-01-01")))
    val out = Api.annotateV2(spark, dir, Date.valueOf("2021-01-01"),
      Seq(Some("1.0.0.200"), None).toDF("addr"), "addr")
    val e = intercept[IllegalArgumentException] {
      Api.toV2ResponseJson(out, Date.valueOf("2020-01-01"), "addr")
    }
    assert(e.getMessage.contains("'addr'"))
  }

  test("a snapshot builds its indexes once: later local batches run no job") {
    import spark.implicits._
    val (s1, s2) = (snap("2020-01-01"), snap("2021-01-01"))
    val old = Api.Directory(Seq(s1))
    val d = Date.valueOf("2020-06-01")
    def request(dir: Api.Directory, ips: String*): String =
      Api.toV2ResponseJson(Api.annotateV2(spark, dir, d, ips.toDF("ip")),
        dir.forDate(d).date)
    // the first call reads the snapshot tables and broadcasts the pair
    assert(jobsRunBy(request(old, "1.0.0.200")) > 0)
    var body = ""
    assert(jobsRunBy { body = request(old, "1.0.0.1", "9.9.9.9", "2001:200::1") } == 0)
    assert(body.contains(""""1.0.0.1":{"Geo":"""))
    // a refresh that keeps the old snapshot keeps its broadcasts
    val refreshed = Api.Directory(old.snapshots ++ Seq(s2))
    val ids = (s: Api.Snapshot) => (s.indexes.geo._1.id, s.indexes.asn._1.id)
    assert(ids(refreshed.forDate(d)) == ids(s1))
    assert(jobsRunBy(request(refreshed, "1.0.0.200")) == 0)
    // a copy with another table is a new snapshot with its own index
    val copied = s1.copy(geo = s2.geo)
    assert(copied.indexes.geo._1.id != s1.indexes.geo._1.id)
    assert(copied.indexes.asn._1.id != s1.indexes.asn._1.id)
  }

  test("a v2 request plans two projections and parses each IP once") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import graft.functions.IpToBin
    val dir = Api.Directory(Seq(snap("2020-01-01")))
    val d = Date.valueOf("2020-06-01")
    // a non-local input: a local one is annotated without a plan
    val batch = Seq("1.0.0.200", "9.9.9.9").toDF("ip").repartition(2)
    def analyzed(df: DataFrame) = castToImpl(df).queryExecution.analyzed
    def projects(p: LogicalPlan) = p.collect { case x: Project => x }.size
    // every step of a plan is analyzed on its own, and each Project is
    // one more node the optimizer walks: the request adds at most two
    assert(projects(analyzed(Api.annotateV2(spark, dir, d, batch))) -
      projects(analyzed(batch)) <= 2)
    // the optimizer keeps the parse in its own projection instead of
    // inlining it into both probes
    val optimized = castToImpl(Api.annotateV2(spark, dir, d, batch))
      .queryExecution.optimizedPlan
    assert(optimized.flatMap(_.expressions.flatMap(_.collect {
      case e: IpToBin => e })).size == 1, optimized.treeString)
    // and probes it once per group (geo, network), Missing or not
    assert(optimized.flatMap(_.expressions.flatMap(_.collect {
      case e: graft.operators.RangePayload => e })).size == 2,
      optimized.treeString)
  }

  /** Query executions that succeed while `body` runs. */
  private def executionsRunBy(body: => Unit): Int = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val successes = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        successes.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    // drain earlier events first; the listener shares the bus queue the
    // marker job drains, so every success is counted once body returns
    jobsRunBy(())
    castToImpl(spark).listenerManager.register(listener)
    try jobsRunBy(body)
    finally castToImpl(spark).listenerManager.unregister(listener)
    successes.get
  }

  /** v2 request observations in the metrics registry. */
  private def observations: Long = graft.metrics.Metrics.registry.snapshot
    .collect { case (k, v) if k.startsWith("request_time_hist{source=v2,") => v }
    .sum

  private def isLocal(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    castToImpl(df).queryExecution.analyzed.isInstanceOf[LocalRelation]
  }

  test("a warm local v2 request runs no job and no tracked execution") {
    import spark.implicits._
    val s1 = snap("2020-01-01")
    val dir = Api.Directory(Seq(s1))
    val d = Date.valueOf("2020-06-01")
    def request(batch: DataFrame): String = Api.toV2ResponseJson(
      Api.annotateV2(spark, dir, d, batch), dir.forDate(d).date)
    val batch = Seq("1.0.0.200", "9.9.9.9", "1.0.0.200").toDF("ip")
    // the annotator is built at its first use, not with the snapshot
    var fresh: Api.Snapshot = null
    assert(jobsRunBy { fresh = s1.copy() } == 0)
    assert(jobsRunBy(fresh.annotator) > 0)
    request(batch) // builds the snapshot's indexes and annotator
    var before = observations
    assert(executionsRunBy(assert(jobsRunBy(request(batch)) == 0)) == 0)
    assert(observations == before + 1)
    // any other input still runs its one tracked execution
    before = observations
    assert(executionsRunBy(request(batch.repartition(2))) == 1)
    assert(observations == before + 1)
    // later calls and a refresh that keeps the snapshot share the
    // annotator; a copy builds its own
    val refreshed = Api.Directory(dir.snapshots ++ Seq(snap("2021-01-01")))
    assert(s1.annotator eq dir.forDate(d).annotator)
    assert(refreshed.forDate(d).annotator eq s1.annotator)
    assert(fresh.annotator ne s1.annotator)
    // the placeholders are values, built once
    assert(Annotate.missingGeo eq Annotate.missingGeo)
    assert(Annotate.missingNetwork eq Annotate.missingNetwork)
  }

  test("a local v2 batch answers as the plan path does") {
    import spark.implicits._
    val dir = Api.Directory(Seq(snap("2020-01-01")))
    val d = Date.valueOf("2020-06-01")
    val mapper = new ObjectMapper()
      .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    def counts(df: DataFrame) = df.collect().toSeq.groupBy(identity)
      .map { case (r, rs) => r -> rs.length }
    // the plan path is the same batch, made non-local by a repartition
    def agrees(batch: DataFrame, render: String = "ip"): Unit = {
      val local = Api.annotateV2(spark, dir, d, batch)
      val plan = Api.annotateV2(spark, dir, d, batch.repartition(2))
      assert(isLocal(local) && !isLocal(plan))
      assert(local.schema == plan.schema)
      assert(local.schema.map(_.nullable) == plan.schema.map(_.nullable))
      assert(counts(local) == counts(plan))
      val doc = Api.toV2ResponseJson(local, d, render)
      assert(mapper.readTree(doc) ==
        mapper.readTree(Api.toV2ResponseJson(plan, d, render)), doc)
    }
    // hits, a miss, unparseable strings, 6to4, native v6, a key that
    // needs escaping and repeats
    val ips = Seq("1.0.0.200", "9.9.9.9", "1.0.0.200", "nope", "",
      "2002:100:c8::", "2001:200::1", "a\"b\\c", "9.9.9.9")
    agrees(ips.toDF("ip"))
    val big = (0 until 599).map(i => i % 5 match {
      case 0 => "1.0.0.200"
      case 1 => s"1.0.${i % 3}.${i % 256}"
      case 2 => s"2001:200::${i % 40}"
      case 3 => s"9.9.${i % 7}.9"
      case _ => s"2002:100:${i % 4}::"
    })
    agrees(big.toDF("ip"))
    agrees(Seq.empty[String].toDF("ip"))
    // a fact column named like an output is replaced in place, under
    // the session's resolver; other fact columns are kept
    val tagged = ips.map(ip => (ip, s"<$ip>"))
    agrees(tagged.toDF("ip", "geo"))
    agrees(tagged.toDF("GEO", "ip").select("ip", "GEO"))
    agrees(tagged.toDF("network", "ip"))
    agrees(tagged.toDF("ip", "note"))
    agrees(ips.toDF("IP"), render = "ip")
    // a NULL IP is refused alike on both paths
    val withNull = Seq(Some("1.0.0.200"), None).toDF("ip")
    val refused = Seq(withNull, withNull.repartition(2)).map { b =>
      val out = Api.annotateV2(spark, dir, d, b)
      intercept[IllegalArgumentException](Api.toV2ResponseJson(out, d))
        .getMessage
    }
    assert(refused.distinct == Seq("NULL in IP column 'ip'"))
    // a non-string IP column and a computed column take the plan path
    assert(!isLocal(Api.annotateV2(spark, dir, d, Seq(1, 2).toDF("ip"))))
    assert(!isLocal(Api.annotateV2(spark, dir, d,
      ips.toDF("ip").select(trim(col("ip")).as("ip")))))
  }

  test("concurrent local v2 requests share one snapshot's annotator") {
    import spark.implicits._
    val dir = Api.Directory(Seq(snap("2020-01-01")))
    val d = Date.valueOf("2020-06-01")
    val pool = Seq("1.0.0.200", "1.0.1.50", "9.9.9.9", "nope", "",
      "2002:100:c8::", "2001:200::1", "1.0.0.130", "2001:200::7")
    def batch(i: Int) = (0 until 1 + i % 23).map(k => pool((i + k * 7) % pool.size))
    def request(i: Int): String = Api.toV2ResponseJson(
      Api.annotateV2(spark, dir, d, batch(i).toDF("ip")), d)
    val want = (0 until 50).map(request)
    val got = Array.ofDim[String](4, 50)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val start = new CountDownLatch(1)
    val threads = (0 until 4).map { t =>
      val th = new Thread(() =>
        try {
          start.await()
          (0 until 50).foreach(i => got(t)(i) = request(i))
        } catch { case e: Throwable => errors.add(e) })
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, errors)
    got.foreach(docs => assert(docs.toSeq == want))
  }

  test("batch size buckets (P18)") {
    import spark.implicits._
    val got = Seq(1, 7, 50, 200, 999).toDF("n")
      .select(Api.batchSizeBucket(col("n"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("<5", "5+", "20+", "100+", "400+"))
  }
}
