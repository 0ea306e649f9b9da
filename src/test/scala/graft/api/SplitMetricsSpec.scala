package graft.api

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.metrics.Metrics
import graft.sources.Ingest

class SplitMetricsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  test("server-vs-client split: semi/anti against site networks (F6)") {
    import spark.implicits._
    val sites = Ingest.siteinfo(spark, fixture("siteinfo.json"),
      fixture("siteinfo-retired.json"))
    val facts = Seq("64.86.148.130", "8.8.8.8", "5.6.7.20").toDF("ip")
    val (server, client) = Split.splitServerIps(facts, sites, col("ip"))
    assert(server.select("ip").as[String].collect().toSet ==
      Set("64.86.148.130", "5.6.7.20"))
    assert(client.select("ip").as[String].collect().toSet == Set("8.8.8.8"))
  }

  test("response merge: server-side rows win per key (J10)") {
    import spark.implicits._
    val server = Seq(("a", "server")).toDF("ip", "src")
    val remote = Seq(("a", "remote"), ("b", "remote")).toDF("ip", "src")
    val got = Split.mergeResponses(server, remote).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "server", "b" -> "remote"))
  }

  test("request-size bucket labels match the reference boundaries (P18/S14)") {
    // handler.go:270-283: >=400→400+, >=100→100+, >=20→20+, >=5→5+, else <5
    assert(Metrics.batchSizeBucketLabel(0) == "<5")
    assert(Metrics.batchSizeBucketLabel(4) == "<5")
    assert(Metrics.batchSizeBucketLabel(5) == "5+")
    assert(Metrics.batchSizeBucketLabel(19) == "5+")
    assert(Metrics.batchSizeBucketLabel(20) == "20+")
    assert(Metrics.batchSizeBucketLabel(99) == "20+")
    assert(Metrics.batchSizeBucketLabel(100) == "100+")
    assert(Metrics.batchSizeBucketLabel(399) == "100+")
    assert(Metrics.batchSizeBucketLabel(400) == "400+")
    // and the driver-side label agrees with the column twin everywhere
    import spark.implicits._
    val ns = Seq(0L, 4L, 5L, 19L, 20L, 99L, 100L, 399L, 400L, 1000L)
    val colLabels = ns.toDF("n")
      .select(Api.batchSizeBucket(col("n"))).as[String].collect()
    assert(colLabels.toSeq == ns.map(Metrics.batchSizeBucketLabel))
  }

  test("replayed request stream lands in the reference's size buckets (S14)") {
    import java.sql.Date
    import graft.streaming.Streaming
    import graft.sources.Ingest
    val snapshot = Api.Snapshot(Date.valueOf("2020-01-01"),
      graft.api.Annotate.buildGeoSnapshot(
        Ingest.geoliteBlocks(spark, fixture("geolite2-blocks-v4.csv")),
        Ingest.geoliteLocations(spark, fixture("geolite2-locations.csv"))),
      graft.api.Annotate.buildAsnSnapshot(
        Ingest.pfx2as(spark, fixture("routeviews.pfx2as")),
        Ingest.asNames(spark, fixture("asnames.csv"))))
    val ref = new Streaming.DirectoryRef(Api.Directory(Seq(snapshot)))
    import spark.implicits._
    // three files sized 3 / 6 / 25, one micro-batch each
    // (maxFilesPerTrigger 1) — one served "request batch" each
    val dir = java.nio.file.Files.createTempDirectory("sizebuckets")
    Seq(3 -> "2020-01-01", 6 -> "2020-01-02", 25 -> "2020-01-03").foreach {
      case (n, d) =>
        (1 to n).map(i => (s"1.0.0.$i", Date.valueOf(d))).toDF("ip", "date")
          .coalesce(1).write.mode("append").parquet(s"$dir/in")
    }
    val stream = spark.readStream.schema("ip string, date date")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    def bucketCount(b: String): Long =
      Metrics.registry.get(s"request_time_hist{source=v2,size=$b}")
    val buckets = Seq("<5", "5+", "20+")
    val before = buckets.map(b => b -> bucketCount(b)).toMap
    val q = Streaming.annotateStreamTo(spark, stream, ref,
        (out, _) => { out.count(); () })
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // an observation lands when its batch's listener event is delivered
    val deadline = System.currentTimeMillis() + 30000
    while (buckets.exists(b => bucketCount(b) <= before(b)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(bucketCount("<5") == before("<5") + 1)
    assert(bucketCount("5+") == before("5+") + 1)
    assert(bucketCount("20+") == before("20+") + 1)
    // and time was observed for each served batch
    assert(Metrics.registry.snapshot.keys.exists(
      _.startsWith("request_time_usec_total{source=v2")))
  }

  test("metrics: listener counts queries; histogram + missing stats (S14/A5/A6)") {
    import spark.implicits._
    val before = Metrics.registry.get("queries_total")
    Metrics.install(spark)
    Seq(1, 2, 3).toDF("x").count()
    // listener fires asynchronously; spin briefly
    val deadline = System.currentTimeMillis() + 10000
    while (Metrics.registry.get("queries_total") <= before &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(Metrics.registry.get("queries_total") > before)

    val hist = Metrics.latencyHistogram(
      Seq(3L, 5L, 17L, 300L).toDF("d"), col("d")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist.values.sum == 4)

    val ann = Seq((true, false), (false, false), (true, true))
      .toDF("gm", "nm")
      .select(struct(col("gm").as("missing")).as("geo"),
        struct(col("nm").as("missing")).as("network"))
    val ms = Metrics.missingStats(ann).collect()(0)
    assert(ms.getLong(0) == 3 && ms.getLong(1) == 2 && ms.getLong(2) == 1)
  }
}
