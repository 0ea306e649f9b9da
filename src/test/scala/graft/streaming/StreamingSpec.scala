package graft.streaming

import java.sql.Date

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.{SparkTestSession, Tables}
import graft.api.{Annotate, Api}
import graft.sources.Ingest

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  private lazy val snapshot = Api.Snapshot(Date.valueOf("2020-01-01"),
    Annotate.buildGeoSnapshot(
      Ingest.geoliteBlocks(spark, fixture("geolite2-blocks-v4.csv")),
      Ingest.geoliteLocations(spark, fixture("geolite2-locations.csv"))),
    Annotate.buildAsnSnapshot(
      Ingest.pfx2as(spark, fixture("routeviews.pfx2as")),
      Ingest.asNames(spark, fixture("asnames.csv"))))

  test("streamed windowed agg equals the batch Q23 aggregation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evstream")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("ts", "event_type", "value")
    events.write.mode("overwrite").parquet(s"$dir/in")

    val stream = spark.readStream
      .schema(events.schema)
      .parquet(s"$dir/in")
    val q = Streaming.windowedEventCounts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("winagg")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("winagg")
      .select("w", "event_type", "c", "sv")
      .collect().map(r => (r.getTimestamp(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    // cast mirrors the operator's NTZ normalization so both sides
    // collect java.sql.Timestamp
    val batch = events
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("c"), round(sum("value"), 4).as("sv"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    // append mode only emits windows the watermark has passed; the
    // final (open) hour may be withheld — everything emitted must
    // match the batch result, and coverage must be near-total.
    assert(streamed.subsetOf(batch))
    assert(streamed.size >= batch.size - 2)
  }

  test("request stream annotates per micro-batch against the directory (T3)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("reqstream")
    Seq(("1.0.0.200", Date.valueOf("2021-06-01")),
      ("9.9.9.9", Date.valueOf("2021-06-01")))
      .toDF("ip", "date")
      .write.mode("overwrite").parquet(s"$dir/in")

    val ref = new Streaming.DirectoryRef(Api.Directory(Seq(snapshot)))
    val results = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val stream = spark.readStream
      .schema("ip STRING, date DATE").parquet(s"$dir/in")
    val q = Streaming.annotateStreamTo(spark, stream, ref,
        (out, _) => results.synchronized {
          results ++= out.select("ip", "geo.city").collect()
            .map(r => (r.getString(0), r.getString(1)))
        })
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(results.toSet == Set(("1.0.0.200", "Scarborough"),
      ("9.9.9.9", null)))
  }

  test("new-file notifications trigger a directory rebuild (T1/T2)") {
    val watch = java.nio.file.Files.createTempDirectory("watch")
    val ref = new Streaming.DirectoryRef(Api.Directory(Seq(snapshot)))
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val q = Streaming.refreshOnNewFiles(spark, watch.toString, ref,
        paths => {
          seen.synchronized { seen ++= paths }
          Api.Directory(Seq(snapshot,
            snapshot.copy(date = java.sql.Date.valueOf("2023-01-01"))))
        })
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(watch.toString, "20230101-dataset.csv"), "x")
    // AvailableNow on an initially-empty dir may finish before the
    // write lands; run a second pass to pick it up deterministically
    q.awaitTermination(60000)
    val q2 = Streaming.refreshOnNewFiles(spark, watch.toString, ref,
        paths => {
          seen.synchronized { seen ++= paths }
          Api.Directory(Seq(snapshot,
            snapshot.copy(date = java.sql.Date.valueOf("2023-01-01"))))
        })
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    assert(seen.exists(_.contains("20230101-dataset.csv")))
    assert(ref.get.latest.date.toString == "2023-01-01")
  }

  test("event-driven legacy refresh: a GeoLiteCity.dat drop rebuilds " +
      "and swaps the legacy snapshot (T1/T2 + S11)") {
    import spark.implicits._
    import graft.sources.{DatWriter, LegacyDat, LegacyTables}
    val us = LegacyTables.indexOf("US")
    def dat(firstOctet: Int, city: String): Array[Byte] =
      DatWriter.buildCity(Seq((s"$firstOctet.0.0.0", 24,
        DatWriter.CityPayload(us, "23", city, "04101",
          43.6615, -70.2553, Some((500, 207))))))
    val fips = Ingest.fipsMap(spark, fixture("fips.csv"))

    val seed = java.nio.file.Files.createTempDirectory("datseed")
    java.nio.file.Files.write(
      seed.resolve("20170101T000000Z-GeoLiteCity.dat"), dat(1, "Old"))
    val ref = new Streaming.LegacySnapshotRef(
      Annotate.buildLegacySnapshot(
        LegacyDat.read(spark, seed.toString), fips))

    val watch = java.nio.file.Files.createTempDirectory("datwatch")
    def runOnce(): Unit = {
      val q = Streaming.refreshLegacyOnNewDats(spark, watch.toString,
          ref, fips)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    runOnce()
    java.nio.file.Files.write(
      watch.resolve("20170401T000000Z-GeoLiteCity.dat"), dat(2, "New"))
    java.nio.file.Files.write(watch.resolve("notes.txt"),
      "ignored by the legacy regex".getBytes)
    runOnce()

    val got = Annotate.annotateLegacy(spark,
        Seq("1.0.0.42", "2.0.0.42").toDF("ip"), col("ip"), ref.get)
      .collect().map(r => r.getAs[String]("ip") ->
        r.getAs[org.apache.spark.sql.Row]("geo")).toMap
    // whole-snapshot swap (T6): the new range resolves, the old one
    // is gone — a merge would have kept both
    assert(got("2.0.0.42").getAs[String]("city") == "New")
    assert(got("1.0.0.42").getAs[Boolean]("missing"))
  }

  test("snapshot swap releases the previous backing cache — a refresh " +
      "stream must not accumulate one persisted range table per drop") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val b1 = Seq(1).toDF("a").persist(StorageLevel.MEMORY_AND_DISK)
    b1.count()
    val b2 = Seq(2).toDF("a").persist(StorageLevel.MEMORY_AND_DISK)
    b2.count()
    val ref = new Streaming.LegacySnapshotRef(b1.select(col("a")),
      initialBacking = Some(b1))
    ref.swap(b2.select(col("a")), backing = Some(b2))
    // CacheManager entries are not GC-cleaned; swap must drop them
    assert(b1.storageLevel == StorageLevel.NONE)
    assert(b2.storageLevel == StorageLevel.MEMORY_AND_DISK)
    ref.swap(spark.emptyDataFrame)
    assert(b2.storageLevel == StorageLevel.NONE)
  }

  test("legacy refresh is per-family: a v6-only drop keeps v4 coverage") {
    import spark.implicits._
    import graft.sources.{DatWriter, LegacyDat, LegacyTables}
    val us = LegacyTables.indexOf("US")
    def payload(city: String) = DatWriter.CityPayload(us, "23", city,
      "04101", 43.6615, -70.2553, Some((500, 207)))
    val fips = Ingest.fipsMap(spark, fixture("fips.csv"))

    val seed = java.nio.file.Files.createTempDirectory("datseedfam")
    java.nio.file.Files.write(
      seed.resolve("20170101T000000Z-GeoLiteCity.dat"),
      DatWriter.buildCity(Seq(("9.0.0.0", 24, payload("Seed")))))
    val ref = new Streaming.LegacySnapshotRef(
      Annotate.buildLegacySnapshot(
        LegacyDat.read(spark, seed.toString), fips))

    val watch = java.nio.file.Files.createTempDirectory("datwatchfam")
    def runOnce(): Unit = {
      val q = Streaming.refreshLegacyOnNewDats(spark, watch.toString,
          ref, fips)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    // batch 1: v4 only
    runOnce()
    java.nio.file.Files.write(
      watch.resolve("20170301T000000Z-GeoLiteCity.dat"),
      DatWriter.buildCity(Seq(("1.0.0.0", 24, payload("V4City")))))
    runOnce()
    // batch 2: v6 ONLY — must not evict the remembered v4 edition
    java.nio.file.Files.write(
      watch.resolve("20170401T000000Z-GeoLiteCityv6.dat"),
      DatWriter.buildCity(Seq(("2001:db8::", 32, payload("V6City"))),
        LegacyDat.CityEditionRev1V6))
    runOnce()

    val got = Annotate.annotateLegacy(spark,
        Seq("1.0.0.42", "2001:db8::42").toDF("ip"), col("ip"), ref.get)
      .collect().map(r => r.getAs[String]("ip") ->
        r.getAs[org.apache.spark.sql.Row]("geo")).toMap
    assert(got("1.0.0.42").getAs[String]("city") == "V4City")
    assert(got("2001:db8::42").getAs[String]("city") == "V6City")
  }

  test("streamed sessionization equals the batch session_window result") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sessstream")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "ts")
    events.write.mode("overwrite").parquet(s"$dir/in")

    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/in")
    val q = Streaming.sessionizeEvents(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getTimestamp(3))
    val streamed = spark.table("sessions")
      .select("user_id", "w_start", "n", "t0").collect().map(key).toSet
    val batch = Streaming.sessionizeEvents(events)
      .collect().map(key).toSet
    // append mode withholds sessions the watermark hasn't closed
    assert(streamed.subsetOf(batch))
    assert(streamed.size >= batch.size - 20)
    assert(batch.nonEmpty)
  }

  test("streaming dedup drops repeated content digests within the horizon") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dedupstream")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    Seq((1L, "alpha  beta", ts(0)), (2L, "alpha beta", ts(1)), // same digest
      (3L, "gamma", ts(2)), (4L, "gamma", ts(3)), (5L, "delta", ts(4)))
      .toDF("doc_id", "text", "ts")
      .write.mode("overwrite").parquet(s"$dir/in")

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP").parquet(s"$dir/in")
    val q = Streaming.dedupStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val kept = spark.table("dedup").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L)) // one survivor per digest
  }

  test("curation column ops run unchanged on a stream") {
    import spark.implicits._
    import graft.operators.{Dedup, Sampling, TextAnalysis}
    val dir = java.nio.file.Files.createTempDirectory("curstream")
    Seq((1L, "good text with reasonable words here", "en"),
      (2L, "mail me a@b.io now", "en"),
      (3L, "kurzer text", "de"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/in")

    // quality score + PII redaction + split assignment + stratum
    // sampling are all stateless column ops, so the SAME operator
    // calls compose with readStream — no batch-only code path
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING").parquet(s"$dir/in")
    val curated = Sampling.stratifiedSample(
      Dedup.hashSplit(
        stream.withColumn("q", TextAnalysis.qualityScore(col("text")))
          .withColumn("red", TextAnalysis.redactPii(col("text"))),
        col("doc_id")),
      col("doc_id"), col("lang"), Map("en" -> 1.0, "de" -> 1.0))
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName("curation")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("curation").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("red"), r.getAs[String]("split"))).toMap
    assert(rows.size == 3) // rate 1.0 keeps everything
    assert(rows(2L)._1 == "mail me [EMAIL] now")
    assert(Set("train", "val", "test").contains(rows(1L)._2))
    // stream assignments equal the batch assignments (determinism)
    val batchSplits = Dedup.hashSplit(
        spark.read.parquet(s"$dir/in"), col("doc_id"))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.map { case (id, v) => id -> v._2 } == batchSplits)
  }

  test("streaming quality gate matches the batch bucketing under " +
      "static LM + thresholds, across batch boundaries") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    // ≥ 3 tokens each so every doc scores; two languages; vocabulary
    // overlaps so LM scores spread across bins
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps high"),
      (2L, "en", "the quick brown fox runs far"),
      (3L, "en", "the slow green turtle walks home"),
      (4L, "en", "zeta xylophone quartz vortex banjo"),
      (5L, "en", "the quick brown fox jumps high again"),
      (6L, "en", "another plain sentence about the fox"),
      (7L, "de", "der schnelle braune fuchs springt hoch"),
      (8L, "de", "der langsame fuchs geht heim"),
      (9L, "de", "voellig anderes vokabular hier jetzt"))
    val docsDF = docs.toDF("doc_id", "lang", "text")
    val train = docsDF.filter($"doc_id" % 2 === 0)
    val scoredAll = TextAnalysis.stupidBackoff(train, docsDF,
        "doc_id", "text")
      .filter(col("score").isNotNull)
      .join(docsDF.select("doc_id", "lang"), Seq("doc_id"))
    val thr = TextAnalysis.perplexityThresholds(scoredAll, "lang", "score")
    val batchAssign = TextAnalysis
      .perplexityBuckets(scoredAll, "lang", "score")
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.Map[Long, String]()
    val q = Streaming.qualityGateStream(
        input.toDF().toDF("doc_id", "lang", "text"), train, thr,
        (out, _) => got.synchronized {
          out.select("doc_id", "bucket").collect()
            .foreach(r => got(r.getLong(0)) = r.getString(1))
        })
      .start()
    input.addData(docs.filter(_._1 <= 4))
    q.processAllAvailable()
    input.addData(docs.filter(_._1 > 4))
    q.processAllAvailable()
    q.stop()
    // stateless gate + static side inputs: streamed buckets ARE the
    // batch buckets, regardless of how the corpus was batched
    assert(got.toMap == batchAssign)
    assert(batchAssign.values.toSet.subsetOf(Set("head", "middle", "tail")))
  }

  test("streaming near-dup dedup matches the batch operator on clique classes") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs " +
      "far away into the green forest tonight under a bright moon"
    val docs = Seq(
      1L -> base,
      2L -> (base + " with extra"), // near-dup of 1 (same batch)
      3L -> ("completely different content about catalyst optimizer " +
        "internals whole stage codegen and adaptive query execution"),
      4L -> "unrelated short text about nothing in particular today",
      5L -> "another standalone document carrying its own vocabulary",
      6L -> base) // exact dup of 1, arriving in a LATER batch
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val store = new Streaming.InMemorySignatureStore(
      Dedup.minhashSignatures(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id"))
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    val q = Streaming.nearDupDedupStream(
        input.toDF().toDF("doc_id", "text"), store,
        (out, _) => kept.synchronized {
          kept ++= out.select("doc_id").collect().map(_.getLong(0))
        })
      .start()
    input.addData(docs.filter(_._1 <= 3))
    q.processAllAvailable()
    input.addData(docs.filter(_._1 > 3))
    q.processAllAvailable()
    q.stop()
    val batchKept = Dedup.nearDupDedup(
        docs.toDF("doc_id", "text"), "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // clique-shaped classes + in-order arrival: the streamed keep set
    // IS the batch keep set (1 survives its class; 6, an exact dup of
    // 1 from a later batch, is dropped against the signature store)
    assert(kept.toSet == batchKept)
    assert(kept.toSet == Set(1L, 3L, 4L, 5L))
    // state is signature-shaped: one row per batch-canonical doc
    assert(store.get.columns.toSeq == Seq("doc_id", "sig"))
    assert(store.get.count() == 5) // 1,3 from b1; 4,5,6 from b2
  }

  test("mapGroupsWithState running stats accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double)]
    val q = Streaming.runningUserStats(
        input.toDF().toDF("user_id", "value"))
      .writeStream.outputMode("update")
      .format("memory").queryName("running")
      .start()
    input.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
    q.processAllAvailable()
    input.addData((1L, 3.0))
    q.processAllAvailable()
    q.stop()
    // update mode: last emitted row per user carries the running total
    val last = spark.table("running").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2) }
    assert(last(1L) == (1L, 3L, 6.0))
    assert(last(2L) == (2L, 1L, 5.0))
  }

  test("directory swap is picked up between batches (T6)") {
    val ref = new Streaming.DirectoryRef(Api.Directory(Seq(snapshot)))
    val later = snapshot.copy(date = Date.valueOf("2022-01-01"))
    ref.refresh(() => Api.Directory(Seq(snapshot, later)))
    assert(ref.get.latest.date.toString == "2022-01-01")
    assert(ref.get.forDate(Date.valueOf("2021-06-01"))
      .date.toString == "2020-01-01")
  }

  test("dedupStream dedup state survives a kill + restart from " +
      "checkpoint mid-corpus (keep-set ≡ uninterrupted run)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dedup-restart")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    def writePart(in: String, rows: Seq[(Long, String, java.sql.Timestamp)])
        : Unit =
      rows.toDF("doc_id", "text", "ts").coalesce(1)
        .write.mode("append").parquet(in)
    val part1 = Seq((1L, "alpha beta", ts(0)), (2L, "gamma", ts(1)),
      (3L, "delta", ts(2)))
    // 10/12 duplicate part1 digests ACROSS the kill boundary — only
    // recovered state can drop them; 11 is genuinely new
    val part2 = Seq((10L, "alpha  beta", ts(3)), (11L, "epsilon", ts(4)),
      (12L, "gamma", ts(5)))
    def run(in: String, ck: String,
        kept: scala.collection.mutable.Set[Long]): Unit = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING, ts TIMESTAMP")
        // one file per micro-batch: deterministic arrival order (file
        // mtime order = write order), so the keep-set is well-defined
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streaming.dedupStream(stream)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = b.select("doc_id").collect().map(_.getLong(0))
          kept.synchronized { kept ++= ids }; ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    // interrupted: part1 → query terminates (the kill) → part2 lands →
    // a NEW query resumes from the same checkpoint
    val keptR = scala.collection.mutable.Set[Long]()
    writePart(s"$dir/in", part1)
    run(s"$dir/in", s"$dir/ck", keptR)
    writePart(s"$dir/in", part2)
    run(s"$dir/in", s"$dir/ck", keptR)
    // uninterrupted twin: same files, same arrival order, one run
    val keptU = scala.collection.mutable.Set[Long]()
    writePart(s"$dir/in2", part1)
    writePart(s"$dir/in2", part2)
    run(s"$dir/in2", s"$dir/ck2", keptU)
    assert(keptR == keptU, s"resumed=$keptR uninterrupted=$keptU")
    // and both dropped the cross-boundary duplicates: without state
    // recovery the resumed run would have kept 10 and 12 too
    assert(keptR.toSet == Set(1L, 2L, 3L, 11L))
  }

  test("nearDupDedupStream + ParquetSignatureStore recover from a " +
      "driver kill: store rebuilt from disk, keep-set ≡ uninterrupted") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog and runs " +
      "far away into the green forest tonight under a bright moon"
    val other = "completely different content about catalyst optimizer " +
      "internals whole stage codegen and adaptive query execution"
    val part1 = Seq((1L, base), (2L, base + " with extra"), (3L, other))
    // 10 near-dups a PART-1 doc: only a store rebuilt from disk can
    // flag it after the kill; 11 is new vocabulary
    val part2 = Seq((10L, base + " again"),
      (11L, "another standalone document carrying its own vocabulary"))
    val dir = java.nio.file.Files.createTempDirectory("neardup-restart")
    def emptySigs = Dedup.minhashSignatures(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id")
    def writePart(in: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in)
    def run(in: String, ck: String, store: Streaming.SignatureStore,
        kept: scala.collection.mutable.Set[Long]): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streaming.nearDupDedupStream(stream, store,
          (out, _) => {
            val ids = out.select("doc_id").collect().map(_.getLong(0))
            kept.synchronized { kept ++= ids }; ()
          }, threshold = 0.5)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    // interrupted: the first store OBJECT is discarded with the "driver";
    // the resumed run constructs a fresh one over the same parquet dir
    val keptR = scala.collection.mutable.Set[Long]()
    writePart(s"$dir/in", part1)
    run(s"$dir/in", s"$dir/ck",
      new Streaming.ParquetSignatureStore(spark, s"$dir/sigs", emptySigs),
      keptR)
    writePart(s"$dir/in", part2)
    run(s"$dir/in", s"$dir/ck",
      new Streaming.ParquetSignatureStore(spark, s"$dir/sigs", emptySigs),
      keptR)
    // uninterrupted twin
    val keptU = scala.collection.mutable.Set[Long]()
    writePart(s"$dir/in2", part1)
    writePart(s"$dir/in2", part2)
    run(s"$dir/in2", s"$dir/ck2",
      new Streaming.ParquetSignatureStore(spark, s"$dir/sigs2", emptySigs),
      keptU)
    assert(keptR == keptU, s"resumed=$keptR uninterrupted=$keptU")
    assert(keptR.toSet == Set(1L, 3L, 11L)) // 2 in-batch dup, 10 vs store
  }

  test("streaming sketch maintenance is exactly-once under replay: " +
      "CMS cells (sum-merged — the double-count-sensitive law) and " +
      "HLL registers equal the batch sketch of the whole input even " +
      "when a crash between snapshot write and checkpoint commit " +
      "forces a batch replay") {
    import spark.implicits._
    import graft.operators.{CountMin, Hll}
    val dir = java.nio.file.Files.createTempDirectory("sketch-stream")
    // three single-file micro-batches with overlapping tokens so a
    // double-counted replay would be visible in the CMS cells
    val batches = Seq(
      Seq("alpha", "beta", "alpha", "gamma"),
      Seq("beta", "beta", "delta", "alpha"),
      Seq("gamma", "epsilon", "alpha", "zeta"))
    batches.foreach { b =>
      b.toDF("tok").coalesce(1).write.mode("append").parquet(s"$dir/in")
    }
    val all = batches.flatten.toDF("tok")
    val (depth, width, bits) = (3, 64, 5)

    // the crash window that matters for a SUM-merged sketch: snapshot
    // WRITTEN, checkpoint NOT committed → the batch replays; if the
    // replay merged the crashed write back in, counts would double
    val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cmsStore = new Streaming.SketchSnapshotStore(spark,
        s"$dir/cms", CountMin.sketch(all.limit(0), "tok", depth, width)) {
      override def put(batchId: Long,
          state: org.apache.spark.sql.DataFrame): Unit = {
        super.put(batchId, state)
        if (!crashOnce.getAndSet(true))
          throw new RuntimeException("injected post-put crash")
      }
    }
    val hllStore = new Streaming.SketchSnapshotStore(spark,
      s"$dir/hll", Hll.registers(all.limit(0), "tok", bits))
    def run(store: Streaming.SketchSnapshotStore, name: String,
        sk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        mg: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)
          => org.apache.spark.sql.DataFrame): Unit = {
      val in = spark.readStream.schema("tok STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      val q = Streaming.sketchStream(in, store, sk, mg)
        .option("checkpointLocation", s"$dir/ck-$name")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000)
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
      }
    }
    run(cmsStore, "cms",
      b => CountMin.sketch(b, "tok", depth, width), CountMin.merge)
    // dies after batch 0's put; restart: batch 0 REPLAYS, then 1, 2
    run(cmsStore, "cms",
      b => CountMin.sketch(b, "tok", depth, width), CountMin.merge)
    val cmsGot = cmsStore.latest.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cmsExp = CountMin.sketch(all, "tok", depth, width).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cmsGot == cmsExp,
      "replayed CMS stream must equal the batch sketch (no double count)")

    // HLL stream, no crash — merge law across batches
    run(hllStore, "hll", b => Hll.registers(b, "tok", bits), Hll.merge)
    val hllGot = hllStore.latest.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hllExp = Hll.registers(all, "tok", bits).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hllGot == hllExp)
  }

  test("annotate sink replay safety (T3): a crash AFTER the sink write " +
      "but BEFORE the checkpoint commit replays the batch, and the " +
      "per-batchId overwrite sink converges to exactly-once output") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("annotate-replay")
    // two single-row files → two micro-batches (maxFilesPerTrigger 1)
    Seq(("1.0.0.200", Date.valueOf("2021-06-01")))
      .toDF("ip", "date").coalesce(1).write.mode("append").parquet(s"$dir/in")
    Seq(("9.9.9.9", Date.valueOf("2021-06-01")))
      .toDF("ip", "date").coalesce(1).write.mode("append").parquet(s"$dir/in")

    val ref = new Streaming.DirectoryRef(Api.Directory(Seq(snapshot)))
    val attempts = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the replay-safe sink contract: output keyed by batchId, written
    // with overwrite — a replayed batch REPLACES its own earlier
    // (possibly partial) output instead of appending a second copy.
    // foreachBatch is at-least-once by design; idempotence lives here.
    def sink(out: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      out.select(col("ip"), col("geo.city").as("city"))
        .write.mode("overwrite").parquet(s"$dir/out/batch=$id")
      attempts.merge(id, 1, (a, b) => Integer.valueOf(a + b))
      // crash in the replay window: sink done, commit not yet written
      if (!failedOnce.getAndSet(true))
        throw new RuntimeException("injected post-sink crash")
    }
    def run(): Unit = {
      val stream = spark.readStream.schema("ip STRING, date DATE")
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      val q = Streaming.annotateStreamTo(spark, stream, ref, sink)
        .option("checkpointLocation", s"$dir/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000)
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
      }
    }
    run() // dies after batch 0's sink write
    run() // restart: batch 0 REPLAYS (uncommitted), then batch 1
    assert(attempts.get(0L) == 2,
      s"expected batch 0 to run twice, attempts=$attempts")
    // final sink state ≡ exactly-once output: each row exactly once
    val got = spark.read.parquet(s"$dir/out")
    assert(got.count() == 2)
    assert(got.select("ip", "city").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("1.0.0.200", "Scarborough"), ("9.9.9.9", null)))
  }

  /** [[snapshot]] dated `d`, whose city and AS name carry `d`, so a
    * row's as-of pick shows in its payload.
    */
  private def marked(d: String): Api.Snapshot = snapshot.copy(
    date = Date.valueOf(d),
    geo = snapshot.geo.withColumn("geo", col("geo").withField("city",
      concat(col("geo.city"), lit(s"@$d")))),
    asn = snapshot.asn.withColumn("network",
      col("network").withField("as_name", lit(d))))

  /** One file carrying two request dates: one micro-batch. */
  private def twoDateBatch(name: String): java.nio.file.Path = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(name)
    Seq(("1.0.0.200", Date.valueOf("2021-06-01")),
      ("1.0.0.130", Date.valueOf("2021-06-02")),
      ("9.9.9.9", Date.valueOf("2021-06-02")))
      .toDF("ip", "date").coalesce(1).write.parquet(s"$dir/in")
    dir
  }

  test("annotate sink gets one call per micro-batch carrying every " +
      "date, each row against its own as-of snapshot: a sink keyed by " +
      "batchId alone keeps every row (T3)") {
    val dir = twoDateBatch("annotate-dates")
    val ref = new Streaming.DirectoryRef(
      Api.Directory(Seq(marked("2021-06-02"), marked("2021-06-01"))))
    val calls = scala.collection.mutable.ArrayBuffer[(Long, Set[String])]()
    def sink(out: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      calls.synchronized {
        calls += (id -> out.select("ip").collect().map(_.getString(0)).toSet)
      }
      // keyed by batchId alone: a second call for this id would
      // replace the first one's rows
      out.select(col("ip"), col("date"), col("geo.city").as("city"),
          col("network.as_name").as("as_name"))
        .write.mode("overwrite").parquet(s"$dir/by-id/batch=$id")
    }
    val stream = spark.readStream.schema("ip STRING, date DATE")
      .parquet(s"$dir/in")
    val q = Streaming.annotateStreamTo(spark, stream, ref, sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    assert(calls.toSeq ==
      Seq(0L -> Set("1.0.0.200", "1.0.0.130", "9.9.9.9")), calls)
    assert(spark.read.parquet(s"$dir/by-id")
      .select("ip", "city", "as_name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ==
      Set(("1.0.0.200", "Scarborough@2021-06-01", "2021-06-01"),
        ("1.0.0.130", "Hartford@2021-06-02", "2021-06-02"),
        ("9.9.9.9", null, null)))
  }

  test("a micro-batch carrying two dates, into a one-action sink, " +
      "runs one Spark job (T3)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = twoDateBatch("annotate-jobs")
    val d = Api.Directory(Seq(marked("2021-06-01"), marked("2021-06-02")))
    d.snapshots.foreach(_.indexes) // built once per snapshot, not per batch
    val sc = spark.sparkContext
    val marker = s"annotate-jobs-${java.util.UUID.randomUUID}"
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).foreach { p =>
          if (p.getProperty("spark.job.description") == marker)
            drained.countDown()
          Option(p.getProperty("sql.streaming.queryId")).foreach(queries.add)
        }
    }
    sc.addSparkListener(l)
    val rows = new java.util.concurrent.atomic.AtomicLong
    val q = try {
      val q = Streaming.annotateStreamTo(spark,
          spark.readStream.schema("ip STRING, date DATE").parquet(s"$dir/in"),
          new Streaming.DirectoryRef(d),
          (out, _) => { rows.addAndGet(out.collect().length); () })
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      // every job start before the marker's has been delivered once
      // the listener sees the marker
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      q
    } finally sc.removeSparkListener(l)
    assert(q.exception.isEmpty)
    assert(rows.get == 3)
    val id = q.id.toString
    assert(queries.toArray.count(_ == id) == 1, queries)
  }

  test("stream-stream interval join: cross-batch matches equal the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // (view_id, user, vts) / (click_id, user, cts); click 103 arrives
    // a BATCH LATER than its view partner -> must still join (state);
    // click 104 is outside the 10-minute window -> must not
    val views = Seq((1L, 7L, ts(0)), (2L, 7L, ts(30)), (3L, 8L, ts(5)))
    val clicks = Seq((101L, 7L, ts(4)), (102L, 8L, ts(9)),
      (103L, 7L, ts(33)), (104L, 7L, ts(50)), (105L, 9L, ts(6)))
    val vIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = Streaming.intervalJoinStream(
      vIn.toDF().toDF("view_id", "user_id", "vts"),
      cIn.toDF().toDF("click_id", "user_id", "cts"),
      "user_id", "vts", "cts", maxDelay = "10 minutes")
    val q = joined.select("view_id", "click_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin").start()
    // batch 1: all views, early clicks; batch 2: the late-batch click
    vIn.addData(views)
    cIn.addData(clicks.filter(_._1 <= 102))
    q.processAllAvailable()
    cIn.addData(clicks.filter(_._1 > 102))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssjoin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = views.toDF("view_id", "u", "vts")
      .join(clicks.toDF("click_id", "u2", "cts"),
        col("u") === col("u2") && col("cts") >= col("vts") &&
          col("cts") <= col("vts") + expr("INTERVAL 10 minutes"))
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
    assert(got.contains((2L, 103L)), "cross-batch match must join")
    assert(!got.exists(_._2 == 104L), "outside-window click must not join")
    assert(!got.exists(_._2 == 105L), "unmatched-key click must not join")
  }

  test("dropDuplicatesWithinWatermark: in-window re-sends collapse, post-window re-sends survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val q = in.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.outputMode("append")
      .format("memory").queryName("ddww").start()
    // batch 1: id 1 twice (same batch), id 2 once
    in.addData(Seq((1L, ts(0)), (1L, ts(1)), (2L, ts(2))))
    q.processAllAvailable()
    // batch 2: id 1 again INSIDE the watermark window -> dropped;
    // advance event time far past the watermark
    in.addData(Seq((1L, ts(5)), (3L, ts(40))))
    q.processAllAvailable()
    // batch 3: id 1 re-sent AFTER its dedup state expired -> kept
    in.addData(Seq((1L, ts(45))))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ddww").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toList
    val perId = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perId(2L) == 1 && perId(3L) == 1)
    // id 1: once from the first window, once after state expiry
    assert(perId(1L) == 2, s"got=$got")
  }

  test("cdcStream maintains the table snapshot exactly-once under a " +
      "post-put crash replay, and matches the batch Cdc fold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc-stream")
    // batch 0: seed inserts; batch 1: competing updates (seq LWW) +
    // a delete; batch 2: re-insert of the deleted key + new insert
    val batches = Seq(
      Seq((1L, "a", 10L, "I", 1L), (2L, "b", 20L, "I", 1L),
        (3L, "c", 30L, "I", 1L)),
      Seq((1L, "a", 11L, "U", 2L), (1L, "a", 12L, "U", 3L),
        (3L, "c", 0L, "D", 2L)),
      Seq((3L, "c2", 33L, "I", 4L), (4L, "d", 40L, "I", 1L)))
    batches.foreach { b =>
      b.toDF("k", "name", "v", "op", "seq").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    }
    val empty = Seq.empty[(Long, String, Long)].toDF("k", "name", "v")
    // crash in the replay window: snapshot written, commit not yet
    val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val store = new Streaming.SketchSnapshotStore(spark,
        s"$dir/state", empty) {
      override def put(batchId: Long,
          state: org.apache.spark.sql.DataFrame): Unit = {
        super.put(batchId, state)
        if (!crashOnce.getAndSet(true))
          throw new RuntimeException("injected post-put crash")
      }
    }
    def run(): Unit = {
      val in = spark.readStream
        .schema("k LONG, name STRING, v LONG, op STRING, seq LONG")
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      val q = Streaming.cdcStream(in, store, Seq("k"))
        .option("checkpointLocation", s"$dir/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000)
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
      }
    }
    run() // dies after batch 0's put
    run() // batch 0 REPLAYS against the pre-batch snapshot, then 1, 2
    val got = store.latest.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    // batch-side fold of the same change stream, batch by batch
    val expected = batches.foldLeft(empty) { (st, b) =>
      graft.operators.Cdc.applyChanges(st,
        b.toDF("k", "name", "v", "op", "seq"), Seq("k"))
    }.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    assert(got === expected)
    // and the semantics are the MERGE outcome: LWW winner for k=1,
    // k=3 re-inserted with the new row, k=4 inserted
    assert(got === Seq((1L, "a", 12L), (2L, "b", 20L),
      (3L, "c2", 33L), (4L, "d", 40L)))
  }
}
