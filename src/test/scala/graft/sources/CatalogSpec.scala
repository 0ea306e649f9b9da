package graft.sources

import java.sql.Date

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

class CatalogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("listing filters: regex keep + date cutoffs prune before read (S1/F1/F3)") {
    import spark.implicits._
    val listing = Seq(
      "RouteViewIPv4/2019/01/routeviews-rv2-20190101-1200.pfx2as.gz",
      "RouteViewIPv4/2008/01/routeviews-rv2-20080101-1200.pfx2as.gz", // too old
      "RouteViewIPv4/2019/01/routeviews-rv2-20190115-1200.pfx2as.gz", // not 1st
      "RouteViewIPv6/2019/01/routeviews-rv6-20190101-1200.pfx2as.gz", // v6 regex
      "SomethingElse/readme.txt").toDF("path")
    val got = Catalog.acceptPaths(listing,
        Catalog.AsnV4Regex.regex, Ingest.pathDateAsn,
        notBefore = Some(Catalog.AsnV4StartDate))
      .select("path").as[String].collect()
    assert(got.toSeq == Seq(
      "RouteViewIPv4/2019/01/routeviews-rv2-20190101-1200.pfx2as.gz"))
  }

  test("geolite2 regex matches the reference's accepted names (F1)") {
    import spark.implicits._
    val listing = Seq(
      "Maxmind/2017/09/07/20170907T023620Z-GeoLite2-City-CSV.zip",
      "Maxmind/2017/09/07/20170907T023620Z-GeoLite2-Country-CSV.zip",
      "Maxmind/2017/09/07/20170907T023620Z-GeoLiteCity.dat.gz").toDF("path")
    val got = Catalog.acceptPaths(listing, Catalog.GeoLite2Regex.regex,
      Ingest.pathDateGeo).select("path").as[String].collect()
    assert(got.toSeq == Seq(
      "Maxmind/2017/09/07/20170907T023620Z-GeoLite2-City-CSV.zip"))
  }

  test("incremental refresh loads only new paths (O6)") {
    import spark.implicits._
    val accepted = Seq("a", "b", "c").toDF("path")
    val loaded = Seq("a", "c").toDF("path")
    val got = Catalog.newPaths(accepted, loaded)
      .select("path").as[String].collect()
    assert(got.toSeq == Seq("b"))
  }

  test("S1 end-to-end: multi-snapshot Maxmind tree — metadata-only " +
      "listing, source-level pruning, as-of pick, annotate ≡ direct " +
      "fixture (geoloader.go:92-156 naming)") {
    import spark.implicits._
    import graft.functions.IpFunctions._
    import graft.api.{Annotate, Api}
    val n = 10

    // ---- on-disk tree: two accepted City-CSV snapshots + decoys ----
    val root = java.nio.file.Files.createTempDirectory("graft-tree")
    def csvFor(stamp: String, city: Int => String): (String, String) = {
      val blocks = "network,geoname_id,registered_country_geoname_id," +
        "represented_country_geoname_id,is_anonymous_proxy," +
        "is_satellite_provider,postal_code,latitude,longitude," +
        "accuracy_radius\n" +
        (0 until n).map(i => s"10.$i.0.0/16,$i,$i,,false,false,P$i," +
          s"${i + 0.5},${-(i + 0.25)},10").mkString("\n")
      val locs = "geoname_id,locale_code,continent_code,continent_name," +
        "country_iso_code,country_name,subdivision_1_iso_code," +
        "subdivision_1_name,subdivision_2_iso_code,subdivision_2_name," +
        "city_name,metro_code,time_zone,is_in_european_union\n" +
        (0 until n).map(i => s"$i,en,C$i,Cont,I$i,Nation,S$i,SN$i,,," +
          s"${city(i)},${i * 10},UTC,false").mkString("\n")
      (blocks, locs)
    }
    def writeZip(rel: String, blocks: String, locs: String): Unit = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      val zos = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(p.toFile))
      for ((name, content) <- Seq(
          "GeoLite2-City-Blocks-IPv4.csv" -> blocks,
          "GeoLite2-City-Locations-en.csv" -> locs,
          "COPYRIGHT.txt" -> "c")) {
        zos.putNextEntry(new java.util.zip.ZipEntry(name))
        zos.write(content.getBytes)
        zos.closeEntry()
      }
      zos.close()
    }
    val (b1, l1) = csvFor("20200101", i => s"City$i")
    val (b2, l2) = csvFor("20200601", i => s"Late$i")
    writeZip("Maxmind/2020/01/01/20200101T000000Z-GeoLite2-City-CSV.zip",
      b1, l1)
    writeZip("Maxmind/2020/06/01/20200601T000000Z-GeoLite2-City-CSV.zip",
      b2, l2)
    // decoys: regex-excluded dataset, glob-excluded formats
    writeZip("Maxmind/2020/01/01/20200101T000000Z-GeoLite2-Country-CSV.zip",
      b1, l1)
    java.nio.file.Files.write(
      root.resolve("Maxmind/2020/01/01/20200101T000000Z-GeoLiteCity.dat.gz"),
      "not a real dat".getBytes)
    java.nio.file.Files.write(root.resolve("Maxmind/README.txt"),
      "readme".getBytes)

    // ---- phase 1: metadata-only listing, glob prunes at the source
    val listing = Catalog.listTree(spark, root.toString, "*.zip")
    // no excluded file enters the scan's file index — pruning happened
    // at the SOURCE, not in a post-read filter
    val indexed = listing.inputFiles.toSeq
    assert(indexed.size == 3 && indexed.forall(_.endsWith(".zip")),
      indexed.toString)
    assert(!indexed.exists(f => f.contains(".dat") || f.contains("README")))
    // content column pruned: the listing plan reads paths, not bytes
    val lplan = listing.queryExecution.executedPlan.toString
    assert(!lplan.contains("content"), lplan)

    // ---- phase 2: regex + date accept, as-of snapshot pick ----
    val accepted = Catalog.acceptPaths(listing, Catalog.GeoLite2Regex.regex,
        Ingest.pathDateGeo)
      .select("path", "snapshot_date")
      .collect().map(r => (r.getString(0), r.getDate(1))).sortBy(_._2.getTime)
    assert(accepted.length == 2) // Country zip + decoys never accepted
    assert(accepted.map(_._2.toString).toSeq ==
      Seq("2020-01-01", "2020-06-01"))

    // ---- phase 3: load BOTH snapshots through the real zip+CSV path
    def loadGeo(path: String): org.apache.spark.sql.DataFrame = {
      val local = path.stripPrefix("file:")
      val m = Catalog.extractZipMembers(local,
        Seq("Blocks-IPv4", "Locations-en"))
      val blocks = Ingest.geoliteBlocks(spark, m("Blocks-IPv4"))
      // the CSV read plan touches ONLY the extracted member file
      assert(blocks.inputFiles.toSeq.map(_.replaceFirst("^file:/+", "/")) ==
        Seq(m("Blocks-IPv4")), blocks.inputFiles.toSeq)
      Annotate.buildGeoSnapshot(blocks,
        Ingest.geoliteLocations(spark, m("Locations-en")))
    }
    val asnSnap = Annotate.buildAsnSnapshot(
      (0 until n).toDF("k").select(
        ip_to_bin(concat_ws(".", lit(10), col("k"), lit(0), lit(0)))
          .as("lo"),
        ip_to_bin(concat_ws(".", lit(10), col("k"), lit(255), lit(255)))
          .as("hi"),
        (col("k") + 100).cast("string").as("asn_string")),
      (0 until n).toDF("k").select((col("k") + 100).cast("long").as("asn"),
        concat(lit("AS"), col("k").cast("string")).as("as_name")))
    val dir = Api.Directory(accepted.map { case (p, dt) =>
      Api.Snapshot(dt, loadGeo(p), asnSnap)
    }.toSeq)

    // ---- phase 4: annotate through the directory (as-of pick) and
    // compare to the SAME fixture built directly from DataFrames ----
    val reqs = ((0 until n).map(i => s"10.$i.1.2") ++
      Seq("192.168.9.9", "bogus-ip")).toDF("ip")
    def shape(df: org.apache.spark.sql.DataFrame) = df.select(
        col("ip"), col("geo.continent_code"), col("geo.country_code"),
        col("geo.subdivision1_iso_code"), col("geo.metro_code"),
        col("geo.city"), col("geo.postal_code"), col("geo.latitude"),
        col("geo.longitude"), col("geo.missing"),
        col("network.asn"), col("network.as_name"), col("network.missing"))
      .orderBy("ip").collect().map(_.toString).toSeq
    // 2020-03-01 must pick the 2020-01-01 snapshot (City*, not Late*)
    val fromTree = shape(
      Api.annotateV2(spark, dir, java.sql.Date.valueOf("2020-03-01"), reqs))
    assert(fromTree.exists(_.contains("City3")) &&
      !fromTree.exists(_.contains("Late")))
    val directBlocks = (0 until n).toDF("k").select(
      ip_to_bin(concat_ws(".", lit(10), col("k"), lit(0), lit(0))).as("lo"),
      ip_to_bin(concat_ws(".", lit(10), col("k"), lit(255), lit(255)))
        .as("hi"),
      col("k").cast("int").as("geoname_id"),
      col("k").cast("int").as("registered_country_geoname_id"),
      concat(lit("P"), col("k").cast("string")).as("postal_code"),
      (col("k").cast("double") + 0.5).as("latitude"),
      (-col("k").cast("double") - 0.25).as("longitude"))
    val directLocs = (0 until n).toDF("k").select(
      col("k").cast("int").as("geoname_id"),
      concat(lit("C"), col("k").cast("string")).as("continent_code"),
      concat(lit("I"), col("k").cast("string")).as("country_iso_code"),
      lit("Nation").as("country_name"),
      concat(lit("S"), col("k").cast("string")).as("subdivision_1_iso_code"),
      concat(lit("SN"), col("k").cast("string")).as("subdivision_1_name"),
      lit(null).cast("string").as("subdivision_2_iso_code"),
      lit(null).cast("string").as("subdivision_2_name"),
      concat(lit("City"), col("k").cast("string")).as("city_name"),
      (col("k") * 10).cast("long").as("metro_code"))
    val direct = shape(Annotate.annotate(reqs, col("ip"), Annotate.indexes(
      spark, Annotate.buildGeoSnapshot(directBlocks, directLocs), asnSnap)))
    assert(fromTree == direct)
  }

  test("zip member extraction by substring (S2)") {
    val dir = java.nio.file.Files.createTempDirectory("zip")
    val zipPath = s"$dir/test.zip"
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zipPath))
    for ((name, content) <- Seq(
        "GeoLite2-City-Blocks-IPv4.csv" -> "network,geoname_id\n1.0.0.0/24,1",
        "GeoLite2-City-Locations-en.csv" -> "geoname_id\n1",
        "COPYRIGHT.txt" -> "x")) {
      zos.putNextEntry(new java.util.zip.ZipEntry(s"sub/$name"))
      zos.write(content.getBytes)
      zos.closeEntry()
    }
    zos.close()
    val members = Catalog.extractZipMembers(zipPath,
      Seq("Blocks-IPv4", "Locations-en"))
    assert(members.keySet == Set("Blocks-IPv4", "Locations-en"))
    val blocks = scala.io.Source.fromFile(members("Blocks-IPv4")).mkString
    assert(blocks.startsWith("network,geoname_id"))
  }
}
