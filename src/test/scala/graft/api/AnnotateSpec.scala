package graft.api

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.functions.IpFunctions.{ip_to_bin, rewrite6to4}
import graft.operators.RangeStructLookup
import graft.sources.Ingest

/** End-to-end §7.2 slice: fixture CSVs → ingest → flatten → snapshot
  * build → batched annotate → nested structs, mirroring the
  * reference's handler_test.go golden behavior (found IP gets geo,
  * miss gets {Missing:true} placeholders).
  */
class AnnotateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  private lazy val geoSnap = Annotate.buildGeoSnapshot(
    Ingest.geoliteBlocks(spark, fixture("geolite2-blocks-v4.csv")),
    Ingest.geoliteLocations(spark, fixture("geolite2-locations.csv")))
  private lazy val asnSnap = Annotate.buildAsnSnapshot(
    Ingest.pfx2as(spark, fixture("routeviews.pfx2as")),
    Ingest.asNames(spark, fixture("asnames.csv")))

  private def annotateIps(ips: String*): Map[String, Row] = {
    import spark.implicits._
    val facts = ips.toDF("ip")
    Annotate.annotate(facts, col("ip"), Annotate.indexes(spark, geoSnap, asnSnap))
      .collect().map(r => r.getAs[String]("ip") -> r).toMap
  }

  test("end-to-end: nested child range wins, parent resumes, ASN attached") {
    val rows = annotateIps("1.0.0.200", "1.0.0.130", "1.0.1.50",
      "9.9.9.9", "2001:200::55", "2002:100:c8::", "junk")

    val geo200 = rows("1.0.0.200").getAs[Row]("geo")
    assert(geo200.getAs[String]("city") == "Scarborough")
    assert(geo200.getAs[Long]("metro_code") == 500L)
    assert(geo200.getAs[String]("region") == "ME")
    assert(!geo200.getAs[Boolean]("missing"))
    val net200 = rows("1.0.0.200").getAs[Row]("network")
    assert(net200.getAs[Long]("asn") == 2500L)
    assert(net200.getAs[String]("as_name") == "WIDE Project")
    assert(net200.getAs[String]("cidr") == "1.0.0.0/24")

    // nested /26 child wins inside its bounds
    assert(rows("1.0.0.130").getAs[Row]("geo")
      .getAs[String]("city") == "Hartford")

    // null geoname_id falls back to registered country (J3)
    val geo150 = rows("1.0.1.50").getAs[Row]("geo")
    assert(geo150.getAs[String]("country_code") == "US")
    assert(geo150.getAs[String]("city") == null)
    assert(!geo150.getAs[Boolean]("missing"))

    // full miss → both {missing: true} (P16)
    assert(rows("9.9.9.9").getAs[Row]("geo").getAs[Boolean]("missing"))
    assert(rows("9.9.9.9").getAs[Row]("network").getAs[Boolean]("missing"))

    // v6 probe hits the MOAS route (one combined v4+v6 table, J7)
    val net6 = rows("2001:200::55").getAs[Row]("network")
    assert(net6.getAs[Long]("asn") == 55967L)
    val systems = net6.getSeq[Row](net6.fieldIndex("systems"))
      .map(s => s.getSeq[Long](s.fieldIndex("asns")).toList).toList
    assert(systems == List(List(55967L), List(38365L, 64512L)))

    // 6to4 rewrite: 2002:100:c8:: → 1.0.0.200 (P6)
    assert(rows("2002:100:c8::").getAs[Row]("geo")
      .getAs[String]("city") == "Scarborough")

    // unparseable IP → both missing (F5)
    assert(rows("junk").getAs[Row]("geo").getAs[Boolean]("missing"))
    assert(rows("junk").getAs[Row]("network").getAs[Boolean]("missing"))
  }

  /** The `withColumn` chain the two-projection plan replaced, kept as
    * the differential oracle for [[Annotate.annotate]].
    */
  private def annotateChain(facts: DataFrame, ipStr: Column,
      idx: Annotate.Indexes): DataFrame = {
    val parsed = facts.withColumn("__ip_bin", ip_to_bin(rewrite6to4(ipStr)))
    val withGeo = parsed
      .withColumn("__geo_p", RangeStructLookup.payload(col("__ip_bin"), idx.geo))
      .withColumn("geo", col("__geo_p.geo")).drop("__geo_p")
    val withAsn = withGeo
      .withColumn("__net_p", RangeStructLookup.payload(col("__ip_bin"), idx.asn))
      .withColumn("network", col("__net_p.network")).drop("__net_p")
    withAsn
      .withColumn("geo", when(col("__ip_bin").isNull || col("geo").isNull,
        Annotate.missingGeo).otherwise(col("geo")))
      .withColumn("network",
        when(col("__ip_bin").isNull || col("network").isNull,
          Annotate.missingNetwork).otherwise(col("network")))
      .drop("__ip_bin")
  }

  /** The same oracle for [[Annotate.annotateLegacy]]. */
  private def annotateLegacyChain(facts: DataFrame, ipStr: Column,
      legacySnapshot: DataFrame): DataFrame = {
    val parsed = facts.withColumn("__ip_bin", ip_to_bin(rewrite6to4(ipStr)))
    parsed.withColumn("__geo_p", RangeStructLookup.payload(col("__ip_bin"),
        RangeStructLookup.buildIndex(spark, legacySnapshot)))
      .withColumn("geo",
        when(col("__ip_bin").isNull || col("__geo_p").isNull,
          Annotate.missingGeo).otherwise(col("__geo_p.geo")))
      .drop("__geo_p", "__ip_bin")
  }

  /** Fact batches the plan must treat like the chain: hits, a miss,
    * unparseable input, "" and NULL, 6to4 and native v6, a column
    * name with a dot, and inputs that already carry `geo`/`network`
    * (one under another case) to be replaced in place.
    */
  private def factBatches: Seq[DataFrame] = {
    import spark.implicits._
    val ips = Seq(Some("1.0.0.200"), Some("1.0.0.42"), Some("9.9.9.9"),
      Some("junk"), Some(""), None, Some("2002:100:c8::"),
      Some("2002:100:2a::"), Some("2001:200::55"), Some("2001:dead::1"))
    val rows = ips.zipWithIndex
    val plain = rows.toDF("ip", "a.b")
    Seq(plain,
      rows.map { case (ip, i) => (s"n$i", ip, i, i * 2L) }
        .toDF("network", "ip", "a.b", "geo"),
      rows.map { case (ip, i) => (ip, s"g$i") }.toDF("ip", "GEO"),
      plain.repartition(2))
  }

  private def assertSameAs(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, got.schema.treeString)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(want))
  }

  test("annotate's two projections match the withColumn chain: " +
      "schema, column order, nullability and rows") {
    val idx = Annotate.indexes(spark, geoSnap, asnSnap)
    factBatches.foreach(f => assertSameAs(
      Annotate.annotate(f, col("ip"), idx), annotateChain(f, col("ip"), idx)))
    val hits = Annotate.annotate(factBatches.head, col("ip"), idx)
      .filter(!col("geo.missing") && !col("network.missing")).count()
    assert(hits == 4) // 1.0.0.200, 1.0.0.42 and their 6to4 forms
  }

  test("annotateLegacy's two projections match the withColumn chain") {
    val legacySnap = Annotate.buildLegacySnapshot(
      Ingest.legacyGeo(spark, fixture("legacy-geo.csv")),
      Ingest.fipsMap(spark, fixture("fips.csv")))
    factBatches.foreach(f => assertSameAs(
      Annotate.annotateLegacy(spark, f, col("ip"), legacySnap),
      annotateLegacyChain(f, col("ip"), legacySnap)))
    assert(Annotate.annotateLegacy(spark, factBatches.head, col("ip"),
      legacySnap).filter(!col("geo.missing")).count() > 0)
  }

  test("site annotation: /26 mask exact-match (J6)") {
    import spark.implicits._
    val sites = Ingest.siteinfo(spark, fixture("siteinfo.json"),
      fixture("siteinfo-retired.json"))
    val got = Annotate.annotateSite(
        Seq("64.86.148.130", "64.86.200.1").toDF("ip"), col("ip"), sites)
      .select("ip", "site").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("64.86.148.130" -> "abc01", "64.86.200.1" -> null))
  }

  test("site annotation canonicalizes format but preserves prefix length") {
    import spark.implicits._
    val sites = Seq(
      // host bits set + /26: canonicalizes to 10.0.0.64/26 and matches
      ("10.0.0.90/26", "ok01"),
      // /28 entry: must NOT be widened to its /26 (reference parses
      // both sides and a /28 never equals a /26-masked fact key)
      ("10.0.1.0/28", "no01"))
      .toDF("cidr", "site")
    val got = Annotate.annotateSite(
        Seq("10.0.0.70", "10.0.1.5").toDF("ip"), col("ip"), sites)
      .select("ip", "site").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("10.0.0.70" -> "ok01", "10.0.1.5" -> null))
  }

  test("legacy enrichment: FIPS→ISO join + 3-decimal rounding (J5/P14)") {
    import spark.implicits._
    val geoRows = Seq(("US", "23", 42.1234567, -73.9876543),
      ("ZZ", "99", 1.23456, 2.34567))
      .toDF("country_code", "region", "latitude", "longitude")
    val got = Annotate.legacyEnrich(geoRows,
      Ingest.fipsMap(spark, fixture("fips.csv"))).collect()
      .map(r => (r.getAs[String]("country_code"),
        r.getAs[String]("region_iso_code"), r.getAs[String]("region_name"),
        r.getAs[Double]("latitude"))).toSet
    assert(got == Set(
      ("US", "ME", "Maine", 42.123),
      ("ZZ", "", "", 1.235))) // missing key → empty strings
  }

  test("end-to-end legacy path: CSV → flatten → lookup → legacy struct " +
      "(S11, legacy-dataset.go:129-166)") {
    import spark.implicits._
    val legacySnap = Annotate.buildLegacySnapshot(
      Ingest.legacyGeo(spark, fixture("legacy-geo.csv")),
      Ingest.fipsMap(spark, fixture("fips.csv")))
    val rows = Annotate.annotateLegacy(spark,
        Seq("1.0.0.42", "1.0.1.5", "5.5.5.5", "9.9.9.9").toDF("ip"),
        col("ip"), legacySnap)
      .collect().map(r => r.getAs[String]("ip") -> r.getAs[Row]("geo")).toMap

    val g = rows("1.0.0.42")
    assert(g.getAs[String]("country_code3") == "USA") // legacy-only field
    assert(g.getAs[Long]("area_code") == 207L) // legacy-only field
    assert(g.getAs[String]("region") == "23") // FIPS code, not ISO
    assert(g.getAs[String]("subdivision1_iso_code") == "ME") // FIPS→ISO join
    assert(g.getAs[String]("subdivision1_name") == "Maine")
    assert(g.getAs[String]("city") == "Portland")
    assert(g.getAs[Double]("latitude") == 43.662) // 3-decimal rounding
    assert(g.getAs[Double]("longitude") == -70.255)
    assert(!g.getAs[Boolean]("missing"))

    // second range + FIPS row
    val h = rows("1.0.1.5")
    assert(h.getAs[String]("subdivision1_iso_code") == "CT")
    assert(h.getAs[Long]("area_code") == 860L)

    // non-US FIPS remap + empty postal
    val de = rows("5.5.5.5")
    assert(de.getAs[String]("country_code3") == "DEU")
    assert(de.getAs[String]("subdivision1_iso_code") == "BW")
    assert(de.getAs[Double]("latitude") == 48.776)

    // miss → {missing: true} placeholder, same as modern path
    assert(rows("9.9.9.9").getAs[Boolean]("missing"))
  }

  test("cutoff routing: legacy struct pre-cutoff, modern post-cutoff " +
      "(F2 + S11, geoloader.go:34)") {
    import spark.implicits._
    val legacySnap = Annotate.buildLegacySnapshot(
      Ingest.legacyGeo(spark, fixture("legacy-geo.csv")),
      Ingest.fipsMap(spark, fixture("fips.csv")))
    val facts = Seq(("1.0.0.42", "2017-01-01"), ("1.0.0.130", "2018-01-01"))
      .map { case (ip, d) => (ip, java.sql.Date.valueOf(d)) }.toDF("ip", "d")
    val got = Annotate.routeByCutoff(facts, col("d"),
        java.sql.Date.valueOf("2017-08-15"),
        legacy = f => Annotate.annotateLegacy(spark, f, col("ip"), legacySnap)
          .select("ip", "d", "geo"),
        modern = f => Annotate.annotate(f, col("ip"),
            Annotate.indexes(spark, geoSnap, asnSnap))
          .select("ip", "d", "geo"))
      .collect().map(r => r.getAs[String]("ip") -> r.getAs[Row]("geo")).toMap
    // pre-cutoff row went through legacy: country_code3 + area_code set
    assert(got("1.0.0.42").getAs[String]("country_code3") == "USA")
    assert(got("1.0.0.42").getAs[Long]("area_code") == 207L)
    // post-cutoff row went through GeoLite2: no code3, Hartford city
    assert(got("1.0.0.130").getAs[String]("country_code3") == "")
    assert(got("1.0.0.130").getAs[String]("city") == "Hartford")
  }

  test("cutoff routing over a .dat-sourced snapshot: catalog F1 regex " +
      "accepts GeoLiteCity.dat, binary read feeds the legacy branch " +
      "(S11 end-to-end, geoloader.go:37-41)") {
    import spark.implicits._
    import graft.sources.{Catalog, DatWriter, LegacyDat, LegacyTables}
    val bytes = DatWriter.buildCity(Seq(
      ("1.0.0.0", 24, DatWriter.CityPayload(LegacyTables.indexOf("US"),
        "23", "Portland", "04101", 43.6615, -70.2553, Some((500, 207))))))
    val dir = java.nio.file.Files.createTempDirectory("datroute")
    val datName = "20170401T000000Z-GeoLiteCity.dat"
    java.nio.file.Files.write(dir.resolve(datName), bytes)
    java.nio.file.Files.write(dir.resolve("notes.txt"),
      "not a dataset".getBytes)

    // F1: the legacy regex keeps the .dat, drops the stray file
    val accepted = Catalog.acceptPaths(
      Seq(s"$dir/$datName", s"$dir/notes.txt").toDF("path"),
      Catalog.GeoLegacyRegex.regex, Ingest.pathDateGeo(_))
      .collect()
    assert(accepted.map(_.getAs[String]("path")).toSeq ==
      Seq(s"$dir/$datName"))
    assert(accepted.head.getAs[java.sql.Date]("snapshot_date").toString ==
      "2017-04-01")

    val legacySnap = Annotate.buildLegacySnapshot(
      LegacyDat.read(spark, accepted.head.getAs[String]("path")),
      Ingest.fipsMap(spark, fixture("fips.csv")))
    val facts = Seq(("1.0.0.42", "2017-01-01"), ("1.0.0.130", "2018-01-01"))
      .map { case (ip, d) => (ip, java.sql.Date.valueOf(d)) }.toDF("ip", "d")
    val got = Annotate.routeByCutoff(facts, col("d"),
        Catalog.GeoLite2StartDate,
        legacy = f => Annotate.annotateLegacy(spark, f, col("ip"), legacySnap)
          .select("ip", "d", "geo"),
        modern = f => Annotate.annotate(f, col("ip"),
            Annotate.indexes(spark, geoSnap, asnSnap))
          .select("ip", "d", "geo"))
      .collect().map(r => r.getAs[String]("ip") -> r.getAs[Row]("geo")).toMap
    // pre-cutoff row resolved through the binary legacy snapshot
    assert(got("1.0.0.42").getAs[String]("country_code3") == "USA")
    assert(got("1.0.0.42").getAs[Long]("metro_code") == 500L)
    assert(got("1.0.0.42").getAs[String]("subdivision1_iso_code") == "ME")
    // post-cutoff row went through GeoLite2
    assert(got("1.0.0.130").getAs[String]("country_code3") == "")
    assert(got("1.0.0.130").getAs[String]("city") == "Hartford")
  }

  test("date-cutoff routing unions legacy and modern branches (F2)") {
    import spark.implicits._
    val facts = Seq(("a", "2017-01-01"), ("b", "2018-01-01"))
      .map { case (k, d) => (k, java.sql.Date.valueOf(d)) }.toDF("k", "d")
    val got = Annotate.routeByCutoff(facts, col("d"),
        java.sql.Date.valueOf("2017-08-15"),
        legacy = _.withColumn("src", lit("legacy")),
        modern = _.withColumn("src", lit("modern")))
      .select("k", "src").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSet == Set(("a", "legacy"), ("b", "modern")))
  }
}
