package graft

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Annotate, Api}

/** The reference's PRIMARY user path — v2 batch annotation
  * (handler.go:194-243: snapshot pick → 6to4 rewrite → range probe →
  * geo+asn structs → Missing defaulting) — as a declared query under
  * the driver's rows+schema+hash contract, not just unit specs.
  *
  * The snapshot tables are built from the `nation` table with pure
  * arithmetic (nation n owns 10.n.0.0/16 and ASN 100+n), and request
  * IPs from `customer` keys — so the DuckDB twin can compute the
  * expected annotation for every request row directly from the same
  * arithmetic, no range logic needed, while the Spark side exercises
  * the REAL pipeline: flatten → dimension joins → broadcast
  * binary-search struct probe → miss defaulting.
  *
  * Request mix per c_custkey: ~60% in-range v4, 20% 6to4-mapped v6
  * (2002::/16 with the v4 embedded in bytes 2-5), 10% unparseable
  * (missing structs), 10% valid-but-uncovered v4 (probe miss →
  * missing structs).
  */
object ApiQueries {
  import Tables._

  private val nk = col("n_nationkey")

  private def v4(parts: Column*): Column =
    concat_ws(".", parts.map(_.cast("string")): _*)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q64_annotate_v2" -> ((s, d) => {
      import graft.functions.IpFunctions._
      val nat = nation(s, d)
      val blocks = nat.select(
        ip_to_bin(v4(lit(10), nk, lit(0), lit(0))).as("lo"),
        ip_to_bin(v4(lit(10), nk, lit(255), lit(255))).as("hi"),
        nk.cast("long").as("geoname_id"),
        nk.cast("long").as("registered_country_geoname_id"),
        concat(lit("P"), nk.cast("string")).as("postal_code"),
        (nk.cast("double") + 0.5).as("latitude"),
        (-nk.cast("double") - 0.25).as("longitude"))
      val locs = nat.select(
        nk.cast("long").as("geoname_id"),
        concat(lit("C"), col("n_regionkey").cast("string"))
          .as("continent_code"),
        concat(lit("I"), nk.cast("string")).as("country_iso_code"),
        col("n_name").as("country_name"),
        concat(lit("S"), nk.cast("string")).as("subdivision_1_iso_code"),
        concat(lit("SN"), nk.cast("string")).as("subdivision_1_name"),
        lit("").as("subdivision_2_iso_code"),
        lit("").as("subdivision_2_name"),
        (nk * 10).cast("long").as("metro_code"),
        concat(lit("City"), nk.cast("string")).as("city_name"))
      val asnRanges = nat.select(
        ip_to_bin(v4(lit(10), nk, lit(0), lit(0))).as("lo"),
        ip_to_bin(v4(lit(10), nk, lit(255), lit(255))).as("hi"),
        (nk + 100).cast("string").as("asn_string"))
      val asNames = nat.select(
        (nk + 100).cast("long").as("asn"),
        concat(lit("AS-"), col("n_name")).as("as_name"))
      val dir = Api.Directory(Seq(Api.Snapshot(Date.valueOf("2020-01-01"),
        Annotate.buildGeoSnapshot(blocks, locs),
        Annotate.buildAsnSnapshot(asnRanges, asNames))))
      val c = col("c_custkey")
      val ipExpr =
        when(c % 10 === 4, concat(lit("bogus-"), c.cast("string")))
          .when(c % 10 === 9, v4(lit(192), lit(168), lit(1), c % 250))
          .when(c % 5 === 3, concat(lit("2002:"),
            lpad(lower(hex(c % 25 + 2560)), 4, "0"), lit(":"),
            lpad(lower(hex(c * 256 + 9)), 4, "0"), lit("::1")))
          .otherwise(v4(lit(10), c % 25, c, (c * 3) % 250))
      val reqs = customer(s, d).filter(c < 200).select(ipExpr.as("ip"))
      Api.annotateV2(s, dir, Date.valueOf("2021-06-01"), reqs)
        .select(col("ip"),
          col("geo.continent_code").as("continent"),
          col("geo.country_code").as("country_code"),
          col("geo.country_name").as("country_name"),
          col("geo.subdivision1_iso_code").as("subdiv"),
          col("geo.city").as("city"),
          col("geo.postal_code").as("postal"),
          col("geo.latitude").as("lat"),
          col("geo.longitude").as("lon"),
          col("geo.missing").as("geo_missing"),
          col("network.cidr").as("cidr"),
          col("network.asn").as("asn"),
          col("network.as_name").as("as_name"),
          col("network.missing").as("net_missing"))
        .orderBy("ip")
    }),

    /** S11 under the hash contract: a deterministic legacy city `.dat`
      * is synthesized from the `nation` keys with [[graft.sources
      * .DatWriter]] (nation n owns 10.n.0.0/16, all US so the REV1
      * metro/area combo path runs), read back through the REAL binary
      * pipeline — `binaryFile` scan → tree walk → [[graft.sources
      * .LegacyDat.read]] → `buildLegacySnapshot` (FIPS join, 3-dec
      * rounding) → `annotateLegacy` probe — and compared to pure
      * arithmetic in DuckDB. Coordinates are chosen exactly
      * representable through the format's 1e-4 fixed point (n+0.5 /
      * -(n+0.25)), so the hash compare is exact. The only driver-side
      * step is collecting the 25 nation keys to serialize the blob —
      * dimension-scale by construction.
      */
    "q67_annotate_legacy_dat" -> ((s, d) => {
      import graft.sources.{DatWriter, LegacyDat, LegacyTables}
      val usIdx = LegacyTables.indexOf("US")
      val keys = nation(s, d).select(nk).collect()
        .map(_.getAs[Number](0).intValue).sorted
      val entries = keys.toSeq.map { n =>
        (s"10.$n.0.0", 16, DatWriter.CityPayload(usIdx, s"R$n", s"City$n",
          s"P$n", n + 0.5, -(n + 0.25), Some((n * 10, n))))
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-q67")
      java.nio.file.Files.write(
        dir.resolve("20170401T000000Z-GeoLiteCity.dat"),
        DatWriter.buildCity(entries))
      val fips = nation(s, d).select(
        concat(lit("US-R"), nk.cast("string")).as("fips_key"),
        concat(lit("S"), nk.cast("string")).as("region_iso_code"),
        concat(lit("SN"), nk.cast("string")).as("region_name"))
      val snap = Annotate.buildLegacySnapshot(
        LegacyDat.read(s, dir.toString), fips)
      val c = col("c_custkey")
      val ipExpr =
        when(c % 10 === 4, concat(lit("bogus-"), c.cast("string")))
          .when(c % 10 === 9, v4(lit(192), lit(168), lit(1), c % 250))
          .when(c % 5 === 3, concat(lit("2002:"),
            lpad(lower(hex(c % 25 + 2560)), 4, "0"), lit(":"),
            lpad(lower(hex(c * 256 + 9)), 4, "0"), lit("::1")))
          .otherwise(v4(lit(10), c % 25, c, (c * 3) % 250))
      val reqs = customer(s, d).filter(c < 200).select(ipExpr.as("ip"))
      Annotate.annotateLegacy(s, reqs, col("ip"), snap)
        .select(legacyGeoCols: _*)
        .orderBy("ip")
    }),

    /** S11's 128-bit walk under the hash contract: same shape as q67
      * but a CITY_EDITION_REV1_V6 blob (nation n owns 2001:db8:n::/48)
      * probed with native v6 request IPs — no 6to4 rewrite involved,
      * so this pins the v6 tree walk and the 16-byte probe end-to-end.
      */
    "q68_annotate_legacy_dat_v6" -> ((s, d) => {
      import graft.sources.{DatWriter, LegacyDat, LegacyTables}
      val usIdx = LegacyTables.indexOf("US")
      val keys = nation(s, d).select(nk).collect()
        .map(_.getAs[Number](0).intValue).sorted
      val entries = keys.toSeq.map { n =>
        (s"2001:db8:${n.toHexString}::", 48,
          DatWriter.CityPayload(usIdx, s"R$n", s"City$n", s"P$n",
            n + 0.5, -(n + 0.25), Some((n * 10, n))))
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-q68")
      java.nio.file.Files.write(
        dir.resolve("20170401T000000Z-GeoLiteCityv6.dat"),
        DatWriter.buildCity(entries, LegacyDat.CityEditionRev1V6))
      val fips = nation(s, d).select(
        concat(lit("US-R"), nk.cast("string")).as("fips_key"),
        concat(lit("S"), nk.cast("string")).as("region_iso_code"),
        concat(lit("SN"), nk.cast("string")).as("region_name"))
      val snap = Annotate.buildLegacySnapshot(
        LegacyDat.read(s, dir.toString), fips)
      val c = col("c_custkey")
      val ipExpr =
        when(c % 10 === 4, concat(lit("bogus-"), c.cast("string")))
          .when(c % 10 === 9,
            concat(lit("2001:dead::"), lower(hex(c))))
          .otherwise(concat(lit("2001:db8:"), lower(hex(c % 25)),
            lit("::"), lower(hex(c))))
      val reqs = customer(s, d).filter(c < 200).select(ipExpr.as("ip"))
      Annotate.annotateLegacy(s, reqs, col("ip"), snap)
        .select(legacyGeoCols: _*)
        .orderBy("ip")
    }),

    /** F2's core routing behavior end-to-end under the hash contract
      * (geoloader.go:160-176, cutoff 2017-08-15): one request batch
      * whose dates straddle the cutoff runs through
      * [[Annotate.routeByCutoff]] — pre-cutoff rows probe the
      * `.dat`-sourced legacy snapshot (q67's fixture recipe, built
      * through the REAL binary writer → reader → FIPS path) and get a
      * Missing network (the legacy annotator carries geo only); the
      * rest probe a modern snapshot with distinct payloads (MCity/MP
      * prefixes) plus ASN data. The merged union is hashed, so the
      * oracle pins WHICH branch every row took, not just each
      * branch's math.
      */
    "q70_route_cutoff" -> ((s, d) => {
      import graft.functions.IpFunctions._
      import graft.sources.{DatWriter, LegacyDat, LegacyTables}
      val usIdx = LegacyTables.indexOf("US")
      val keys = nation(s, d).select(nk).collect()
        .map(_.getAs[Number](0).intValue).sorted
      val entries = keys.toSeq.map { n =>
        (s"10.$n.0.0", 16, DatWriter.CityPayload(usIdx, s"R$n", s"City$n",
          s"P$n", n + 0.5, -(n + 0.25), Some((n * 10, n))))
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-q70")
      java.nio.file.Files.write(
        dir.resolve("20170401T000000Z-GeoLiteCity.dat"),
        DatWriter.buildCity(entries))
      val fips = nation(s, d).select(
        concat(lit("US-R"), nk.cast("string")).as("fips_key"),
        concat(lit("S"), nk.cast("string")).as("region_iso_code"),
        concat(lit("SN"), nk.cast("string")).as("region_name"))
      val legacySnap = Annotate.buildLegacySnapshot(
        LegacyDat.read(s, dir.toString), fips)

      val nat = nation(s, d)
      val blocks = nat.select(
        ip_to_bin(v4(lit(10), nk, lit(0), lit(0))).as("lo"),
        ip_to_bin(v4(lit(10), nk, lit(255), lit(255))).as("hi"),
        nk.cast("long").as("geoname_id"),
        nk.cast("long").as("registered_country_geoname_id"),
        concat(lit("MP"), nk.cast("string")).as("postal_code"),
        (nk.cast("double") + 0.5).as("latitude"),
        (-nk.cast("double") - 0.25).as("longitude"))
      val locs = nat.select(
        nk.cast("long").as("geoname_id"),
        concat(lit("C"), col("n_regionkey").cast("string"))
          .as("continent_code"),
        concat(lit("I"), nk.cast("string")).as("country_iso_code"),
        col("n_name").as("country_name"),
        concat(lit("S"), nk.cast("string")).as("subdivision_1_iso_code"),
        concat(lit("SN"), nk.cast("string")).as("subdivision_1_name"),
        lit("").as("subdivision_2_iso_code"),
        lit("").as("subdivision_2_name"),
        (nk * 10).cast("long").as("metro_code"),
        concat(lit("MCity"), nk.cast("string")).as("city_name"))
      val asnRanges = nat.select(
        ip_to_bin(v4(lit(10), nk, lit(0), lit(0))).as("lo"),
        ip_to_bin(v4(lit(10), nk, lit(255), lit(255))).as("hi"),
        (nk + 100).cast("string").as("asn_string"))
      val asNames = nat.select(
        (nk + 100).cast("long").as("asn"),
        concat(lit("AS-"), col("n_name")).as("as_name"))
      val geoSnap = Annotate.buildGeoSnapshot(blocks, locs)
      val asnSnap = Annotate.buildAsnSnapshot(asnRanges, asNames)

      val c = col("c_custkey")
      val ipExpr =
        when(c % 10 === 4, concat(lit("bogus-"), c.cast("string")))
          .when(c % 10 === 9, v4(lit(192), lit(168), lit(1), c % 250))
          .otherwise(v4(lit(10), c % 25, c, (c * 3) % 250))
      val reqs = customer(s, d).filter(c < 200).select(ipExpr.as("ip"),
        date_add(lit(Date.valueOf("2017-08-01")), (c % 30).cast("int"))
          .as("req_date"))
      def shared(df: DataFrame): DataFrame = df.select(
        col("ip"), col("req_date"),
        col("geo.country_code").as("country_code"),
        col("geo.city").as("city"),
        col("geo.postal_code").as("postal"),
        col("geo.latitude").as("lat"),
        col("geo.missing").as("geo_missing"),
        col("network.asn").as("asn"),
        col("network.missing").as("net_missing"))
      Annotate.routeByCutoff(reqs, col("req_date"),
          Date.valueOf("2017-08-15"),
          legacy = f => shared(
            Annotate.annotateLegacy(s, f, col("ip"), legacySnap)
              .withColumn("network", Annotate.missingNetwork)),
          modern = f => shared(
            Annotate.annotate(f, col("ip"),
              Annotate.indexes(s, geoSnap, asnSnap))))
        .orderBy("ip")
    }))

  /** Shared q67/q68 output projection over the legacy geo struct. */
  private def legacyGeoCols: Seq[Column] = Seq(col("ip"),
    col("geo.continent_code").as("continent"),
    col("geo.country_code").as("country_code"),
    col("geo.country_code3").as("country_code3"),
    col("geo.country_name").as("country_name"),
    col("geo.region").as("region"),
    col("geo.subdivision1_iso_code").as("subdiv"),
    col("geo.subdivision1_name").as("subdiv_name"),
    col("geo.metro_code").as("metro"),
    col("geo.city").as("city"),
    col("geo.area_code").as("area"),
    col("geo.postal_code").as("postal"),
    col("geo.latitude").as("lat"),
    col("geo.longitude").as("lon"),
    col("geo.missing").as("geo_missing"))

  val oracleSql: Map[String, String] = Map(
    "q64_annotate_v2" ->
      """WITH req AS (
        |  SELECT c_custkey AS c, c_custkey % 25 AS n,
        |    CASE WHEN c_custkey % 10 = 4 THEN 'bogus-' || c_custkey
        |      WHEN c_custkey % 10 = 9 THEN '192.168.1.' || (c_custkey % 250)
        |      WHEN c_custkey % 5 = 3 THEN '2002:' ||
        |        lpad(lower(hex(c_custkey % 25 + 2560)), 4, '0') || ':' ||
        |        lpad(lower(hex(c_custkey * 256 + 9)), 4, '0') || '::1'
        |      ELSE '10.' || (c_custkey % 25) || '.' || c_custkey || '.' ||
        |        ((c_custkey * 3) % 250) END AS ip,
        |    (c_custkey % 10 NOT IN (4, 9)) AS hit
        |  FROM customer WHERE c_custkey < 200)
        |SELECT r.ip,
        |  CASE WHEN r.hit THEN 'C' || n_regionkey END AS continent,
        |  CASE WHEN r.hit THEN 'I' || r.n END AS country_code,
        |  CASE WHEN r.hit THEN n_name END AS country_name,
        |  CASE WHEN r.hit THEN 'S' || r.n END AS subdiv,
        |  CASE WHEN r.hit THEN 'City' || r.n END AS city,
        |  CASE WHEN r.hit THEN 'P' || r.n END AS postal,
        |  CASE WHEN r.hit THEN CAST(r.n AS DOUBLE) + 0.5 END AS lat,
        |  CASE WHEN r.hit THEN -CAST(r.n AS DOUBLE) - 0.25 END AS lon,
        |  NOT r.hit AS geo_missing,
        |  CASE WHEN r.hit THEN '10.' || r.n || '.0.0/16' END AS cidr,
        |  CASE WHEN r.hit THEN CAST(r.n + 100 AS BIGINT) END AS asn,
        |  CASE WHEN r.hit THEN 'AS-' || n_name END AS as_name,
        |  NOT r.hit AS net_missing
        |FROM req r LEFT JOIN nation ON n_nationkey = r.n AND r.hit
        |ORDER BY r.ip""".stripMargin,
    "q67_annotate_legacy_dat" ->
      """WITH req AS (
        |  SELECT c_custkey AS c, c_custkey % 25 AS n,
        |    CASE WHEN c_custkey % 10 = 4 THEN 'bogus-' || c_custkey
        |      WHEN c_custkey % 10 = 9 THEN '192.168.1.' || (c_custkey % 250)
        |      WHEN c_custkey % 5 = 3 THEN '2002:' ||
        |        lpad(lower(hex(c_custkey % 25 + 2560)), 4, '0') || ':' ||
        |        lpad(lower(hex(c_custkey * 256 + 9)), 4, '0') || '::1'
        |      ELSE '10.' || (c_custkey % 25) || '.' || c_custkey || '.' ||
        |        ((c_custkey * 3) % 250) END AS ip,
        |    (c_custkey % 10 NOT IN (4, 9)) AS hit
        |  FROM customer WHERE c_custkey < 200)
        |SELECT r.ip,
        |  CASE WHEN r.hit THEN 'NA' END AS continent,
        |  CASE WHEN r.hit THEN 'US' END AS country_code,
        |  CASE WHEN r.hit THEN 'USA' END AS country_code3,
        |  CASE WHEN r.hit THEN 'United States' END AS country_name,
        |  CASE WHEN r.hit THEN 'R' || r.n END AS region,
        |  CASE WHEN r.hit THEN 'S' || r.n END AS subdiv,
        |  CASE WHEN r.hit THEN 'SN' || r.n END AS subdiv_name,
        |  CASE WHEN r.hit THEN CAST(r.n * 10 AS BIGINT) END AS metro,
        |  CASE WHEN r.hit THEN 'City' || r.n END AS city,
        |  CASE WHEN r.hit THEN CAST(r.n AS BIGINT) END AS area,
        |  CASE WHEN r.hit THEN 'P' || r.n END AS postal,
        |  CASE WHEN r.hit THEN CAST(r.n AS DOUBLE) + 0.5 END AS lat,
        |  CASE WHEN r.hit THEN -CAST(r.n AS DOUBLE) - 0.25 END AS lon,
        |  NOT r.hit AS geo_missing
        |FROM req r
        |ORDER BY r.ip""".stripMargin,
    "q68_annotate_legacy_dat_v6" ->
      """WITH req AS (
        |  SELECT c_custkey AS c, c_custkey % 25 AS n,
        |    CASE WHEN c_custkey % 10 = 4 THEN 'bogus-' || c_custkey
        |      WHEN c_custkey % 10 = 9 THEN '2001:dead::' ||
        |        lower(hex(c_custkey))
        |      ELSE '2001:db8:' || lower(hex(c_custkey % 25)) || '::' ||
        |        lower(hex(c_custkey)) END AS ip,
        |    (c_custkey % 10 NOT IN (4, 9)) AS hit
        |  FROM customer WHERE c_custkey < 200)
        |SELECT r.ip,
        |  CASE WHEN r.hit THEN 'NA' END AS continent,
        |  CASE WHEN r.hit THEN 'US' END AS country_code,
        |  CASE WHEN r.hit THEN 'USA' END AS country_code3,
        |  CASE WHEN r.hit THEN 'United States' END AS country_name,
        |  CASE WHEN r.hit THEN 'R' || r.n END AS region,
        |  CASE WHEN r.hit THEN 'S' || r.n END AS subdiv,
        |  CASE WHEN r.hit THEN 'SN' || r.n END AS subdiv_name,
        |  CASE WHEN r.hit THEN CAST(r.n * 10 AS BIGINT) END AS metro,
        |  CASE WHEN r.hit THEN 'City' || r.n END AS city,
        |  CASE WHEN r.hit THEN CAST(r.n AS BIGINT) END AS area,
        |  CASE WHEN r.hit THEN 'P' || r.n END AS postal,
        |  CASE WHEN r.hit THEN CAST(r.n AS DOUBLE) + 0.5 END AS lat,
        |  CASE WHEN r.hit THEN -CAST(r.n AS DOUBLE) - 0.25 END AS lon,
        |  NOT r.hit AS geo_missing
        |FROM req r
        |ORDER BY r.ip""".stripMargin,
    "q70_route_cutoff" ->
      """WITH req AS (
        |  SELECT c_custkey AS c, c_custkey % 25 AS n,
        |    CASE WHEN c_custkey % 10 = 4 THEN 'bogus-' || c_custkey
        |      WHEN c_custkey % 10 = 9 THEN '192.168.1.' || (c_custkey % 250)
        |      ELSE '10.' || (c_custkey % 25) || '.' || c_custkey || '.' ||
        |        ((c_custkey * 3) % 250) END AS ip,
        |    (c_custkey % 10 NOT IN (4, 9)) AS hit,
        |    DATE '2017-08-01' + CAST(c_custkey % 30 AS INT) AS req_date,
        |    (c_custkey % 30) < 14 AS leg
        |  FROM customer WHERE c_custkey < 200)
        |SELECT r.ip, r.req_date,
        |  CASE WHEN NOT r.hit THEN NULL
        |    WHEN r.leg THEN 'US' ELSE 'I' || r.n END AS country_code,
        |  CASE WHEN NOT r.hit THEN NULL
        |    WHEN r.leg THEN 'City' || r.n ELSE 'MCity' || r.n END AS city,
        |  CASE WHEN NOT r.hit THEN NULL
        |    WHEN r.leg THEN 'P' || r.n ELSE 'MP' || r.n END AS postal,
        |  CASE WHEN r.hit THEN CAST(r.n AS DOUBLE) + 0.5 END AS lat,
        |  NOT r.hit AS geo_missing,
        |  CASE WHEN r.hit AND NOT r.leg
        |    THEN CAST(r.n + 100 AS BIGINT) END AS asn,
        |  (r.leg OR NOT r.hit) AS net_missing
        |FROM req r
        |ORDER BY r.ip""".stripMargin)
}
