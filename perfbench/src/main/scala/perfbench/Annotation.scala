package perfbench

import java.io.File
import java.sql.Date

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.{Annotate, Api}
import graft.sources.{Catalog, Ingest}

/** Loads snapshots from a reference-layout tree through the engine's
  * sources (`Catalog` listing and accept filters, zip extraction,
  * budgeted `Ingest` readers) into `Annotate` snapshots.
  */
object Annotation {
  val AsNamesPath = "ipinfo/asnames.csv"

  /** One accepted snapshot: its GeoLite2 zip, pfx2as file and date. */
  final case class Drop(zip: String, pfx: String, date: Date)

  /** List the tree and pair the accepted GeoLite2 and RouteViews files
    * by snapshot date, skipping paths already in `loaded`.
    */
  def listNew(spark: SparkSession, root: File, loaded: Set[String]): Seq[Drop] = {
    val listing = Catalog.listTree(spark, root.getPath).cache()
    try {
      def accepted(regex: String, date: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        Catalog.acceptPaths(listing, regex, date)
          .select(col("path"), col("snapshot_date")).collect()
          .map(r => r.getDate(1).toString -> r.getString(0).stripPrefix("file:"))
          .filterNot(p => loaded(p._2)).toMap
      val geo = accepted(Catalog.GeoLite2Regex.regex, Ingest.pathDateGeo)
      val asn = accepted(Catalog.AsnV4Regex.regex, Ingest.pathDateAsn)
      geo.keySet.intersect(asn.keySet).toSeq.sorted
        .map(d => Drop(geo(d), asn(d), Date.valueOf(d)))
    } finally listing.unpersist()
  }

  final case class Ingested(blocks: DataFrame, locations: DataFrame,
      pfx: DataFrame, members: Map[String, String])

  /** Extract the zip members and open the budgeted readers (each
    * reader runs its budget count eagerly).
    */
  def ingest(spark: SparkSession, d: Drop): Ingested = {
    val m = Catalog.extractZipMembers(d.zip,
      Seq("Blocks-IPv4", "Blocks-IPv6", "Locations-en"))
    Ingested(
      Ingest.geoliteBlocks(spark, m("Blocks-IPv4"))
        .unionByName(Ingest.geoliteBlocks(spark, m("Blocks-IPv6"))),
      Ingest.geoliteLocations(spark, m("Locations-en")),
      Ingest.pfx2as(spark, d.pfx), m)
  }

  def snapshot(spark: SparkSession, d: Drop, asNames: DataFrame): Api.Snapshot = {
    val in = ingest(spark, d)
    Api.Snapshot(d.date, Annotate.buildGeoSnapshot(in.blocks, in.locations),
      Annotate.buildAsnSnapshot(in.pfx, asNames))
  }

  /** As-of pick over the directory's dates: latest ≤ d, else earliest. */
  def expectedPick(dates: Seq[Date], d: Date): Date = {
    val s = dates.sortBy(_.getTime)
    s.filter(!_.after(d)).lastOption.getOrElse(s.head)
  }

  /** Snapshot index of a generated snapshot date. */
  def indexOf(gen: Gen, d: Date): Int = {
    val ld = d.toLocalDate
    val k = (ld.getYear - 2020) * 12 + ld.getMonthValue - 1
    require(gen.date(k) == d, s"$d is not a generated snapshot date")
    k
  }
}

/** Field-by-field comparison of annotations with the generator's
  * truth. Each returns None when equal, else a description.
  */
object Check {
  private val mapper = new ObjectMapper()

  def parse(json: String): JsonNode = mapper.readTree(json)

  private def str(n: JsonNode, f: String): String =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText).orNull

  def geo(n: JsonNode, t: Option[GeoTruth]): Option[String] = t match {
    case None =>
      if (n != null && n.path("missing").asBoolean(false) &&
          !n.has("country_code")) None
      else Some(s"geo want missing, got $n")
    case Some(g) =>
      val want = Seq("continent_code" -> g.continent, "country_code" -> g.country,
        "country_name" -> g.countryName, "region" -> g.sub1,
        "subdivision1_iso_code" -> g.sub1, "subdivision1_name" -> g.sub1Name,
        "city" -> g.city, "postal_code" -> g.postal)
      val bad = want.filter { case (f, v) => n == null || str(n, f) != v } ++
        Seq("metro_code").filter(_ => n == null || n.path("metro_code").asLong(-1) != g.metro)
          .map(_ -> g.metro.toString) ++
        Seq("latitude" -> g.lat, "longitude" -> g.lon).filter { case (f, v) =>
          n == null || !n.has(f) || n.get(f).asDouble != v.toDouble } ++
        Seq("missing" -> "false").filter(_ => n == null || n.path("missing").asBoolean(true))
      if (bad.isEmpty) None else Some(s"geo ${bad.map(_._1).mkString(",")} want $g got $n")
  }

  def net(n: JsonNode, t: Option[NetTruth]): Option[String] = t match {
    case None =>
      if (n != null && n.path("missing").asBoolean(false) && !n.has("asn")) None
      else Some(s"network want missing, got $n")
    case Some(w) =>
      val systems =
        if (n == null || !n.has("systems")) Nil
        else (0 until n.get("systems").size).map { i =>
          val a = n.get("systems").get(i).get("asns")
          (0 until a.size).map(j => a.get(j).asLong)
        }
      val ok = n != null && str(n, "cidr") == w.cidr &&
        n.path("asn").asLong(-1) == w.asn && str(n, "as_name") == w.asName &&
        systems == w.systems && !n.path("missing").asBoolean(true)
      if (ok) None else Some(s"network want $w got $n")
  }

  /** Row counts per key against the truth's: one description per key
    * whose count differs (absent counts as none).
    */
  def counts[K](got: Map[K, Long], want: Map[K, Long]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.filter(k => got.get(k) != want.get(k))
      .map(k => s"$k got ${got.get(k)} want ${want.get(k)}")
}
