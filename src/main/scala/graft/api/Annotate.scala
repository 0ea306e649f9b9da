package graft.api

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.Resolver
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  AttributeReference, BindReferences, GenericInternalRow, KnownNullable,
  NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
  LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType,
  DoubleType, LongType, StringType, StructField, StructType}

import graft.functions.IpFunctions._
import graft.operators.{RangeStructIndex, RangeStructLookup, Ranges}

/** The annotation pipeline (SURVEY §3): compose the range lookup (J1)
  * with dimension joins (J3/J4), family merge (J7), composite
  * enrichment (J8) and Missing defaulting (P16) into
  * `annotate(facts)` — the Spark shape of CompositeAnnotator.Annotate
  * (directory.go:40-58 → geo-ip.go:151-176 + asn-annotator.go:29-92).
  *
  * Snapshot tables are denormalized at *build* time (dimension joins
  * run once per snapshot over ~4 M rows, broadcast) so the fact-side
  * path is exactly: parse → one binary-search probe per range family
  * group → struct emit. At 100 TB of facts nothing shuffles. The
  * probe indexes over a snapshot pair ([[Indexes]]) are built once per
  * `Api.Snapshot`, at its first use, and live as long as it does.
  */
object Annotate {

  /** Build the geo snapshot: flatten blocks (v4 ∪ v6 — the two
    * families occupy disjoint regions of the 16-byte space, so one
    * sorted table serves both, replacing the reference's per-family
    * lists and the J7 merge), then attach locations with the
    * geoname → registered-country fallback (J3,
    * geo-ip-ip-loader.go:80-108).
    * Output: (lo, hi, geo STRUCT<…GeolocationIP fields…>).
    */
  def buildGeoSnapshot(blocks: DataFrame, locations: DataFrame): DataFrame = {
    // group the sequential flatten fold by IP family: v4-mapped and
    // native-v6 ranges occupy disjoint regions of the 16-byte space,
    // so per-family flattening yields the same table with 2× the
    // build parallelism (one task per family instead of one total)
    val flat = Ranges.flattenRanges(
      blocks.withColumn("__f", ip_family(col("lo"))), Seq("__f")).drop("__f")
    val l1 = locations.columns.foldLeft(locations)((d, c) =>
      d.withColumnRenamed(c, s"p_$c"))
    val l2 = locations.columns.foldLeft(locations)((d, c) =>
      d.withColumnRenamed(c, s"r_$c"))
    val joined = flat
      .join(broadcast(l1), col("geoname_id") === col("p_geoname_id"), "left")
      .join(broadcast(l2),
        col("registered_country_geoname_id") === col("r_geoname_id"), "left")
    def f(name: String): Column = // primary hit wins, else registered
      when(col("p_geoname_id").isNotNull, col(s"p_$name"))
        .otherwise(col(s"r_$name"))
    joined.select(col("lo"), col("hi"),
      struct(
        f("continent_code").as("continent_code"),
        f("country_iso_code").as("country_code"),
        lit("").as("country_code3"), // absent from GeoLite2 (geo-ip.go:109)
        f("country_name").as("country_name"),
        f("subdivision_1_iso_code").as("region"),
        f("subdivision_1_iso_code").as("subdivision1_iso_code"),
        f("subdivision_1_name").as("subdivision1_name"),
        f("subdivision_2_iso_code").as("subdivision2_iso_code"),
        f("subdivision_2_name").as("subdivision2_name"),
        coalesce(f("metro_code"), lit(0L)).as("metro_code"),
        f("city_name").as("city"),
        lit(0L).as("area_code"), // absent from GeoLite2 (geo-ip.go:120)
        col("postal_code").as("postal_code"),
        col("latitude").as("latitude"),
        col("longitude").as("longitude"),
        lit(false).as("missing")).as("geo"))
  }

  /** Build the network snapshot from pfx2as ranges + AS names:
    * flatten, decode systems (P9), reconstruct the CIDR from the
    * flattened bounds (asn-annotator.go:82 — the *flattened* node,
    * not the source prefix), pick best ASN (P10) and attach its name
    * (J4). Output: (lo, hi, network STRUCT<cidr, asn, as_name,
    * systems, missing>).
    */
  def buildAsnSnapshot(asnRanges: DataFrame, asNames: DataFrame): DataFrame = {
    // per-family grouping for build parallelism — see buildGeoSnapshot
    val flat = Ranges.flattenRanges(
      asnRanges.withColumn("__f", ip_family(col("lo"))), Seq("__f")).drop("__f")
    val decoded = flat
      .withColumn("systems", graft.sources.Ingest.decodeAsnSystems(
        col("asn_string")))
      .withColumn("asn", graft.sources.Ingest.bestAsn(col("systems")))
    decoded
      .join(broadcast(asNames), Seq("asn"), "left")
      .select(col("lo"), col("hi"),
        struct(
          range_to_cidr(col("lo"), col("hi")).as("cidr"),
          col("asn").as("asn"),
          coalesce(col("as_name"), lit("")).as("as_name"),
          col("systems").as("systems"),
          col("asn").isNull.as("missing")).as("network"))
  }

  /** The two broadcast payload indexes a snapshot pair is probed
    * through ([[RangeStructLookup.buildIndex]] over each table).
    */
  final case class Indexes(
      geo: (Broadcast[RangeStructIndex], StructType),
      asn: (Broadcast[RangeStructIndex], StructType))

  /** Read both snapshot tables once and broadcast their indexes. */
  def indexes(spark: SparkSession, geoSnapshot: DataFrame,
      asnSnapshot: DataFrame): Indexes =
    Indexes(RangeStructLookup.buildIndex(spark, geoSnapshot),
      RangeStructLookup.buildIndex(spark, asnSnapshot))

  /** Annotate facts with both snapshot groups (J8 composite): one
    * probe per group, first-writer-wins by construction (each group
    * owns its output struct), misses defaulted to {missing: true}
    * (P16, handler.go:66-76). Plans the probe and runs no job, so over
    * a local batch the whole projection folds to a local relation on
    * the driver.
    *
    * @param ipStr string IP column; 2002::/16 addresses are 6to4-
    *              rewritten first (handler.go:211-214)
    */
  def annotate(facts: DataFrame, ipStr: Column, idx: Indexes): DataFrame =
    annotatePicked(facts, ipStr, probe => probe(idx))

  /** [[annotate]] of one string IP, evaluated on the driver with no
    * query: [[annotateWith]]'s plan over a one-column relation, analyzed
    * once, its parse bound to that column and each group's emitted
    * column bound to the parse's output. Evaluation is interpreted and
    * only reads the expressions and the broadcast indexes, so one
    * instance serves concurrent request threads.
    */
  final class Annotator private[api] (plan: LogicalPlan) {
    private val (emitted, parsed, input) = plan match {
      case Project(e, p @ Project(_, in)) =>
        (e.collect { case a: Alias => a }, p, in)
    }
    private val parse =
      BindReferences.bindReference(parsed.projectList.last, input.output)
    private val groups =
      emitted.map(BindReferences.bindReference(_, parsed.output))

    /** [[annotate]] of `rows`, a local batch whose columns are `output`
      * and whose string IP is column `ip`, as one analyzed local
      * relation: the plan path's columns, order, types and nullability,
      * a column named like a group replaced in place under the
      * session's resolver. `cols(i)` is the ordinal of `output(i)` in
      * the rows.
      */
    def annotate(spark: SparkSession, output: Seq[Attribute], cols: Seq[Int],
        rows: Seq[InternalRow], ip: Int): DataFrame = {
      val added = emitted.map(_.toAttribute.newInstance())
      val out = placed(output, added,
        castToImpl(spark).sessionState.conf.resolver).map(_.toAttribute)
      // each output column: (its group, or -1; its batch column, or -1)
      val from = out.map(a => (added.indexOf(a), output.indexOf(a)))
      val data = rows.map { r =>
        val ipStr = r.getUTF8String(cols(ip))
        val bin = parse.eval(InternalRow(ipStr))
        val values = groups.map(_.eval(InternalRow(ipStr, bin)))
        new GenericInternalRow(from.map { case (g, i) =>
          if (g >= 0) values(g) else r.get(cols(i), output(i).dataType)
        }.toArray)
      }
      GraftBridge.ofAnalyzed(spark, LocalRelation(out, data))
    }
  }

  /** The [[Annotator]] over `idx`: analyzes one plan, runs no job. */
  def annotator(spark: SparkSession, idx: Indexes): Annotator = {
    val ip = GraftBridge.ofRows(spark,
      LocalRelation(AttributeReference("ip", StringType)()))
    new Annotator(castToImpl(annotate(ip, col("ip"), idx)).queryExecution.analyzed)
  }

  /** [[annotate]] through the indexes `pick` chooses per row:
    * `pick(probe)` is the column of `probe(indexes)` over the row's
    * indexes, e.g. a `CaseWhen` over several snapshots' probes.
    */
  private[api] def annotatePicked(facts: DataFrame, ipStr: Column,
      pick: (Indexes => Column) => Column): DataFrame =
    annotateWith(facts, ipStr, Seq(
      ("geo", bin => pick(i => RangeStructLookup.payload(bin, i.geo)),
        missingGeo),
      ("network", bin => pick(i => RangeStructLookup.payload(bin, i.asn)),
        missingNetwork)))

  /** One analyzed plan, `Project(emitted, Project(facts :+ __ip_bin,
    * facts))`: parse each IP once, then emit the fact columns plus
    * each (name, payload, missing) group's field `name` of
    * `payload(__ip_bin)`, or `missing` where that is NULL (one probe
    * per row), replacing a
    * fact column `name` in place under the session's resolver
    * (`withColumn`). Built over the facts' analyzed plan and analyzed
    * once, by `ofRows`. The probes reach `__ip_bin` by its alias's
    * `exprId`, so a fact column of that name cannot shadow it.
    * Columns go through the session's converter, which expands nested
    * column nodes the analyzer alone leaves unresolved.
    */
  private def annotateWith(facts: DataFrame, ipStr: Column,
      groups: Seq[(String, Column => Column, Column)]): DataFrame = {
    val spark = castToImpl(facts.sparkSession)
    val input = castToImpl(facts).queryExecution.analyzed
    val same = spark.sessionState.conf.resolver
    val bin =
      Alias(spark.expression(ip_to_bin(rewrite6to4(ipStr))), "__ip_bin")()
    val binRef = GraftBridge.column(
      AttributeReference(bin.name, BinaryType)(exprId = bin.exprId))
    // coalesce evaluates the probe once per row; KnownNullable keeps
    // the column nullable, as the probe's own result is
    val emitted = groups.map { case (name, payload, missing) =>
      Alias(KnownNullable(spark.expression(
        coalesce(payload(binRef).getField(name), missing))), name)()
    }
    GraftBridge.ofRows(spark, Project(placed(input.output, emitted, same),
      Project(input.output :+ bin, input)))
  }

  /** `facts` then `emitted`, each emitted column taking the place of a
    * fact column of its name under `same` (as `withColumn` does).
    */
  private def placed(facts: Seq[NamedExpression],
      emitted: Seq[NamedExpression], same: Resolver): Seq[NamedExpression] =
    facts.map(a => emitted.find(e => same(a.name, e.name)).getOrElse(a)) ++
      emitted.filterNot(e => facts.exists(a => same(a.name, e.name)))

  /** S11 end-to-end legacy path, build side: flatten the legacy range
    * table ([[graft.sources.Ingest.legacyGeo]]), join FIPS→ISO for
    * the subdivision remap, round lat/lon to 3 decimals, and emit the
    * same 16-field geo struct the modern snapshot carries — so
    * [[routeByCutoff]] can union both branches. Mirrors
    * legacy/legacy-dataset.go:129-166: country_code3 / area_code
    * filled, region = FIPS code, subdivision from
    * fips2ISOMap[fipsKey(country, region)] with missing → "".
    */
  def buildLegacySnapshot(legacy: DataFrame, fips: DataFrame): DataFrame = {
    val flat = Ranges.flattenRanges(
      legacy.withColumn("__f", ip_family(col("lo"))), Seq("__f")).drop("__f")
    flat
      .withColumn("fips_key",
        concat_ws("-", col("country_code"), col("region")))
      .join(broadcast(fips), Seq("fips_key"), "left")
      .select(col("lo"), col("hi"),
        struct(
          col("continent_code").as("continent_code"),
          col("country_code").as("country_code"),
          col("country_code3").as("country_code3"),
          col("country_name").as("country_name"),
          col("region").as("region"),
          coalesce(col("region_iso_code"), lit(""))
            .as("subdivision1_iso_code"),
          coalesce(col("region_name"), lit("")).as("subdivision1_name"),
          lit("").as("subdivision2_iso_code"),
          lit("").as("subdivision2_name"),
          col("metro_code").as("metro_code"),
          col("city").as("city"),
          col("area_code").as("area_code"),
          col("postal_code").as("postal_code"),
          round(col("latitude"), 3).as("latitude"),
          round(col("longitude"), 3).as("longitude"),
          lit(false).as("missing")).as("geo"))
  }

  /** S11 fact-side legacy annotation: same zero-join probe as the
    * modern path, geo-only (the legacy annotator carries no network
    * data — legacy-dataset.go:129-166 fills api.GeoData.Geo alone).
    */
  def annotateLegacy(spark: SparkSession, facts: DataFrame, ipStr: Column,
      legacySnapshot: DataFrame): DataFrame = {
    val index = RangeStructLookup.buildIndex(spark, legacySnapshot)
    annotateWith(facts, ipStr,
      Seq(("geo", RangeStructLookup.payload(_, index), missingGeo)))
  }

  /** A struct of typed NULL fields and `missing = true`. */
  private def placeholder(fields: (String, DataType)*): Column =
    struct(fields.map { case (n, t) => lit(null).cast(t).as(n) } :+
      lit(true).as("missing"): _*)

  /** {Missing: true} geo placeholder (api.go:50, handler.go:66-76). */
  val missingGeo: Column = placeholder(
    "continent_code" -> StringType, "country_code" -> StringType,
    "country_code3" -> StringType, "country_name" -> StringType,
    "region" -> StringType, "subdivision1_iso_code" -> StringType,
    "subdivision1_name" -> StringType, "subdivision2_iso_code" -> StringType,
    "subdivision2_name" -> StringType, "metro_code" -> LongType,
    "city" -> StringType, "area_code" -> LongType,
    "postal_code" -> StringType, "latitude" -> DoubleType,
    "longitude" -> DoubleType)

  /** {Missing: true} network placeholder (api.go:106). */
  val missingNetwork: Column = placeholder(
    "cidr" -> StringType, "asn" -> LongType, "as_name" -> StringType,
    "systems" -> ArrayType(StructType(Seq(
      StructField("asns", ArrayType(LongType))))))

  /** J6 site-network annotation: mask the request IP to /26 (v4) or
    * /64 (v6) and exact-match the broadcast siteinfo dimension
    * (site.go:120-147). Misses keep NULL site columns.
    */
  def annotateSite(facts: DataFrame, ipStr: Column,
      sites: DataFrame): DataFrame = {
    val masked = facts.withColumn("__site_cidr",
      ip_mask_cidr(ip_to_bin(rewrite6to4(ipStr))))
    // canonicalize the dimension key instead of matching the raw cidr
    // string — the reference parses both sides (net.ParseCIDR →
    // .String(), site.go:120-147), so uppercase/uncompressed v6 or
    // host bits set in siteinfo must still match. cidr_canonical
    // normalizes FORMATTING while preserving the entry's own prefix
    // length: a site declared at /28 renders "/28" and (exactly like
    // the reference) never equals the /26 fact-side mask — re-masking
    // the base address to /26 here would silently widen such a site
    // to the whole /26
    masked
      .join(broadcast(sites
          .withColumn("__site_cidr", cidr_canonical(col("cidr")))
          .drop("cidr")),
        Seq("__site_cidr"), "left")
      .drop("__site_cidr")
  }

  /** J5 + P14 legacy enrichment: (country, FIPS region) → ISO
    * subdivision (missing → empty strings, legacy-dataset.go:148-164)
    * and 3-decimal lat/lon rounding (legacy-dataset.go:203-209).
    */
  def legacyEnrich(geoRows: DataFrame, fips: DataFrame,
      countryCol: String = "country_code", regionCol: String = "region",
      latCol: String = "latitude", lonCol: String = "longitude"): DataFrame =
    geoRows
      .withColumn("fips_key", concat_ws("-", col(countryCol), col(regionCol)))
      .join(broadcast(fips), Seq("fips_key"), "left")
      .withColumn("region_iso_code", coalesce(col("region_iso_code"), lit("")))
      .withColumn("region_name", coalesce(col("region_name"), lit("")))
      .withColumn(latCol, round(col(latCol), 3))
      .withColumn(lonCol, round(col(lonCol), 3))
      .drop("fips_key")

  /** F2 routing: facts dated before the cutoff go through the legacy
    * pipeline, the rest through the modern one; results union
    * (geoloader.go:34,264-268 — cutoff 2017-08-15).
    */
  def routeByCutoff(facts: DataFrame, dateCol: Column,
      cutoff: java.sql.Date,
      legacy: DataFrame => DataFrame,
      modern: DataFrame => DataFrame): DataFrame =
    legacy(facts.filter(dateCol < lit(cutoff)))
      .unionByName(modern(facts.filter(dateCol >= lit(cutoff))))
}
