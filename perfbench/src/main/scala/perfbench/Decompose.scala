package perfbench

import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.api.Annotate
import graft.functions.IpFunctions.{ip_family, ip_to_bin, rewrite6to4}
import graft.operators.{RangeLookup, RangePayload, RangeStructLookup, Ranges}

/** The annotation pipeline timed stage by stage (traced run only):
  * listing → budgeted ingest → flatten → snapshot build (flatten +
  * dimension joins) → index build → parse → probe, each stage
  * materialized before the next, so a stage's time is its own.
  * Lookups/s/core are reported for the struct path (RangeStructLookup)
  * and the join path (RangeLookup); BASELINE's target is ≥ 10⁵.
  */
object Decompose {
  val Probes = 400000
  private val ProbeStream = 99L

  final class Mismatch(msg: String) extends RuntimeException(msg)

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def ms[T](ctx: Ctx, name: String)(body: => T): (T, Double) =
    ctx.trace.span(name) {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    }

  private def dataLines(path: String, gz: Boolean, header: Boolean): Long = {
    val in = new FileInputStream(path)
    val r = new BufferedReader(new InputStreamReader(
      if (gz) new GZIPInputStream(in) else in, "UTF-8"))
    try r.lines().count() - (if (header) 1 else 0) finally r.close()
  }

  /** Stage metrics over the earliest snapshot of `root`, and the
    * number of counts that disagreed with the generator (0 or 1).
    */
  def run(ctx: Ctx, gen: Gen, root: File,
      asNames: DataFrame): (Map[String, Double], Int) =
    try (stages(ctx, gen, root, asNames), 0)
    catch { case m: Mismatch =>
      System.err.println(s"[check] ${m.getMessage}")
      (Map.empty, 1)
    }

  private def stages(ctx: Ctx, gen: Gen, root: File,
      asNames: DataFrame): Map[String, Double] = ctx.trace.span("decompose") {
    val spark = ctx.spark
    import spark.implicits._
    val (drops, listMs) = ms(ctx, "sources.catalog") {
      Annotation.listNew(spark, root, Set.empty)
    }
    val drop = drops.head
    val k = Annotation.indexOf(gen, drop.date)
    val (in, ingestMs) = ms(ctx, "sources.ingest") {
      val in = Annotation.ingest(spark, drop)
      Annotation.Ingested(in.blocks.localCheckpoint(), in.locations.localCheckpoint(),
        in.pfx.localCheckpoint(), in.members)
    }
    val rowsIn = Seq("Blocks-IPv4", "Blocks-IPv6", "Locations-en")
      .map(m => dataLines(in.members(m), gz = false, header = true)).sum +
      dataLines(drop.pfx, gz = true, header = false)
    val rowsOut = in.blocks.count() + in.locations.count() + in.pfx.count()
    val injected = Seq("blocks-v4", "blocks-v6", "locations", "pfx2as")
      .map(gen.injectedInvalid).sum
    if (rowsIn - rowsOut != injected)
      throw new Mismatch(s"ingest rejected ${rowsIn - rowsOut} rows, injected $injected")

    val (_, flattenMs) = ms(ctx, "operators.flatten") {
      force(Ranges.flattenRanges(
        in.blocks.withColumn("__f", ip_family(col("lo"))), Seq("__f")))
    }
    val ((geoSnap, asnSnap), buildMs) = ms(ctx, "operators.snapshot_build") {
      (Annotate.buildGeoSnapshot(in.blocks, in.locations).localCheckpoint(),
        Annotate.buildAsnSnapshot(in.pfx, asNames).localCheckpoint())
    }
    val ((geoIdx, asnIdx), indexMs) = ms(ctx, "operators.index_build") {
      (RangeStructLookup.buildIndex(spark, geoSnap),
        RangeStructLookup.buildIndex(spark, asnSnap))
    }
    val indexRows = geoIdx._1.value.payloads.length + asnIdx._1.value.payloads.length

    val g = gen
    val facts = spark.range(Probes).mapPartitions(_.map(i => g.probe(ProbeStream, i).ip))
      .toDF("ip").localCheckpoint()
    val (_, parseMs) = ms(ctx, "functions.parse") {
      facts.agg(count(ip_to_bin(rewrite6to4(col("ip"))))).collect()
    }
    val parsed = facts.select(ip_to_bin(rewrite6to4(col("ip"))).as("bin"))
      .localCheckpoint()
    def payload(idx: (org.apache.spark.broadcast.Broadcast[graft.operators.RangeStructIndex],
        org.apache.spark.sql.types.StructType)): Column =
      GraftBridge.column(RangePayload(GraftBridge.expression(col("bin")), idx._1, idx._2))
    val (structHits, probeMs) = ms(ctx, "operators.probe_struct") {
      parsed.agg(count(payload(geoIdx)), count(payload(asnIdx))).collect()(0).getLong(0)
    }
    val (bc, withIdx) = RangeLookup.buildIndex(spark, geoSnap)
    val (joinHits, joinMs) = ms(ctx, "operators.probe_join") {
      parsed.withColumn(RangeLookup.IdxCol, RangeLookup.rangeSearch(col("bin"), bc))
        .join(broadcast(withIdx.drop("lo", "hi")), Seq(RangeLookup.IdxCol), "left")
        .agg(count(col("geo"))).collect()(0).getLong(0)
    }
    val truthHits = spark.range(Probes).mapPartitions(_.map { i =>
      if (g.geo(k, g.probe(ProbeStream, i)).isDefined) 1L else 0L
    }).agg(sum(col("value"))).collect()(0).getLong(0)
    if (structHits != truthHits || joinHits != truthHits)
      throw new Mismatch(s"geo hits struct=$structHits join=$joinHits truth=$truthHits")
    val perCore = (n: Double, tMs: Double) => n / (tMs / 1e3) / ctx.cpus
    Map(
      "sources.catalog_list_ms" -> listMs, "sources.ingest_ms" -> ingestMs,
      "sources.rows_in" -> rowsIn.toDouble,
      "sources.rows_rejected" -> (rowsIn - rowsOut).toDouble,
      "operators.flatten_ms" -> flattenMs, "operators.snapshot_build_ms" -> buildMs,
      "operators.index_build_ms" -> indexMs, "operators.index_rows" -> indexRows.toDouble,
      // two lookups (geo + network) per probe on the struct path
      "operators.probe_lookups_per_s_core" -> perCore(2.0 * Probes, probeMs),
      "operators.join_lookups_per_s_core" -> perCore(Probes, joinMs),
      "operators.hit_ratio" -> structHits.toDouble / Probes,
      "functions.parse_rows_per_s_core" -> perCore(Probes, parseMs))
  }
}
