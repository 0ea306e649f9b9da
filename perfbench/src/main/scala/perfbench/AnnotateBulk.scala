package perfbench

import java.io.File
import java.sql.Date

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.api.Api
import graft.sources.Ingest
import graft.streaming.Streaming

/** Bulk annotation: one client streams a parquet `(ip, date)` fact
  * table through `Streaming.annotateStreamTo` with
  * `Trigger.AvailableNow`, a few large micro-batches, into a parquet
  * sink. Per-row cost dominates: parse, probe, struct assembly and
  * sink. The snapshots are materialized in set-up, so the index builds
  * (once per date group per micro-batch) are a minor share: a change
  * that caches indexes should barely move this workload while a
  * probe-kernel change should.
  */
object AnnotateBulk extends Workload {
  /** Fact rows per date: two dates, one per snapshot. */
  val RowsPerDay = 75000L
  val Rows: Long = 2 * RowsPerDay
  val FilesPerDate = 2
  val shape = AnnotateService.shape
  private val FactStream = 7L
  /** One request date inside each of the two snapshots. */
  private def dates(gen: Gen): Seq[Date] =
    Seq(0, 1).map(k => Date.valueOf(gen.date(k).toLocalDate.plusDays(10)))

  val factSchema: StructType = StructType(Seq(
    StructField("ip", StringType), StructField("date", DateType)))

  final class Inputs(val root: File, val gen: Gen, val facts: File)
  final class State(val base: File, val in: Inputs, val asNames: DataFrame,
      val ref: Streaming.DirectoryRef)

  /** Write the fact table, row i carrying date i / RowsPerDay, one
    * day's files after another: each day's files are older than the
    * next day's, so the stream's `maxFilesPerTrigger` micro-batches
    * each carry one date.
    */
  private def writeFacts(ctx: Ctx, gen: Gen, dir: File): Unit = {
    import ctx.spark.implicits._
    val ds = dates(gen)
    val now = System.currentTimeMillis()
    ds.indices.foreach { d =>
      val day = new File(dir, s"day=$d")
      ctx.spark.range(d * RowsPerDay, (d + 1) * RowsPerDay)
        .map(i => gen.probe(FactStream, i).ip).toDF("ip")
        .withColumn("date", lit(ds(d)))
        .repartition(FilesPerDate).write.parquet(day.getPath)
      day.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dst = new File(dir, s"d$d-${f.getName}")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(now - (ds.length - d) * 60000L)
      }
      Main.rmTree(day)
    }
  }

  private def prepare(ctx: Ctx): Inputs = Main.step("inputs") {
    val base = ctx.dir("bulk/inputs")
    val root = new File(base, "tree")
    val gen = Gen(ctx.seed, shape)
    Seq(0, 1).foreach(k => gen.writeSnapshot(root, k))
    gen.writeAsNames(new File(root, Annotation.AsNamesPath))
    val in = new Inputs(root, gen, new File(base, "facts"))
    writeFacts(ctx, gen, in.facts)
    in
  }

  /** Load the directory from the tree's first `snapshots`,
    * materializing each snapshot table once: Annotate builds the
    * denormalized tables once per snapshot, and a bulk job reuses them
    * for every row.
    */
  def setup(ctx: Ctx, in: Inputs, snapshots: Int): State = {
    val asNames = Ingest.asNames(ctx.spark,
      new File(in.root, Annotation.AsNamesPath).getPath)
    val drops = Annotation.listNew(ctx.spark, in.root, Set.empty).take(snapshots)
    require(drops.length == snapshots, s"accepted ${drops.length} snapshots")
    val ref = new Streaming.DirectoryRef(Api.Directory(drops.map { d =>
      val s = Annotation.snapshot(ctx.spark, d, asNames)
      s.copy(geo = s.geo.localCheckpoint(), asn = s.asn.localCheckpoint())
    }))
    new State(ctx.dir("bulk/run"), in, asNames, ref)
  }

  /** The full set-up plus one pass over the fact table: compiles every
    * plan set-up and the measured passes run and warms their code.
    * Returns the pass's disagreements with `want`.
    */
  private def warmUp(ctx: Ctx, in: Inputs, want: Map[Key, Long]): Seq[String] = {
    val st = setup(ctx, in, 2)
    Check.counts(observed(ctx, pass(ctx, st, in.facts, "warm").out), want)
  }

  final case class Pass(seconds: Double, out: File, batches: Seq[(Double, Double)],
      dateGroups: Int)

  /** One AvailableNow stream over `input` into a fresh parquet dir. */
  def pass(ctx: Ctx, st: State, input: File, name: String): Pass = {
    val out = new File(st.base, s"out-$name")
    val ck = new File(st.base, s"ck-$name")
    var groups = 0
    val t0 = System.nanoTime()
    val q = ctx.trace.span("streaming.pass") {
      val q = Streaming.annotateStreamTo(ctx.spark,
        ctx.spark.readStream.schema(factSchema)
          .option("maxFilesPerTrigger", FilesPerDate).parquet(input.getPath),
        st.ref, (df, _) => {
          groups += 1
          ctx.trace.span("sink") { df.write.mode("append").parquet(out.getPath) }
        })
        .option("checkpointLocation", ck.getPath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    val secs = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    val batches = q.recentProgress.filter(_.numInputRows > 0).map { p =>
      (p.batchDuration.toDouble,
        Option(p.durationMs.get("addBatch")).fold(0.0)(_.doubleValue))
    }.toSeq
    Pass(secs, out, batches, groups)
  }

  /** (date, country, asn, geo missing, network missing) → rows. */
  private type Key = (Date, String, java.lang.Long, Boolean, Boolean)

  private def truth(ctx: Ctx, gen: Gen): Map[Key, Long] = {
    import ctx.spark.implicits._
    val ds = dates(gen)
    val ks = ds.map(Annotation.expectedPick(ds.indices.map(gen.date), _))
      .map(Annotation.indexOf(gen, _))
    ctx.spark.range(Rows).mapPartitions(_.map { i =>
      val p = gen.probe(FactStream, i)
      val d = (i / RowsPerDay).toInt
      val g = gen.geo(ks(d), p)
      val n = gen.net(ks(d), p)
      (ds(d), g.map(_.country).orNull, n.map(x => java.lang.Long.valueOf(x.asn)).orNull,
        g.isEmpty, n.isEmpty)
    }).toDF("date", "country", "asn", "gm", "nm")
      .groupBy("date", "country", "asn", "gm", "nm").count().collect()
      .map(r => (r.getDate(0), r.getString(1),
        if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)),
        r.getBoolean(3), r.getBoolean(4)) -> r.getLong(5)).toMap
  }

  private def observed(ctx: Ctx, out: File): Map[Key, Long] =
    ctx.spark.read.parquet(out.getPath)
      .groupBy(col("date"), col("geo.country_code"), col("network.asn"),
        col("geo.missing"), col("network.missing")).count().collect()
      .map(r => (r.getDate(0), r.getString(1),
        if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)),
        r.getBoolean(3), r.getBoolean(4)) -> r.getLong(5)).toMap

  def run(ctx: Ctx): Result = {
    val in = prepare(ctx)
    val want = truth(ctx, in.gen)
    val (warm, st, setupS) = Main.timedSetup(warmUp(ctx, in, want))(setup(ctx, in, 2))
    if (ctx.traced) ctx.startTracing()
    val passes = ArrayBuffer.empty[Pass]
    var failed = 0
    def verdict(problems: Seq[String]): Unit = {
      if (problems.nonEmpty) failed += 1
      problems.take(3).foreach(m => System.err.println(s"[check] $m"))
    }
    def checked(p: Pass): Unit = {
      verdict(ctx.trace.span("check") { Check.counts(observed(ctx, p.out), want) })
      Main.rmTree(p.out)
    }
    verdict(warm)
    // the first pass after set-up runs slower than the rest; it is
    // checked but not timed, then the clock starts
    val first = pass(ctx, st, in.facts, "first")
    checked(first)
    val before = ctx.counters()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    // a pass starts only if it can end by the deadline at the pace of
    // the last one, so a run measures about `seconds`; at least one runs
    def fits = passes.isEmpty || System.nanoTime() +
      (passes.last.seconds * 1e9).toLong <= deadline
    ctx.trace.span("client") {
      while (fits) {
        val p = pass(ctx, st, in.facts, s"p${passes.length}")
        passes += p
        checked(p)
      }
    }
    val t1 = System.nanoTime()
    val wall1 = System.currentTimeMillis()
    val after = ctx.counters()
    val heap = Main.liveHeapMb()
    val secs = passes.map(_.seconds).toSeq
    System.err.println(f"[annotate_bulk] passes=${passes.length} " +
      f"median=${Stats.median(secs)}%.2fs rows=$Rows")
    val e2e = Map("setup_s" -> setupS,
      "op_p50_ms" -> Stats.median(secs) * 1e3, "live_heap_mb" -> heap)
    val (stageMetrics, stageFailed) =
      if (ctx.traced) Decompose.run(ctx, in.gen, in.root, st.asNames)
      else (Map.empty[String, Double], 0)
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val spans = ctx.trace.spans
        val batches = passes.flatMap(_.batches).toSeq
        Layers.zero(ctx) ++ Layers.sparkDeltas(before, after) ++ Map(
          "spark.driver_gap_ms" -> ctx.sparkStats.idleMs(wall0, wall1).toDouble,
          "streaming.batches" -> batches.length.toDouble / passes.length,
          "streaming.batch_ms" -> Stats.median(batches.map(_._1)),
          "streaming.add_batch_ms" -> Stats.median(batches.map(_._2)),
          "streaming.date_groups" -> passes.map(_.dateGroups).sum.toDouble / passes.length,
          "bulk.rows_per_s" -> Rows / Stats.median(secs),
          "trace.op_p50_ms" -> Stats.median(secs) * 1e3,
          "trace.spans" -> spans.length.toDouble,
          "trace.layer_coverage" -> Tracer.coverage(spans, Set("client"), t0, t1)) ++
          stageMetrics
      }
    if (ctx.traced) Layers.writeSpans(ctx, "annotate_bulk")
    Result(passes.length.toLong + 2 + (if (ctx.traced) 1 else 0),
      failed.toLong + stageFailed, e2e, layers)
  }
}
