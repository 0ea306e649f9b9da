package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Date
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.api.Api
import graft.sources.Ingest
import graft.streaming.Streaming

/** Closed-loop v2 service: [[Clients]] threads each send the next
  * batch request only after the previous reply. Before the clock
  * starts, one refresher lands a new monthly snapshot and swaps it in
  * through `DirectoryRef.refresh` while the clients' requests run.
  * Per-call fixed costs dominate here: index rebuild from the lazy
  * snapshot, job scheduling and JSON rendering.
  */
object AnnotateService extends Workload {
  val Clients = 3
  val InitialSnapshots = 4
  /** The reference client's deadline (api-v2.go:311). */
  val DeadlineMs = 10000.0
  val shape = Shape(v4Blocks = 4000, v6Blocks = 200, locations = 2000,
    asNames = 1000)

  final class State(val root: File, val staging: File, val gen: Gen,
      val asNames: DataFrame, val ref: Streaming.DirectoryRef,
      val loaded: AtomicReference[Set[String]])

  final case class Reply(latencyMs: Double, ips: Int, ok: Boolean,
      annotateMs: Double, jsonMs: Double)

  /** The reference-layout tree with the initial snapshots. */
  private def prepare(ctx: Ctx): (File, Gen) = Main.step("inputs") {
    val root = new File(ctx.dir("service/inputs"), "tree")
    val gen = Gen(ctx.seed, shape)
    (0 until InitialSnapshots).foreach(k => gen.writeSnapshot(root, k))
    gen.writeAsNames(new File(root, Annotation.AsNamesPath))
    (root, gen)
  }

  /** Load the directory from the tree's first `snapshots`. */
  def setup(ctx: Ctx, root: File, gen: Gen, snapshots: Int): State = {
    val asNames = Ingest.asNames(ctx.spark,
      new File(root, Annotation.AsNamesPath).getPath)
    val drops = Annotation.listNew(ctx.spark, root, Set.empty).take(snapshots)
    require(drops.length == snapshots, s"accepted ${drops.length} snapshots")
    val ref = new Streaming.DirectoryRef(Api.Directory(
      drops.map(Annotation.snapshot(ctx.spark, _, asNames))))
    new State(root, ctx.dir("service/staging"), gen, asNames, ref,
      new AtomicReference(drops.flatMap(d => Seq(d.zip, d.pfx)).toSet))
  }

  /** The full set-up plus one request: compiles every plan set-up and
    * the measured phase run.
    */
  private def warmUp(ctx: Ctx, root: File, gen: Gen): Reply =
    request(ctx, setup(ctx, root, gen, InitialSnapshots), Long.MaxValue, 0,
      new Date(0), 50, _ => ())

  /** One v2 request: `n` IPs of stream `client` starting at `seq`. */
  def request(ctx: Ctx, st: State, client: Long, seq: Long, date: Date, n: Int,
      served: Date => Unit): Reply = {
    import ctx.spark.implicits._
    val probes = (0 until n).map(i => st.gen.probe(client, seq + i))
    val t0 = System.nanoTime()
    val dir = st.ref.get
    val pick = dir.forDate(date).date
    val annotated = ctx.trace.span("api.annotateV2") {
      Api.annotateV2(ctx.spark, dir, date, probes.map(_.ip).toDF("ip"))
    }
    val t1 = System.nanoTime()
    val body = ctx.trace.span("api.toV2ResponseJson") {
      Api.toV2ResponseJson(annotated, pick)
    }
    val t2 = System.nanoTime()
    served(pick)
    val ok = ctx.trace.span("check") {
      check(st.gen, dir.snapshots.map(_.date), date, probes, body)
    }
    Reply((t2 - t0) / 1e6, n, ok, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }

  private def check(gen: Gen, dates: Seq[Date], date: Date, probes: Seq[Probe],
      body: String): Boolean = {
    val doc = Check.parse(body)
    val want = Annotation.expectedPick(dates, date)
    val problems =
      if (doc.path("AnnotatorDate").asText != want.toString)
        Seq(s"AnnotatorDate ${doc.path("AnnotatorDate")} want $want")
      else {
        val k = Annotation.indexOf(gen, want)
        val ann = doc.path("Annotations")
        probes.distinct.flatMap { p =>
          val a = ann.get(p.ip)
          if (a == null) Seq(s"${p.ip} absent")
          else (Check.geo(a.get("Geo"), gen.geo(k, p)) ++
            Check.net(a.get("Network"), gen.net(k, p))).map(p.ip + ": " + _)
        }
      }
    problems.take(3).foreach(m => System.err.println(s"[check] $m"))
    problems.isEmpty
  }

  /** Batch sizes over the reference's buckets <5/5+/20+/100+/400+
    * (handler.go:270-283), weighted 30/25/20/15/10% with the last bucket
    * capped at 599 IPs. The weights and the cap are assumptions: the
    * reference gives only the bucket edges. Buckets follow a
    * fixed cycle (each client at its own offset) and only the size
    * within a bucket is random, so the IPs answered in a run do not
    * swing with how many large batches a seed happens to draw.
    */
  private val BucketCycle = Array(0, 1, 2, 0, 3, 1, 0, 4, 2, 1, 0, 3, 0, 2, 1, 4, 0, 3, 1, 2)
  private val Buckets = Array((1, 4), (5, 15), (20, 80), (100, 300), (400, 200))

  private def batchSize(gen: Gen, client: Long, seq: Long): Int = {
    val (lo, span) = Buckets(BucketCycle(((seq + client * 7) % BucketCycle.length).toInt))
    lo + java.lang.Long.remainderUnsigned(
      Gen.mix(gen.seed * 31 + client * 1000003 + seq), span).toInt
  }

  /** Request dates: 15% before the first snapshot (clamped), 60% spread
    * over the initial snapshots' months, 25% "today" (the newest
    * snapshot, so refreshed data is served). An assumed mix: no
    * observed distribution of request dates is available.
    */
  private def requestDate(gen: Gen, client: Long, seq: Long): Date = {
    val r = Gen.mix(gen.seed * 17 + client * 7919 + seq * 104729)
    val u = java.lang.Long.remainderUnsigned(r, 100)
    if (u < 15) Date.valueOf("2019-06-15")
    else if (u < 75) {
      val k = java.lang.Long.remainderUnsigned(r >>> 8, InitialSnapshots).toInt
      Date.valueOf(gen.date(k).toLocalDate.plusDays(
        java.lang.Long.remainderUnsigned(r >>> 16, 28)))
    } else Date.valueOf("2030-01-01")
  }

  def run(ctx: Ctx): Result = {
    val (root, gen) = prepare(ctx)
    val (warm, st, setupS) = Main.timedSetup(warmUp(ctx, root, gen))(
      setup(ctx, root, gen, InitialSnapshots))
    if (ctx.traced) ctx.startTracing()
    val before = ctx.counters()
    val replies, untimed = new ConcurrentLinkedQueue[Reply]()
    val refreshMs = new ConcurrentLinkedQueue[Double]()
    val landed = new java.util.concurrent.ConcurrentHashMap[Date, java.lang.Long]()
    val toServe = new ConcurrentLinkedQueue[Double]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    def served(d: Date): Unit = Option(landed.remove(d)).foreach { t =>
      toServe.add((System.nanoTime() - t) / 1e9)
    }
    // the clients send untimed requests while the refresher lands and
    // swaps in one snapshot; then the clock starts. Refreshes that
    // overlapped part of the timed window made its median request
    // bimodal (spread 0.27 of the median over ten seeds), so none runs
    // inside it.
    val refreshed = new java.util.concurrent.atomic.AtomicBoolean
    val t0, wall0 = new AtomicLong
    val barrier = new CyclicBarrier(Clients + 1, () => {
      t0.set(System.nanoTime()); wall0.set(System.currentTimeMillis())
    })
    def deadline = t0.get + (ctx.seconds * 1e9).toLong
    val lastDone = new AtomicLong
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try ctx.trace.span(name)(body)
        catch { case e: Throwable =>
          errors.add(e); refreshed.set(true); barrier.reset()
        },
        s"perfbench-$name")
      t.start(); t
    }
    val clients = (0 until Clients).map { c =>
      thread(s"client$c") {
        var seq = 0L
        while (!refreshed.get) {
          untimed.add(request(ctx, st, c, seq << 12, requestDate(st.gen, c, seq),
            batchSize(st.gen, c, seq), served))
          seq += 1
        }
        barrier.await()
        while (System.nanoTime() < deadline) {
          val n = batchSize(st.gen, c, seq)
          val r = ctx.trace.span("request", req = (c.toLong << 32) | seq) {
            request(ctx, st, c, seq << 12, requestDate(st.gen, c, seq), n, served)
          }
          replies.add(r)
          lastDone.accumulateAndGet(System.nanoTime(), math.max)
          seq += 1
        }
      }
    }
    val refresher = thread("refresher") {
      val k = InitialSnapshots
      val files = st.gen.writeSnapshot(st.staging, k)
      val tLand = System.nanoTime()
      ctx.trace.span("land") { land(st, files) }
      landed.put(st.gen.date(k), tLand)
      ctx.trace.span("streaming.refresh") {
        st.ref.refresh { () =>
          val drops = ctx.trace.span("sources.catalog") {
            Annotation.listNew(ctx.spark, st.root, st.loaded.get)
          }
          val snaps = ctx.trace.span("sources.ingest") {
            drops.map(Annotation.snapshot(ctx.spark, _, st.asNames))
          }
          st.loaded.updateAndGet(_ ++ drops.flatMap(d => Seq(d.zip, d.pfx)))
          Api.Directory(st.ref.get.snapshots ++ snaps)
        }
      }
      refreshMs.add((System.nanoTime() - tLand) / 1e6)
      refreshed.set(true)
      barrier.await()
    }
    (clients :+ refresher).foreach(_.join())
    errors.asScala.headOption.foreach(e => throw e)
    val wallS = (lastDone.get - t0.get) / 1e9
    val after = ctx.counters()
    val wall1 = System.currentTimeMillis()
    val rs = replies.asScala.toSeq
    val lat = rs.map(_.latencyMs)
    val good = rs.filter(r => r.ok && r.latencyMs <= DeadlineMs)
    val heap = Main.liveHeapMb()
    val tail = Stats.tail(lat).fold("no tail percentile has 10 samples beyond it") {
      case (p, ms) => f"highest tail with 10 samples beyond: p$p%.0f=$ms%.1fms"
    }
    System.err.println(f"[annotate_service] requests=${rs.length} " +
      f"p50=${Stats.median(lat)}%.1fms p75=${Stats.percentile(lat, 75)}%.1fms " +
      s"($tail) refreshes=${refreshMs.size} served-after-refresh=${toServe.size}")
    val e2e = Map("setup_s" -> setupS, "op_p50_ms" -> Stats.median(lat),
      "live_heap_mb" -> heap)
    val (stageMetrics, stageFailed) =
      if (ctx.traced) Decompose.run(ctx, st.gen, st.root, st.asNames)
      else (Map.empty[String, Double], 0)
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val spans = ctx.trace.spans
        Layers.zero(ctx) ++ Layers.sparkDeltas(before, after) ++ Map(
          "spark.driver_gap_ms" -> ctx.sparkStats.idleMs(wall0.get, wall1).toDouble,
          "service.requests" -> rs.length.toDouble,
          "service.request_p75_ms" -> Stats.percentile(lat, 75),
          "service.goodput_rps" -> good.length / wallS,
          "service.ips_per_s" -> good.map(_.ips).sum / wallS,
          "service.refresh_to_serve_s" ->
            (if (toServe.isEmpty) 0.0 else Stats.median(toServe.asScala.toSeq)),
          "api.annotate_call_ms" -> Stats.median(rs.map(_.annotateMs)),
          "api.response_json_ms" -> Stats.median(rs.map(_.jsonMs)),
          "streaming.refresh_ms" -> medianOr0(refreshMs.asScala.toSeq),
          "trace.op_p50_ms" -> Stats.median(lat),
          "trace.spans" -> spans.length.toDouble,
          "trace.layer_coverage" -> Tracer.coverage(spans,
            (0 until Clients).map(c => s"client$c").toSet, t0.get, lastDone.get)) ++
          stageMetrics
      }
    if (ctx.traced) Layers.writeSpans(ctx, "annotate_service")
    val checked = warm +: (rs ++ untimed.asScala)
    Result(checked.length.toLong + (if (ctx.traced) 1 else 0),
      checked.count(!_.ok).toLong + stageFailed, e2e, layers)
  }

  private def medianOr0(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Move staged files into the tree, each with an atomic rename. */
  private def land(st: State, files: Seq[File]): Unit = files.foreach { f =>
    val rel = st.staging.toPath.relativize(f.toPath)
    val dst = st.root.toPath.resolve(rel)
    Files.createDirectories(dst.getParent)
    Files.move(f.toPath, dst, StandardCopyOption.ATOMIC_MOVE)
  }
}
