package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and budget, the
  * scratch directory it owns, and the recorders of the traced run.
  */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Double, val traced: Boolean, val work: File,
    val layerNames: Seq[String]) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  val sparkStats = new SparkStats
  val planStats = new PlanStats
  spark.sparkContext.addSparkListener(sparkStats)
  spark.listenerManager.register(planStats)
  private var tracer = new Tracer(spark.sparkContext, on = false)
  def trace: Tracer = tracer
  /** Switch span recording on for what follows (traced run only). */
  def startTracing(): Unit = tracer = new Tracer(spark.sparkContext, on = true)

  def dir(name: String): File = {
    val d = new File(work, name)
    Main.rmTree(d)
    d.mkdirs()
    d
  }

  /** Drain the listener bus and read every engine-side counter. */
  def counters(): Map[String, Double] = {
    SparkStats.drain(spark.sparkContext)
    val reg = graft.metrics.Metrics.registry.snapshot
    sparkStats.snapshot ++ planStats.snapshot ++ Map(
      "registry.queries_total" -> reg.getOrElse("queries_total", 0L).toDouble,
      "registry.query_ms_total" ->
        reg.getOrElse("query_nanos_total", 0L) / 1e6,
      "registry.request_batches" -> reg.collect {
        case (k, v) if k.startsWith("request_time_hist") => v
      }.sum.toDouble)
  }
}

/** What one workload run measured. `endToEnd` comes from the untraced
  * pass; `layers` only from a traced run.
  */
final case class Result(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], layers: Map[String, Double])

/** A workload: builds its inputs (timed as set-up), then drives the
  * engine through its public functions for the measured seconds.
  */
trait Workload {
  def run(ctx: Ctx): Result
}

object Main {
  val SetupRepeats = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload: Workload = opt("--workload") match {
      case "annotate_service" => AnnotateService
      case "annotate_bulk" => AnnotateBulk
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val work = new File(opt("--work")).getAbsoluteFile
    val spark = session(work)
    try {
      val ctx = new Ctx(spark, opt("--seed").toLong, opt("--seconds").toDouble,
        opt("--trace") == "1", work, Layers.names(new File(opt("--spec"))))
      val r = workload.run(ctx)
      println("PERFBENCH_RESULT " + json(r, ctx.traced))
    } finally spark.stop()
  }

  /** The session the repository's Bench uses: GraftExtensions, AQE,
    * shuffle partitions = cores, UTC.
    */
  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.metrics.Metrics.install(s)
    s
  }

  /** Run `warmUp` once untimed (a process's first set-up also pays JIT
    * and class loading), then `setup` [[SetupRepeats]] times timed;
    * the last state is kept. Returns the warm-up's result, that state
    * and the median set-up seconds.
    */
  def timedSetup[W, T](warmUp: => W)(setup: => T): (W, T, Double) = {
    val warm = step("warm-up")(warmUp)
    val runs = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val s = setup
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[setup] repeat $i: $secs%.2fs")
      (s, secs)
    }
    (warm, runs.last._1, Stats.median(runs.map(_._2)))
  }

  /** Run one step, logging its seconds to stderr. */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[setup]   $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Heap in use after full collections, in MB. Spark frees broadcast
    * and checkpoint blocks asynchronously once their owners are
    * collected, so collections alternate with pauses that let its
    * cleaner run.
    */
  def liveHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def json(r: Result, traced: Boolean): String = {
    val m = if (traced) r.layers else r.endToEnd
    val metrics = m.toSeq.sortBy(_._1).map { case (k, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k":${BigDecimal(v).toString}"""
    }.mkString("{", ",", "}")
    s"""{"attempted":${r.attempted},"failed":${r.failed},"metrics":$metrics}"""
  }
}
