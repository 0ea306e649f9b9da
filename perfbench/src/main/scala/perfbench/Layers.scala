package perfbench

import java.io.{File, PrintWriter}

import com.fasterxml.jackson.databind.ObjectMapper

/** Per-layer bookkeeping shared by the workloads. */
object Layers {
  /** The `per_layer` metric names of a BENCHMARK.json: every traced
    * run reports each of them.
    */
  def names(spec: File): Seq[String] = {
    val perLayer = new ObjectMapper().readTree(spec).get("per_layer")
    require(perLayer != null && perLayer.isArray, s"$spec has no per_layer list")
    (0 until perLayer.size).map(i => perLayer.get(i).get("name").asText)
  }

  /** Every per-layer metric at 0: a layer a workload leaves idle reads
    * 0 there.
    */
  def zero(ctx: Ctx): Map[String, Double] = ctx.layerNames.map(_ -> 0.0).toMap

  /** Counter deltas over a measured phase (engine and registry), and
    * the share of its jobs credited to a span.
    */
  def sparkDeltas(before: Map[String, Double],
      after: Map[String, Double]): Map[String, Double] = {
    val d = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    d - "trace.labelled_jobs" + ("trace.jobs_labelled_ratio" ->
      d("trace.labelled_jobs") / math.max(1.0, d("spark.jobs")))
  }

  /** Write the recorded spans, with self times and the Spark jobs
    * credited to each, as JSON lines.
    */
  def writeSpans(ctx: Ctx, workload: String): File = {
    val spans = ctx.trace.spans
    val self = Tracer.selfTimes(spans)
    val f = new File(ctx.work, s"spans-$workload-${ctx.seed}.jsonl")
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val jobs = Option(ctx.sparkStats.jobsPerSpan.get(s.id)).fold(0L)(_.get)
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","thread":${s.thread},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"self_ns":${self(s.id)},"jobs":$jobs}""")
    } finally w.close()
    System.err.println(s"[trace] ${spans.length} spans -> $f")
    f
  }
}
