package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Observability (SURVEY §2.1 S14, §2.5 A5/A6): counter registry +
  * query-execution listener standing in for the reference's
  * Prometheus counters (metrics.go:9-88), and the log-spaced latency
  * histogram / cardinality-stat aggregations as DataFrame transforms.
  */
object Metrics {

  /** Lightweight labeled counters (TotalLookups, BadIPTotal{label},
    * ErrorTotal{label} analogues).
    */
  final class Registry {
    private val counters = new ConcurrentHashMap[String, LongAdder]()
    def inc(name: String, delta: Long = 1): Unit =
      counters.computeIfAbsent(name, _ => new LongAdder).add(delta)
    def get(name: String): Long =
      Option(counters.get(name)).map(_.sum()).getOrElse(0L)
    def snapshot: Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      counters.forEach((k, v) => b += k -> v.sum())
      b.result()
    }
  }

  val registry = new Registry

  /** Listener counting completed/failed queries and wall time —
    * the engine-side substitute for per-request counters.
    */
  final class GraftQueryListener(reg: Registry) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      reg.inc("queries_total")
      reg.inc("query_nanos_total", durationNs)
      reg.inc(s"latency_bucket{le=${latencyBucketLabel(durationNs)}}")
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit =
      reg.inc("queries_failed_total")
  }

  def install(spark: SparkSession): GraftQueryListener = {
    val l = new GraftQueryListener(registry)
    spark.listenerManager.register(l)
    l
  }

  /** Log-spaced bucket label, 10 µs … 10 s ×4 steps — the server
    * histogram span (metrics.go:19-33).
    */
  def latencyBucketLabel(nanos: Long): String = {
    val buckets = Seq(10e3, 40e3, 160e3, 640e3, 2.56e6, 10.24e6, 40.96e6,
      163.84e6, 655.36e6, 2.62144e9, 10.48576e9)
    buckets.find(nanos <= _) match {
      case Some(b) => s"${(b / 1e6)}ms"
      case None => "+Inf"
    }
  }

  /** Driver-side twin of [[graft.api.Api.batchSizeBucket]] — the
    * reference's request-size bucket labels (handler.go:270-283):
    * each served batch lands in exactly one of `<5 / 5+ / 20+ /
    * 100+ / 400+`.
    */
  def batchSizeBucketLabel(n: Long): String =
    if (n >= 400) "400+"
    else if (n >= 100) "100+"
    else if (n >= 20) "20+"
    else if (n >= 5) "5+"
    else "<5"

  /** Observe one served request batch the way the reference's
    * `latencyStats` does (handler.go:270-283): a count in the
    * per-(source,size-bucket) histogram series plus the µs sum, so
    * the ops story — request-time-by-batch-size — reads identically.
    */
  def observeRequestBatch(source: String, n: Long, nanos: Long,
      reg: Registry = registry): Unit = {
    val b = batchSizeBucketLabel(n)
    reg.inc(s"request_time_hist{source=$source,size=$b}")
    reg.inc(s"request_time_usec_total{source=$source,size=$b}",
      nanos / 1000)
  }

  /** A6: histogram of a duration column into log-spaced buckets. */
  def latencyHistogram(df: DataFrame, durationCol: Column): DataFrame = {
    val bucket = round(pow(4.0,
      ceil(log(4.0, greatest(durationCol, lit(1)))))).cast("long")
    df.groupBy(bucket.as("le")).agg(count(lit(1)).as("n")).orderBy("le")
  }

  /** Missing-annotation tallies over an annotated frame
    * (handler.go:352-379 analogue).
    */
  def missingStats(annotated: DataFrame): DataFrame =
    annotated.agg(
      count(lit(1)).as("total"),
      sum(col("geo.missing").cast("long")).as("geo_missing"),
      sum(col("network.missing").cast("long")).as("network_missing"))
}
