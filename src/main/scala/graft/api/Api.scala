package graft.api

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.metrics.Metrics

/** Request/response surface (SURVEY §2.1 S12, §3.1-3.2): the Spark
  * shape of the v2 batch API — one as-of dataset selection per batch,
  * per-IP annotation keyed by the *original* request string, JSON
  * with omit-empty parity — plus the v1 compat key scheme.
  *
  * Like the reference, which holds every dataset in RAM and answers a
  * batch with one as-of pick and a binary search per IP, a
  * [[Snapshot]]'s tables are read once, at its first use, into
  * broadcast range indexes that live exactly as long as the snapshot.
  * A request-scale batch (a local `Seq.toDF`) is then answered on the
  * driver with no Catalyst query: each IP goes through the snapshot's
  * [[Snapshot.annotator]], one plan analyzed once per snapshot, into a
  * local relation, and the response is written from that relation's
  * rows. Any other input is annotated by one analyzed plan (parse, then
  * probe and emit) and rendered from one tracked execution of it; that
  * path is the local one's differential oracle.
  */
object Api {

  /** One loaded dataset snapshot pair. [[indexes]] reads both tables
    * and broadcasts their range indexes on first use — never when the
    * snapshot is constructed — and keeps them for the snapshot's
    * lifetime; [[annotator]], the annotation of one IP over them, is
    * likewise analyzed at its first local request and kept. A refresh
    * that keeps this snapshot in the new [[Directory]] keeps both; once
    * no directory holds it, the broadcasts are unreachable and Spark's
    * ContextCleaner removes them. `copy` yields a new snapshot whose
    * indexes and annotator are built anew.
    */
  final case class Snapshot(date: Date, geo: DataFrame, asn: DataFrame) {
    @transient lazy val indexes: Annotate.Indexes =
      Annotate.indexes(geo.sparkSession, geo, asn)
    @transient lazy val annotator: Annotate.Annotator =
      Annotate.annotator(geo.sparkSession, indexes)
  }

  /** The annotator directory: date-sorted snapshots with the as-of
    * pick rule of directory.go:230-240 (latest ≤ d, clamp to
    * earliest). A NULL date takes the earliest snapshot, the
    * reference's clamp of the zero time. Of two snapshots on one date
    * the later-listed one wins.
    */
  final case class Directory(snapshots: Seq[Snapshot]) {
    require(snapshots.nonEmpty, "empty directory")
    private val latestFirst = snapshots.sortBy(_.date.getTime).reverse
    def forDate(d: Date): Snapshot =
      Option(d).flatMap(d => latestFirst.find(!_.date.after(d)))
        .getOrElse(latestFirst.last)
    def latest: Snapshot = latestFirst.head

    /** [[forDate]] per row, as one column: a `CaseWhen` over the
      * snapshot dates, latest first, whose branch for snapshot `s` is
      * `branch(s)` and whose ELSE branch (dates before the earliest
      * snapshot, and NULL) is the earliest snapshot's.
      */
    def asOf(date: Column)(branch: Snapshot => Column): Column =
      latestFirst.init match {
        case Seq() => branch(latestFirst.last)
        case s +: rest =>
          rest.foldLeft(when(date >= lit(s.date), branch(s))) { (c, s) =>
            c.when(date >= lit(s.date), branch(s))
          }.otherwise(branch(latestFirst.last))
      }
  }

  /** v2 batch annotate (handler.go:194-243): one snapshot for the
    * whole batch, per-row annotation through the snapshot's
    * [[Snapshot.indexes]], Missing defaulting inside
    * [[Annotate.annotate]]. Output: the input's columns + geo, network,
    * a column of either name replaced in place.
    *
    * A local batch — a `LocalRelation`, under projections that only
    * select or rename columns (as `Seq.toDF("ip")` gives), whose
    * `ipCol` is a string column — is annotated right here, through
    * the snapshot's [[Snapshot.annotator]], into an analyzed local
    * relation: no analysis, optimization or job per request. Any other
    * input gets [[Annotate.annotate]]'s one plan, analyzed here.
    */
  def annotateV2(spark: SparkSession, dir: Directory, date: Date,
      ips: DataFrame, ipCol: String = "ip"): DataFrame = {
    val snapshot = dir.forDate(date)
    val batch = castToImpl(ips).queryExecution.analyzed
    val ip = batch.resolveQuoted(ipCol,
      castToImpl(spark).sessionState.conf.resolver).collect {
        case a: Attribute if a.dataType == StringType =>
          batch.output.indexWhere(_.exprId == a.exprId)
      }
    (localRows(batch), ip) match {
      case (Some((cols, rows)), Some(i)) if i >= 0 =>
        snapshot.annotator.annotate(spark, batch.output, cols, rows, i)
      case _ => Annotate.annotate(ips, col(ipCol), snapshot.indexes)
    }
  }

  /** The rows of `plan` if it is a local batch: a non-streaming
    * `LocalRelation` under projections that only select or rename
    * columns. With them, the ordinal in those rows of each of
    * `plan`'s columns.
    */
  private def localRows(plan: LogicalPlan)
      : Option[(Seq[Int], Seq[InternalRow])] = plan match {
    case r: LocalRelation if !r.isStreaming => Some((r.output.indices, r.data))
    case Project(list, child) => localRows(child).flatMap { case (cols, rows) =>
      val picked = list.map {
        case a: Attribute => child.output.indexWhere(_.exprId == a.exprId)
        case Alias(a: Attribute, _) =>
          child.output.indexWhere(_.exprId == a.exprId)
        case _ => -1
      }
      if (picked.contains(-1)) None else Some((picked.map(cols), rows))
    }
    case _ => None
  }

  /** [[annotateV2]] with the as-of pick made per row, in the one plan
    * [[Annotate.annotate]] builds: each probe is a [[Directory.asOf]]
    * column over every snapshot's [[Snapshot.indexes]], all of which
    * are built (once per snapshot) when the plan is.
    */
  def annotateAsOf(facts: DataFrame, ip: Column, date: Column,
      dir: Directory): DataFrame =
    Annotate.annotatePicked(facts, ip,
      probe => dir.asOf(date)(s => probe(s.indexes)))

  /** Render a v2 response document: `{"AnnotatorDate": …,
    * "Annotations": {ip: {Geo…, Network…}}}` (api-v2.go:51-55).
    * NULL fields are dropped, matching Go's `omitempty`.
    *
    * A frame whose logical plan is a `LocalRelation` (what
    * [[annotateV2]] returns for a local batch) is rendered straight
    * from that relation's rows: no optimizer, physical plan or SQL
    * execution. Any other frame's plan is executed once, as a tracked
    * SQL execution named `collect` (so `QueryExecutionListener`s see
    * the request), without a second projection, analysis or row
    * encoder; that costs one narrow job. `ipCol`, `geo` and `network`
    * are resolved under the session's resolver and read from the rows;
    * the first row per IP is kept, in row order. The document is
    * written by the generator `to_json` uses
    * ([[org.apache.spark.sql.GraftBridge.toJson]]), so key escaping,
    * NULL omission and number format are `to_json`'s.
    *
    * Each call that returns records one
    * `Metrics.observeRequestBatch("v2", rows, nanos)`: `rows` is the
    * number of rows rendered (repeats included) and `nanos` this
    * call's own time — on the local path the rendering alone, on the
    * other the optimization, planning and execution of the plan as
    * well. [[annotateV2]]'s time is not included.
    *
    * REQUEST-scale only: this materializes one JSON string on the
    * driver, faithful to the reference's per-HTTP-request response
    * (batches are capped at ~tens of k IPs). Dataset-scale output
    * goes through the parquet/JSON sinks (Verify / writeStream), not
    * through this.
    *
    * @throws IllegalArgumentException if `ipCol` holds a NULL: a JSON
    *         object has no NULL key
    */
  def toV2ResponseJson(annotated: DataFrame, annotatorDate: Date,
      ipCol: String = "ip"): String = {
    val t0 = System.nanoTime()
    val qe = castToImpl(annotated).queryExecution
    val conf = qe.sparkSession.sessionState.conf
    def field(name: String): Expression = BindReferences.bindReference(
      qe.analyzed.resolveQuoted(name, conf.resolver).getOrElse(
        throw new IllegalArgumentException(s"no column '$name'")),
      qe.analyzed.output)
    val (ip, geo, network) = (field(ipCol), field("geo"), field("network"))
    val rows = qe.analyzed match {
      case r: LocalRelation if !r.isStreaming => r.data
      case _ => SQLExecution.withNewExecutionId(qe, Some("collect"))(
        qe.executedPlan.executeCollect()).toSeq
    }
    // a batch may legally repeat an IP (the reference's map just
    // overwrites the key); its rows annotate alike, so keep the first
    val entries = new java.util.LinkedHashMap[Any, InternalRow]
    rows.foreach { r =>
      val key = ip.eval(r)
      if (key == null)
        throw new IllegalArgumentException(s"NULL in IP column '$ipCol'")
      if (!entries.containsKey(key))
        entries.put(key, InternalRow(geo.eval(r), network.eval(r)))
    }
    val entry = StructType(Seq(StructField("Geo", geo.dataType),
      StructField("Network", network.dataType)))
    val doc = GraftBridge.toJson(
      StructType(Seq(StructField("AnnotatorDate", StringType),
        StructField("Annotations", MapType(ip.dataType, entry)))),
      InternalRow(UTF8String.fromString(annotatorDate.toString),
        new ArrayBasedMapData(new GenericArrayData(entries.keySet.toArray),
          new GenericArrayData(entries.values.toArray))),
      conf.sessionLocalTimeZone)
    Metrics.observeRequestBatch("v2", rows.length, System.nanoTime() - t0)
    doc
  }

  /** v1 legacy response key: ip + base-36 unix seconds, lower-case
    * (handler.go:26-30,169-170 — P15).
    */
  def v1Key(ip: Column, ts: Column): Column =
    concat(ip, lower(conv(ts.cast("long").cast("string"), 10, 36)))

  /** v1 batch annotate (handler.go:142-174): every row shares the
    * *first* request's timestamp for dataset selection; response keys
    * are [[v1Key]]; unparseable IPs reject the whole batch
    * (handler.go:446-467 — F5 batch mode).
    */
  def annotateV1(spark: SparkSession, dir: Directory,
      requests: DataFrame, ipCol: String = "ip",
      tsCol: String = "ts"): DataFrame = {
    import graft.functions.IpFunctions.ip_to_bin
    // one aggregate answers both checks, a bad IP before an empty
    // batch. The reference uses request[0]'s timestamp for the whole
    // batch; a DataFrame is unordered, so the earliest timestamp is
    // the deterministic analogue of "first"
    val first = requests.agg(bool_or(ip_to_bin(col(ipCol)).isNull),
      min(col(tsCol))).collect()(0)
    if (!first.isNullAt(0) && first.getBoolean(0))
      throw new IllegalArgumentException("invalid IP in v1 batch")
    require(!first.isNullAt(1), "empty v1 batch")
    val batchDate = new Date(first.getTimestamp(1).getTime)
    annotateV2(spark, dir, batchDate,
      requests.withColumn("key", v1Key(col(ipCol), col(tsCol))), ipCol)
  }

  /** P18 latency/batch-size bucket label (handler.go:270-283). */
  def batchSizeBucket(n: Column): Column =
    when(n < 5, "<5").when(n < 20, "5+").when(n < 100, "20+")
      .when(n < 400, "100+").otherwise("400+")
}
