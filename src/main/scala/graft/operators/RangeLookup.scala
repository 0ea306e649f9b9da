package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.IpMath

/** Sorted disjoint range table, RAM-resident, binary-searched — the
  * Spark port of the reference's in-memory range list + SearchBinary
  * (iputils.go:111-128). Disjointness guarantees ≤ 1 match per probe.
  *
  * Bounds live in two parallel byte[][] arrays (no per-row boxing,
  * mirroring the reference's flat []IPNode layout rationale,
  * iputils.go:60-64). ~4 M GeoLite2 ranges ≈ 2×4M×16 B = 128 MB —
  * comfortably broadcastable; each probe is O(log n) with zero
  * shuffle of the fact side, which is what makes this the 100 TB
  * fact-scan path.
  */
final class RangeIndex(val lo: Array[Array[Byte]], val hi: Array[Array[Byte]])
    extends Serializable {
  /** Index of the unique range containing `ip`, or -1 (miss ≈ 10 %
    * of production probes, geo-ip.go:162).
    */
  def search(ip: Array[Byte]): Int = {
    var start = 0
    var end = lo.length - 1
    while (start <= end) {
      val mid = (start + end) >>> 1
      if (IpMath.compare(ip, lo(mid)) >= 0) {
        if (IpMath.compare(ip, hi(mid)) <= 0) return mid
        start = mid + 1
      } else end = mid - 1
    }
    -1
  }
}

/** range_search(ip) → index into a broadcast [[RangeIndex]], NULL on
  * miss. Stays inside whole-stage codegen; the broadcast is attached
  * as a plan reference object, so executors fetch it once.
  */
case class RangeSearch(child: Expression, bc: Broadcast[RangeIndex])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override protected def nullSafeEval(ip: Any): Any = {
    val i = bc.value.search(ip.asInstanceOf[Array[Byte]])
    if (i < 0) null else i
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("rangeIndexBc", bc,
      classOf[Broadcast[RangeIndex]].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |int idx = ((graft.operators.RangeIndex) $bcRef.value()).search($c);
         |${ev.isNull} = (idx < 0);
         |${ev.value} = idx;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): RangeSearch =
    copy(child = c)
  override def prettyName: String = "range_search"
}

/** J1 point-in-range lookup (SURVEY §2.4).
  *
  * Fast path: broadcast the sorted range table once, probe each fact
  * row with an O(log n) binary-search expression, then re-attach the
  * payload with a broadcast hash join on the row index. The fact side
  * never shuffles and never materializes a BNLJ.
  */
object RangeLookup {
  /** Column name carrying the matched range ordinal. */
  val IdxCol = "__range_idx"

  /** Build the broadcast index + an idx-keyed payload table from a
    * sorted-disjoint range DataFrame (e.g. [[Ranges.flattenRanges]]
    * output). `ranges` must be driver-collectable (dimension scale).
    */
  def buildIndex(spark: SparkSession, ranges: DataFrame,
      loCol: String = "lo", hiCol: String = "hi")
      : (Broadcast[RangeIndex], DataFrame) = {
    val cols = ranges.columns
    // case-insensitive, matching Spark's default column resolution
    val loPos = cols.indexWhere(_.equalsIgnoreCase(loCol))
    val hiPos = cols.indexWhere(_.equalsIgnoreCase(hiCol))
    require(loPos >= 0 && hiPos >= 0, s"missing $loCol/$hiCol")
    val rows = ranges.collect()
      .filter(r => !r.isNullAt(loPos) && !r.isNullAt(hiPos)) // dirty rows
      .sortWith((a, b) => IpMath.compare(
        a.getAs[Array[Byte]](loPos), b.getAs[Array[Byte]](loPos)) < 0)
    val idx = new RangeIndex(
      rows.map(_.getAs[Array[Byte]](loPos)),
      rows.map(_.getAs[Array[Byte]](hiPos)))
    val bc = spark.sparkContext.broadcast(idx)
    val withIdx = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(i +: r.toSeq)
        }.toSeq, 1),
      StructType(StructField(IdxCol, IntegerType, nullable = false)
        +: ranges.schema.fields))
    (bc, withIdx)
  }

  def rangeSearch(ip: Column, bc: Broadcast[RangeIndex]): Column =
    GraftBridge.column(RangeSearch(GraftBridge.expression(ip), bc))

  /** Left-join `facts` against the range payload: one output row per
    * fact row; payload columns NULL on miss.
    */
  def lookup(spark: SparkSession, facts: DataFrame, ranges: DataFrame,
      ipCol: Column, loCol: String = "lo", hiCol: String = "hi"): DataFrame = {
    val (bc, withIdx) = buildIndex(spark, ranges, loCol, hiCol)
    facts
      .withColumn(IdxCol, rangeSearch(ipCol, bc))
      .join(broadcast(withIdx.drop(loCol, hiCol)), Seq(IdxCol), "left")
      .drop(IdxCol)
  }

  /** Reference plan (BNLJ theta join) — the differential-test oracle
    * for [[lookup]], mirroring geo-ip_test.go:123-203's binary-vs-
    * linear check. Correct but O(n·m); never the production path.
    */
  def lookupNaive(facts: DataFrame, ranges: DataFrame, ipCol: Column,
      loCol: String = "lo", hiCol: String = "hi"): DataFrame =
    facts.join(ranges, ipCol >= col(loCol) && ipCol <= col(hiCol), "left")
      .drop(loCol, hiCol)
}

/** Payload-carrying index: sorted bounds plus the payload rows
  * themselves, so a single expression returns the matched payload
  * struct and the fact side needs NO join at all (measured ~3× the
  * join-reattach path's throughput on the probe microbench).
  */
final class RangeStructIndex(val bounds: RangeIndex,
    val payloads: Array[InternalRow]) extends Serializable {
  def searchRow(ip: Array[Byte]): InternalRow = {
    val i = bounds.search(ip) // single shared binary-search impl
    if (i < 0) null else payloads(i)
  }
}

/** range_payload(ip) → STRUCT of the matched range's payload columns,
  * NULL on miss. Codegen-friendly; keeps whole-stage codegen intact.
  */
case class RangePayload(child: Expression, bc: Broadcast[RangeStructIndex],
    payloadSchema: StructType) extends UnaryExpression {
  override def dataType: DataType = payloadSchema
  override def nullable: Boolean = true
  override protected def nullSafeEval(ip: Any): Any =
    bc.value.searchRow(ip.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("rangeStructIndexBc", bc,
      classOf[Broadcast[RangeStructIndex]].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = ((graft.operators.RangeStructIndex) $bcRef.value()).searchRow($c);
         |${ev.isNull} = (${ev.value} == null);
         |if (${ev.isNull}) { ${ev.value} = ${CodeGenerator.defaultValue(dataType)}; }
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): RangePayload =
    copy(child = c)
  override def prettyName: String = "range_payload"
}

object RangeStructLookup {
  /** Build the payload-carrying broadcast index. */
  def buildIndex(spark: SparkSession, ranges: DataFrame,
      loCol: String = "lo", hiCol: String = "hi")
      : (Broadcast[RangeStructIndex], StructType) = {
    val plan = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(ranges).queryExecution.executedPlan
    val output = plan.output
    val loIdx = output.indexWhere(_.name.equalsIgnoreCase(loCol))
    val hiIdx = output.indexWhere(_.name.equalsIgnoreCase(hiCol))
    require(loIdx >= 0 && hiIdx >= 0, s"missing $loCol/$hiCol")
    val payloadAttrs = output.filterNot(a =>
      a.name.equalsIgnoreCase(loCol) || a.name.equalsIgnoreCase(hiCol))
    val payloadSchema = StructType(payloadAttrs.map(a =>
      StructField(a.name, a.dataType, a.nullable)))
    val proj = UnsafeProjection.create(payloadAttrs, output)
    val rows = plan.executeCollect()
      .filter(r => !r.isNullAt(loIdx) && !r.isNullAt(hiIdx))
      .map { r =>
        (r.getBinary(loIdx), r.getBinary(hiIdx),
          proj(r).copy(): InternalRow)
      }
      .sortWith((a, b) => IpMath.compare(a._1, b._1) < 0)
    val idx = new RangeStructIndex(
      new RangeIndex(rows.map(_._1), rows.map(_._2)), rows.map(_._3))
    (spark.sparkContext.broadcast(idx), payloadSchema)
  }

  /** The payload struct `index` holds for binary IP `ip`, NULL on a
    * miss: a column a caller composes into its own projection.
    */
  def payload(ip: Column,
      index: (Broadcast[RangeStructIndex], StructType)): Column =
    GraftBridge.column(
      RangePayload(GraftBridge.expression(ip), index._1, index._2))
}
