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

/** Shuffle path for range tables that outgrow a broadcast: bucket
  * both sides by a fixed-width binary prefix and equi-join on the
  * bucket with the range predicate as residual. Each range explodes
  * into every prefix bucket it spans (dimension-side cost only), so
  * the join shuffles on a dense integer key that AQE can coalesce or
  * skew-split — no BNLJ, no driver collect, works at any range-table
  * size. The broadcast paths above stay preferable whenever the
  * ranges fit executor memory.
  */
object BucketedRangeJoin {
  import graft.functions.IpFunctions.{ip_family, ip_minus_one, ip_plus_one}

  /** Canonical v4-mapped region, ::ffff:0.0.0.0 … ::ffff:255.255.255.255. */
  private val V4RegionLo =
    Array[Byte](0, 0, 0, 0, 0, 0, 0, 0, 0, 0, -1, -1, 0, 0, 0, 0)
  private val V4RegionHi =
    Array[Byte](0, 0, 0, 0, 0, 0, 0, 0, 0, 0, -1, -1, -1, -1, -1, -1)

  /** Family-relative bucket prefix: v4-mapped keys bucket on the v4
    * octets (bytes 13…, skipping the constant 12-byte ::ffff: prefix
    * that would otherwise land every v4 key in bucket 0); native-v6
    * keys on the leading bytes. Always joined together with the
    * family column, so buckets never collide across families.
    */
  private[operators] def prefixKey(c: Column, nBytes: Int): Column = {
    val off = when(ip_family(c) === 4, lit(13)).otherwise(lit(1))
    conv(hex(c.substr(off, lit(nBytes))), 16, 10).cast("long")
  }

  /** Split a range at the v4-mapped region boundaries so each output
    * segment lies in a single family — the family-relative prefix is
    * only monotonic within one family. Real IP range tables never
    * straddle the boundary (and flattenRanges grouped by family can't
    * emit one that does); the split keeps the operator total anyway.
    */
  private[operators] def familySegments(lo: Column, hi: Column): Column = {
    val rLo = lit(V4RegionLo)
    val rHi = lit(V4RegionHi)
    filter(array(
      when(lo < rLo,
        struct(lo.as("lo"), least(hi, ip_minus_one(rLo)).as("hi"))),
      when(hi >= rLo && lo <= rHi,
        struct(greatest(lo, rLo).as("lo"), least(hi, rHi).as("hi"))),
      when(hi > rHi,
        struct(greatest(lo, ip_plus_one(rHi)).as("lo"), hi.as("hi")))),
      s => s.isNotNull)
  }

  /** Sentinel for [[lookup]]'s `nBytes`: derive the width from the
    * range table's span statistics.
    */
  val Adaptive = 0

  /** Build-side growth budget for the adaptive width: the exploded
    * bucket rows may average at most this multiple of the range count.
    */
  private val MaxAvgExplosion = 4.0

  /** Derive the bucket width from range-span statistics: the FINEST
    * width (densest buckets → best residual pruning) whose average
    * per-range bucket explosion stays ≤ [[MaxAvgExplosion]]. A
    * /24-dominated table gets 3-byte buckets (span 1 each); a
    * /16-dominated table 2 bytes; a table of v4 /8s falls back to
    * 1-byte buckets (span 1) instead of exploding every /8 into 256
    * two-byte bucket rows. AVERAGE, not max, is the right statistic:
    * the guarded quantity is total build-side row count, and one wide
    * outlier in a million-range table should not coarsen every
    * bucket (its own explosion is bounded by the next-coarser width's
    * acceptance). One aggregation job over the DIMENSION-scale range
    * table at plan-build time (the trainCentroids/mixToTarget
    * precedent); width 1 is the floor — per-family spans there are
    * ≤ 256 by construction.
    */
  private[operators] def deriveWidth(ranges: DataFrame,
      loCol: String = "lo", hiCol: String = "hi"): Int = {
    val segs = ranges
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull)
      .select(explode(familySegments(col(loCol), col(hiCol))).as("__seg"))
    val row = segs.agg(count(lit(1)).as("n"),
      (1 to 3).map(n => sum(prefixKey(col("__seg.hi"), n) -
        prefixKey(col("__seg.lo"), n) + 1).as(s"s$n")): _*)
      .collect()(0)
    val cnt = row.getLong(0)
    if (cnt == 0L) 2
    else (3 to 1 by -1)
      .find(n => row.getLong(n) <= MaxAvgExplosion * cnt)
      .getOrElse(1)
  }

  /** Left-join facts to ranges on containment, via per-family prefix
    * buckets.
    *
    * @param nBytes bucket width: 2 → 65 536 buckets per family; a
    *               range spanning w buckets contributes w rows to the
    *               build side (a v4 /8 spans 256 two-byte buckets).
    *               Default [[Adaptive]] derives the width from the
    *               table's span stats ([[deriveWidth]]) so build-side
    *               growth stays bounded for any prefix mix.
    */
  def lookup(facts: DataFrame, ranges: DataFrame, ipCol: Column,
      nBytes: Int = Adaptive, loCol: String = "lo", hiCol: String = "hi",
      joinType: String = "left"): DataFrame = {
    val width =
      if (nBytes == Adaptive) deriveWidth(ranges, loCol, hiCol) else nBytes
    val exploded = ranges
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull)
      .withColumn("__seg", explode(familySegments(col(loCol), col(hiCol))))
      .withColumn("__fam", ip_family(col("__seg.lo")))
      .withColumn("__bucket",
        explode(sequence(prefixKey(col("__seg.lo"), width),
          prefixKey(col("__seg.hi"), width))))
      .drop("__seg")
    val keyedFacts = facts
      .withColumn("__fam", ip_family(ipCol))
      .withColumn("__bucket", prefixKey(ipCol, width))
    keyedFacts
      .join(exploded,
        keyedFacts("__fam") === exploded("__fam") &&
          keyedFacts("__bucket") === exploded("__bucket") &&
          ipCol >= col(loCol) && ipCol <= col(hiCol),
        joinType)
      .drop("__fam", "__bucket", loCol, hiCol)
  }
}
