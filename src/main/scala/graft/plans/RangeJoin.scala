package graft.plans

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.{Partitioner, RangePartitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, JoinHint, LogicalPlan, SHUFFLE_MERGE}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator Catalyst integration for point-in-range joins
  * (SURVEY §4: the escalation beyond the broadcast binary-search
  * *expression*): a planner strategy that recognizes
  *
  *   facts JOIN ranges ON ip >= lo AND ip <= hi
  *
  * and plans one of two execs instead of Spark's
  * BroadcastNestedLoopJoin. Both probe the same [[IntervalTree]] —
  * O(log n + k) per probe for k matches, correct for arbitrary
  * overlapping or nested intervals — and differ only in how the
  * ranges reach a partition: [[BroadcastRangeJoinExec]] builds one
  * tree on the driver and broadcasts it; [[ShuffleRangeJoinExec]]
  * range-partitions both sides and builds a tree per partition.
  *
  * Registered via `spark.sql.extensions=graft.plans.GraftExtensions`;
  * declared queries q07 (broadcast) and q69/q73/q171 (shuffle)
  * exercise it end-to-end against the DuckDB oracle.
  */
object RangeJoinPattern {
  /** (facts, ranges, ip, lo, hi, loStrict, hiStrict, rest, joinType,
    * rangesOnRight)
    */
  type Match = (LogicalPlan, LogicalPlan, Expression, Expression, Expression,
    Boolean, Boolean, Seq[Expression], JoinType, Boolean)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** A bound like `ip >= lo` in any written orientation. The range
    * side may be any expression over the ranges relation (e.g. a
    * Cast the analyzer inserted), evaluated once at build time.
    */
  private case class Bound(ip: Expression, rangeExpr: Expression,
    isLower: Boolean, strict: Boolean)

  private def asBound(e: Expression, rangeSide: LogicalPlan,
      factSide: LogicalPlan): Option[Bound] = {
    def splits(ip: Expression, r: Expression): Option[(Expression, Expression)] =
      if (r.references.nonEmpty &&
        r.references.subsetOf(rangeSide.outputSet) &&
        r.deterministic &&
        ip.references.subsetOf(factSide.outputSet) &&
        ip.references.nonEmpty && ip.deterministic) Some((ip, r))
      else None
    e match {
      case GreaterThanOrEqual(l, r) => // ip >= lo
        splits(l, r).map { case (ip, a) => Bound(ip, a, isLower = true,
          strict = false) }
          .orElse(splits(r, l).map { case (ip, a) =>
            Bound(ip, a, isLower = false, strict = false) }) // hi >= ip
      case GreaterThan(l, r) =>
        splits(l, r).map { case (ip, a) => Bound(ip, a, isLower = true,
          strict = true) }
          .orElse(splits(r, l).map { case (ip, a) =>
            Bound(ip, a, isLower = false, strict = true) })
      case LessThanOrEqual(l, r) => // ip <= hi
        splits(l, r).map { case (ip, a) => Bound(ip, a, isLower = false,
          strict = false) }
          .orElse(splits(r, l).map { case (ip, a) =>
            Bound(ip, a, isLower = true, strict = false) })
      case LessThan(l, r) =>
        splits(l, r).map { case (ip, a) => Bound(ip, a, isLower = false,
          strict = true) }
          .orElse(splits(r, l).map { case (ip, a) =>
            Bound(ip, a, isLower = true, strict = true) })
      case _ => None
    }
  }

  def unapply(plan: LogicalPlan): Option[Match] = plan match {
    case Join(left, right, joinType @ (Inner | LeftOuter), Some(cond), _) =>
      val cs = conjuncts(cond)
      def tryMatch(ranges: LogicalPlan, facts: LogicalPlan,
          rangesOnRight: Boolean): Option[Match] = {
        // LeftOuter requires the ranges on the build (right) side
        if (joinType == LeftOuter && !rangesOnRight) return None
        val bounds = cs.map(c => c -> asBound(c, ranges, facts))
        val lower = bounds.collectFirst {
          case (c, Some(b)) if b.isLower => (c, b) }
        val upper = bounds.collectFirst {
          case (c, Some(b)) if !b.isLower => (c, b) }
        (lower, upper) match {
          case (Some((cl, bl)), Some((cu, bu)))
            if bl.ip.semanticEquals(bu.ip) &&
              RowOrdering.isOrderable(bl.ip.dataType) &&
              !bl.rangeExpr.semanticEquals(bu.rangeExpr) =>
            val rest = cs.filterNot(c => (c eq cl) || (c eq cu))
            Some((facts, ranges, bl.ip, bl.rangeExpr, bu.rangeExpr,
              bl.strict, bu.strict, rest, joinType, rangesOnRight))
          case _ => None
        }
      }
      tryMatch(right, left, rangesOnRight = true)
        .orElse(tryMatch(left, right, rangesOnRight = false))
    case _ => None
  }
}

/** Static centered interval tree — the probe structure of both
  * range-join execs. O(log n + k) point stabbing with no mixed-width
  * degeneracy: a /8-wide range among thousands of nested /24s never
  * drags probes into a linear walk (every node-stored interval a
  * probe scans is guaranteed covering, so work is exactly matches +
  * depth).
  *
  * Build: center = median endpoint; intervals overlapping the center
  * live at the node (sorted by lo asc AND hi desc), the rest recurse
  * left (hi < center) / right (lo > center). Each level consumes at
  * least the center-owning interval and halves the endpoint set →
  * O(log n) depth, O(n log² n) build on the dimension-scale range
  * set. Serializable, so the broadcast exec ships one built tree.
  */
private[plans] final class IntervalTree private (
    root: IntervalTree.Node, ordering: Ordering[Any],
    loStrict: Boolean, hiStrict: Boolean) extends Serializable {

  /** Visit every interval's row covering `ip` (strictness per the
    * join bounds).
    */
  def foreachMatch(ip: Any)(f: InternalRow => Unit): Unit = {
    if (ip == null) return
    var node = root
    while (node != null) {
      val cmp = ordering.compare(ip, node.center)
      if (cmp < 0) {
        // node intervals have hi >= center > ip (strict-hi safe);
        // scan lo-ascending while lo <= ip, strict-lo checked at
        // the boundary
        val lo = node.loAscLo
        val rows = node.loAscRows
        var i = 0
        while (i < lo.length && ordering.lteq(lo(i), ip)) {
          if (!loStrict || ordering.lt(lo(i), ip)) f(rows(i))
          i += 1
        }
        node = node.left
      } else if (cmp > 0) {
        // node intervals have lo <= center < ip (strict-lo safe);
        // scan hi-descending while hi >= ip
        val hi = node.hiDescHi
        val rows = node.hiDescRows
        var i = 0
        while (i < hi.length && ordering.gteq(hi(i), ip)) {
          if (!hiStrict || ordering.gt(hi(i), ip)) f(rows(i))
          i += 1
        }
        node = node.right
      } else {
        // ip == center: every node interval covers it non-strictly;
        // neither subtree can match (left his < ip, right los > ip)
        val lo = node.loAscLo
        val hi = node.loAscHi
        val rows = node.loAscRows
        var i = 0
        while (i < lo.length) {
          if ((!loStrict || ordering.lt(lo(i), ip)) &&
              (!hiStrict || ordering.gt(hi(i), ip))) f(rows(i))
          i += 1
        }
        node = null
      }
    }
  }
}

private[plans] object IntervalTree {
  final class Node(
    val center: Any,
    val loAscLo: Array[Any], val loAscHi: Array[Any],
    val loAscRows: Array[InternalRow],
    val hiDescHi: Array[Any], val hiDescRows: Array[InternalRow],
    val left: Node, val right: Node) extends Serializable

  /** Build from parallel (row, lo, hi) arrays; null or inverted
    * bounds are dropped (they can never match).
    */
  def build(rows: Array[InternalRow], boundLo: Expression,
      boundHi: Expression, ordering: Ordering[Any],
      loStrict: Boolean, hiStrict: Boolean): IntervalTree = {
    val items = rows.iterator.map { r =>
      (boundLo.eval(r), boundHi.eval(r), r)
    }.filter { case (lo, hi, _) =>
      lo != null && hi != null && !ordering.gt(lo, hi)
    }.toArray

    def rec(its: Array[(Any, Any, InternalRow)]): Node = {
      if (its.isEmpty) return null
      val endpoints = its.flatMap(t => Array(t._1, t._2)).sorted(ordering)
      val center = endpoints(endpoints.length / 2)
      val here = ArrayBuffer[(Any, Any, InternalRow)]()
      val lt = ArrayBuffer[(Any, Any, InternalRow)]()
      val rt = ArrayBuffer[(Any, Any, InternalRow)]()
      its.foreach { t =>
        if (ordering.lt(t._2, center)) lt += t
        else if (ordering.gt(t._1, center)) rt += t
        else here += t
      }
      val byLo = here.sortWith((a, b) => ordering.lt(a._1, b._1)).toArray
      val byHi = here.sortWith((a, b) => ordering.gt(a._2, b._2)).toArray
      new Node(center,
        byLo.map(_._1), byLo.map(_._2), byLo.map(_._3),
        byHi.map(_._2), byHi.map(_._3),
        rec(lt.toArray), rec(rt.toArray))
    }
    new IntervalTree(rec(items), ordering, loStrict, hiStrict)
  }
}

/** What the two range-join execs share: the join's output, its
  * `numOutputRows`/`numRangeRows` metrics and the per-fact probe
  * loop over an [[IntervalTree]]. Each exec adds only how the ranges
  * reach a partition.
  */
private[plans] trait RangeJoinExec extends BinaryExecNode {
  def ipExpr: Expression
  def loExpr: Expression
  def hiExpr: Expression
  def loStrict: Boolean
  def hiStrict: Boolean
  def extraCond: Option[Expression]
  def joinType: JoinType
  def factsOutput: Seq[Attribute]
  def rangesOutput: Seq[Attribute]
  def rangesOnRight: Boolean

  override lazy val metrics = {
    import org.apache.spark.sql.execution.metric.SQLMetrics.createMetric
    Map(
      "numOutputRows" -> createMetric(sparkContext, "number of output rows"),
      "numRangeRows" -> createMetric(sparkContext,
        "number of range rows built into trees"))
  }

  override def output: Seq[Attribute] = {
    val ranges =
      if (joinType == LeftOuter) rangesOutput.map(_.withNullability(true))
      else rangesOutput
    if (rangesOnRight) factsOutput ++ ranges else ranges ++ factsOutput
  }

  protected def ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(ipExpr.dataType)
  protected def boundLo: Expression =
    BindReferences.bindReference(loExpr, rangesOutput)
  protected def boundHi: Expression =
    BindReferences.bindReference(hiExpr, rangesOutput)

  /** Builds the join's interval tree over range rows, counting them
    * in `numRangeRows` (the broadcast tree's size, or the shuffle
    * path's ranges summed over partitions, duplicates included);
    * captures no exec, so it ships in task closures.
    */
  protected def treeBuilder: Array[InternalRow] => IntervalTree = {
    val (lo, hi, ord) = (boundLo, boundHi, ordering)
    val (ls, hs) = (loStrict, hiStrict)
    val numRangeRows = longMetric("numRangeRows")
    ranges => {
      numRangeRows += ranges.length
      IntervalTree.build(ranges, lo, hi, ord, ls, hs)
    }
  }

  /** The per-partition join of fact rows against a tree: every
    * covering range passing the extra condition, or one
    * null-extended row for an unmatched fact of a left outer join.
    * Like [[treeBuilder]], it captures no exec.
    */
  protected def probeLoop: (IntervalTree, Iterator[InternalRow]) => Iterator[InternalRow] = {
    val boundIp = BindReferences.bindReference(ipExpr, factsOutput)
    val boundExtra = extraCond.map(BindReferences.bindReference(_,
      if (rangesOnRight) factsOutput ++ rangesOutput
      else rangesOutput ++ factsOutput))
    val numOutputRows = longMetric("numOutputRows")
    val outAttrs = output
    val nRangeCols = rangesOutput.length
    val onRight = rangesOnRight
    val outer = joinType == LeftOuter
    (tree, facts) => {
      val joined = new JoinedRow
      val nullRange = new GenericInternalRow(nRangeCols)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      facts.flatMap { factRow =>
        val out = ArrayBuffer[InternalRow]()
        tree.foreachMatch(boundIp.eval(factRow)) { rangeRow =>
          val jr = if (onRight) joined(factRow, rangeRow)
            else joined(rangeRow, factRow)
          if (boundExtra.forall(_.eval(jr) == true))
            out += resultProj(jr).copy()
        }
        if (out.isEmpty && outer)
          out += resultProj(joined(factRow, nullRange)).copy()
        numOutputRows += out.length
        out.iterator
      }
    }
  }
}

/** Broadcast interval join. `left` = facts (streamed), `right` =
  * ranges: collected, built into one [[IntervalTree]] on the driver
  * and broadcast, so executors fetch it once and build nothing. The
  * fact side never shuffles.
  */
case class BroadcastRangeJoinExec(
    left: SparkPlan, right: SparkPlan,
    ipExpr: Expression, loExpr: Expression, hiExpr: Expression,
    loStrict: Boolean, hiStrict: Boolean,
    extraCond: Option[Expression], joinType: JoinType,
    factsOutput: Seq[Attribute], rangesOutput: Seq[Attribute],
    rangesOnRight: Boolean)
  extends RangeJoinExec {

  // the fact (left) side streams through unchanged — advertise its
  // partitioning/ordering so downstream operators don't re-shuffle
  // (same contract BroadcastHashJoinExec provides)
  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val bc = sparkContext.broadcast(treeBuilder(right.executeCollect()))
    val probe = probeLoop
    left.execute().mapPartitions(facts => probe(bc.value, facts))
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastRangeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Range-partitioned interval join — the escalation for range tables
  * that outgrow a broadcast (SURVEY §4's "proper engine feature"
  * milestone; reference probe semantics iputils.go:111-128).
  *
  * Physical algorithm:
  *  1. Sample the FACT side's probe keys (Spark's own
  *     [[RangePartitioner]] sketch — the same machinery behind every
  *     global sort) to derive partition boundaries. Sampling the
  *     facts, not the ranges, is what makes the operator robust to
  *     fact skew: facts piled into one hot /8 still split across
  *     many partitions.
  *  2. Shuffle facts by probe-key partition; ship each range row to
  *     EVERY partition its [lo, hi] overlaps (duplication factor ≤
  *     the partition count, dimension-side cost only — the
  *     partitioner is monotonic, so lo ≤ ip ≤ hi pins every cover
  *     to the probe's partition).
  *  3. Per partition: build an [[IntervalTree]] over the local ranges
  *     and probe each fact — O(log n + k), overlap-correct, no BNLJ,
  *     no driver collect.
  *
  * The extra job is the boundary sample (the cost every range
  * shuffle pays); facts then move ONCE. Null probe keys route to
  * partition 0 and match nothing (LeftOuter still emits them
  * null-extended). Rows cross the wire as UnsafeRow (Externalizable
  * — byte-buffer writes, not field-by-field Java serialization).
  */
case class ShuffleRangeJoinExec(
    left: SparkPlan, right: SparkPlan,
    ipExpr: Expression, loExpr: Expression, hiExpr: Expression,
    loStrict: Boolean, hiStrict: Boolean,
    extraCond: Option[Expression], joinType: JoinType,
    factsOutput: Seq[Attribute], rangesOutput: Seq[Attribute],
    rangesOnRight: Boolean)
  extends RangeJoinExec {

  override protected def doExecute(): RDD[InternalRow] = {
    val ord = ordering
    val boundIp = BindReferences.bindReference(ipExpr, factsOutput)
    val (lo, hi) = (boundLo, boundHi)

    // UnsafeRow-project both sides before the RDD shuffle: UnsafeRow
    // serializes as one buffer write, and each deserialized record is
    // a fresh object (safe to hold across the partition build)
    val factKeyed: RDD[(Any, InternalRow)] =
      left.execute().mapPartitions { it =>
        val proj = UnsafeProjection.create(factsOutput, factsOutput)
        it.map { r0 =>
          val r = proj(r0).copy()
          (boundIp.eval(r), r: InternalRow)
        }
      }
    implicit val ordAny: Ordering[Any] = ord
    implicit val tagAny: ClassTag[Any] = ClassTag.Any
    val parts = math.max(1, conf.numShufflePartitions)
    val rp = new RangePartitioner[Any, InternalRow](parts,
      factKeyed.filter(_._1 != null))
    val nParts = rp.numPartitions
    val factPartitioner = new Partitioner {
      override def numPartitions: Int = nParts
      override def getPartition(key: Any): Int =
        if (key == null) 0 else rp.getPartition(key)
    }
    val factsPart = factKeyed.partitionBy(factPartitioner)

    val rangesDup: RDD[(Int, InternalRow)] =
      right.execute().mapPartitions { it =>
        val proj = UnsafeProjection.create(rangesOutput, rangesOutput)
        it.flatMap { r0 =>
          val r = proj(r0).copy()
          val l = lo.eval(r)
          val h = hi.eval(r)
          if (l == null || h == null || ord.gt(l, h)) Iterator.empty
          else (rp.getPartition(l) to rp.getPartition(h)).iterator
            .map(p => (p, r: InternalRow))
        }
      }
    val rangesPart = rangesDup.partitionBy(new Partitioner {
      override def numPartitions: Int = nParts
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    })

    val build = treeBuilder
    val probe = probeLoop
    factsPart.zipPartitions(rangesPart) { (fIt, rIt) =>
      probe(build(rIt.map(_._2).toArray), fIt.map(_._2))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): ShuffleRangeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy for point-in-range joins. Physical pick:
  *
  *  - ranges side hinted `merge` → [[ShuffleRangeJoinExec]] (the
  *    explicit over-broadcast escalation);
  *  - ranges side under the broadcast threshold (or hinted
  *    `broadcast`) → [[BroadcastRangeJoinExec]];
  *  - over-threshold with NO usable equi-conjunct in the remaining
  *    condition → [[ShuffleRangeJoinExec]] (Spark's own fallback
  *    would be a BroadcastNestedLoopJoin);
  *  - otherwise decline — an equi-conjunct means Spark can plan a
  *    hash join with the range predicate as residual, which must not
  *    be hijacked.
  */
object RangeJoinStrategy extends SparkStrategy {
  private def hasEquiConjunct(rest: Seq[Expression], facts: LogicalPlan,
      ranges: LogicalPlan): Boolean = rest.exists {
    case EqualTo(l, r) =>
      def spans(a: Expression, b: Expression): Boolean =
        a.references.nonEmpty && b.references.nonEmpty &&
          a.references.subsetOf(facts.outputSet) &&
          b.references.subsetOf(ranges.outputSet)
      spans(l, r) || spans(r, l)
    case _ => false
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoinPattern(facts, ranges, ip, lo, hi, loStrict, hiStrict,
        rest, joinType, rangesOnRight) =>
      val hint = plan match {
        case j: Join => j.hint
        case _ => JoinHint.NONE
      }
      val rangesHint =
        (if (rangesOnRight) hint.rightHint else hint.leftHint)
          .flatMap(_.strategy)
      val threshold = org.apache.spark.sql.internal.SQLConf.get
        .autoBroadcastJoinThreshold
      val small = threshold > 0 && ranges.stats.sizeInBytes <= threshold
      val extra = rest.reduceOption(And)
      def shuffleExec = ShuffleRangeJoinExec(planLater(facts),
        planLater(ranges), ip, lo, hi, loStrict, hiStrict, extra,
        joinType, facts.output, ranges.output, rangesOnRight)
      def broadcastExec = BroadcastRangeJoinExec(planLater(facts),
        planLater(ranges), ip, lo, hi, loStrict, hiStrict, extra,
        joinType, facts.output, ranges.output, rangesOnRight)
      if (rangesHint.contains(SHUFFLE_MERGE)) shuffleExec :: Nil
      else if (small || rangesHint.contains(BROADCAST)) broadcastExec :: Nil
      else if (!hasEquiConjunct(rest, facts, ranges)) shuffleExec :: Nil
      else Nil
    case _ => Nil
  }
}

/** SparkSessionExtensions entry point:
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  * Injects the range-join planner strategy, the [[AggViewRewrite]]
  * materialized-view rewrite rule, and registers the
  * Unicode-normalization scalar functions for SQL-string users
  * (`SELECT nfc_normalize(s) …`), mirroring their Column API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => RangeJoinStrategy)
    e.injectOptimizerRule(s => AggViewRewrite.Rule(s))
    e.injectOptimizerRule(s => ColStatsInjection.Rule(s))
    e.injectOptimizerRule(s => ZoneMapScan.Rule(s))
    GraftExtensions.sqlScalars.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[graft.functions.NfcNormalize].getName,
          name),
        GraftExtensions.arity1(name, build)))
    }
  }
}

object GraftExtensions {
  private[plans] def arity1(name: String,
      build: Expression => Expression): Seq[Expression] => Expression =
    args => {
      require(args.length == 1, s"$name expects exactly one argument")
      build(args.head)
    }

  /** The SQL-string scalar surface (one shared list: config-time
    * injection above and live-session registration below).
    */
  private[plans] val sqlScalars: Seq[(String, Expression => Expression)] =
    Seq(
      "nfc_normalize" -> graft.functions.NfcNormalize.apply _,
      "nfkc_normalize" -> graft.functions.NfkcNormalize.apply _,
      "strip_accents" -> graft.functions.StripAccents.apply _)

  /** Register the same functions on a LIVE session (tests,
    * interactive shells); production sessions get them via the
    * `spark.sql.extensions` config.
    */
  def registerSqlFunctions(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlScalars.foreach { case (name, build) =>
      org.apache.spark.sql.GraftBridge.registerFunction(spark, name,
        arity1(name, build))
    }
}
