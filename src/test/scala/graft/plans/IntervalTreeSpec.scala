package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.LongType

/** Both range-join execs' probe structure, differentially
  * checked against the naive linear scan: random overlapping /
  * nested / degenerate interval sets, every strictness combination,
  * probes on and off endpoints — the stabbing set must match exactly
  * (seeded-random property style, the LegacyDatPropertySpec
  * discipline).
  */
class IntervalTreeSpec extends AnyFunSuite {
  private val loRef = BoundReference(0, LongType, nullable = true)
  private val hiRef = BoundReference(1, LongType, nullable = true)
  private val ordering = TypeUtils.getInterpretedOrdering(LongType)

  private def row(lo: java.lang.Long, hi: java.lang.Long): InternalRow =
    new GenericInternalRow(Array[Any](lo, hi))

  private def naive(ivs: Seq[(Long, Long)], ip: Long,
      loStrict: Boolean, hiStrict: Boolean): Seq[Int] =
    ivs.zipWithIndex.collect {
      case ((lo, hi), i)
        if (if (loStrict) lo < ip else lo <= ip) &&
          (if (hiStrict) ip < hi else ip <= hi) => i
    }

  test("property: random interval mixes match the naive stab for " +
      "every strictness combination") {
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 0 until 30) {
      val n = 1 + rnd.nextInt(120)
      // mixed widths on purpose: points, narrow, and huge covers
      val ivs = Seq.fill(n) {
        val lo = rnd.nextInt(1000).toLong
        val w = rnd.nextInt(4) match {
          case 0 => 0L
          case 1 => rnd.nextInt(5).toLong
          case 2 => rnd.nextInt(100).toLong
          case _ => 500L + rnd.nextInt(500)
        }
        (lo, lo + w)
      }
      // include an inverted and a null-bounded row: both must vanish
      val rows = (ivs.map { case (l, h) => row(l, h) } ++
        Seq(row(900L, 100L), row(null, 50L), row(50L, null))).toArray
      for {
        loStrict <- Seq(false, true)
        hiStrict <- Seq(false, true)
      } {
        val tree = IntervalTree.build(rows, loRef, hiRef, ordering,
          loStrict, hiStrict)
        // probes: endpoints (boundary semantics) + random interior
        val probes = ivs.flatMap(t => Seq(t._1, t._2)) ++
          Seq.fill(50)(rnd.nextInt(1100).toLong)
        probes.foreach { ip =>
          val got = scala.collection.mutable.ArrayBuffer[Long]()
          tree.foreachMatch(ip)(r => got += r.getLong(0) * 100000 +
            r.getLong(1))
          val want = naive(ivs, ip, loStrict, hiStrict)
            .map(i => ivs(i)._1 * 100000 + ivs(i)._2)
          assert(got.sorted == want.sorted.toBuffer,
            s"trial=$trial ip=$ip loStrict=$loStrict hiStrict=$hiStrict")
        }
      }
    }
  }

  test("null probe and empty tree match nothing") {
    val tree = IntervalTree.build(Array(row(1L, 5L)), loRef, hiRef,
      ordering, loStrict = false, hiStrict = false)
    var n = 0
    tree.foreachMatch(null)(_ => n += 1)
    assert(n === 0)
    val empty = IntervalTree.build(Array.empty[InternalRow], loRef,
      hiRef, ordering, loStrict = false, hiStrict = false)
    empty.foreachMatch(3L)(_ => n += 1)
    assert(n === 0)
  }

  test("all-nested intervals (worst case for a prefix-max walk) " +
      "still answer in matches + depth") {
    // 200 intervals all containing point 500, fully nested
    val rows = (0 until 200).map(i =>
      row(i.toLong, (1000 - i).toLong)).toArray
    val tree = IntervalTree.build(rows, loRef, hiRef, ordering,
      loStrict = false, hiStrict = false)
    var n = 0
    tree.foreachMatch(500L)(_ => n += 1)
    assert(n === 200)
    n = 0
    tree.foreachMatch(-1L)(_ => n += 1)
    assert(n === 0)
  }
}
