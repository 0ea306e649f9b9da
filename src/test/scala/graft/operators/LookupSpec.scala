package graft.operators

import java.sql.Date

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.functions.IpMath
import graft.plans.RangeJoinDifferential

class LookupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def rangesDf(rows: (String, String)*) = {
    import spark.implicits._
    rows.map { case (cidr, pay) =>
      val r = IpMath.cidrToRange(cidr)
      (r._1, r._2, pay)
    }.toDF("lo", "hi", "payload")
  }

  test("SearchBinary golden queries (iputils_test.go:69-129)") {
    import spark.implicits._
    val flat = Ranges.flattenRanges(
      rangesDf("1.0.0.0/24" -> "custom1", "1.0.0.2/26" -> "custom2",
        "1.0.10.0/24" -> "custom3", "1.0.10.124/30" -> "custom4",
        "2.1.0.0/8" -> "custom5").withColumn("dataset", lit("d")),
      Seq("dataset"))
    val probes = Seq("1.0.0.1", "1.0.0.60", "1.0.0.67", "1.0.10.123",
      "1.0.10.124", "1.0.10.200", "2.2.155.43", "192.4.1.123")
    val facts = probes.map(p => (p, IpMath.parseIp(p))).toDF("ip", "bin")
    val got = RangeLookup.lookup(spark, facts.select("ip", "bin"),
        flat.drop("dataset"), col("bin"))
      .select("ip", "payload").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "1.0.0.1" -> "custom1", "1.0.0.60" -> "custom2",
      "1.0.0.67" -> "custom1", "1.0.10.123" -> "custom3",
      "1.0.10.124" -> "custom4", "1.0.10.200" -> "custom3",
      "2.2.155.43" -> "custom5", "192.4.1.123" -> null))
  }

  test("differential: binary-search lookup agrees with naive range join " +
      "on 10k random probes (geo-ip_test.go:123-203 pattern)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // disjoint-by-construction random ranges in 10.x.y.0/24 blocks
    val ranges = (0 until 2000).map { i =>
      val base = IpMath.parseIp(s"10.${i / 256}.${i % 256}.0")
      val width = 1 + rnd.nextInt(200)
      (base, IpMath.ipAdd(base, width), s"p$i")
    }.toDF("lo", "hi", "payload")
    val probes = (1 to 10000).map { _ =>
      IpMath.parseIp(
        s"10.${rnd.nextInt(9)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}")
    }.zipWithIndex.map { case (b, i) => (i, b) }.toDF("id", "bin")

    val fast = RangeLookup.lookup(spark, probes, ranges, col("bin"))
      .select("id", "payload").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val naive = RangeLookup.lookupNaive(probes, ranges, col("bin"))
      .select("id", "payload").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(fast == naive)
    assert(fast.values.exists(_ != null) && fast.values.exists(_ == null))
  }

  // q69/q73's over-broadcast range join, once a bucketed equi-join,
  // is now the merge-hinted ShuffleRangeJoinExec; these three checks
  // keep the bucket join's tables and run them through both
  // range-join execs against lookupNaive.

  test("bucketed range join agrees with naive on bucket-spanning ranges") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    // mix of narrow ranges and wide ones spanning many /16s
    val ranges = ((0 until 300).map { i =>
      val base = IpMath.parseIp(s"10.${i % 50}.${rnd.nextInt(250)}.0")
      (base, IpMath.ipAdd(base, 100 + rnd.nextInt(300)), s"n$i")
    } ++ (0 until 10).map { i =>
      val base = IpMath.parseIp(s"${20 + i}.0.0.0")
      (base, IpMath.ipAdd(base, 3L << 16), s"w$i") // spans 4 /16s
    }).toDF("lo", "hi", "payload")
    val probes = (1 to 4000).map { i =>
      (i.toLong, IpMath.parseIp(
        s"${10 + rnd.nextInt(22)}.${rnd.nextInt(52)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"))
    }.toDF("id", "bin")
    val (rows, _) = RangeJoinDifferential.check("spanning", ranges, probes)
    assert(rows.exists(r => r._2 != null && r._2.startsWith("w")))
  }

  test("adaptive bucket width follows the table's span stats and " +
      "bounds the build side (wide /8 ranges stay ONE row each)") {
    import spark.implicits._
    // no bucket width is left to adapt: the shuffle path's partition
    // bounds follow the facts' quantiles instead. The build-side
    // bound still holds: each /8 is one tree row, not 256 /16-bucket
    // rows, and the shuffle path copies a range only into the
    // partitions it overlaps
    val slash8 = (0 until 25).map { i =>
      val r = IpMath.cidrToRange(s"${100 + i}.0.0.0/8")
      (r._1, r._2, s"t$i")
    }.toDF("lo", "hi", "payload")
    val probes = (1 to 500).map { i =>
      (i.toLong, IpMath.parseIp(
        s"${90 + i % 40}.${i % 256}.3.${i % 100}"))
    }.toDF("id", "bin")
    val (_, built) = RangeJoinDifferential.check("/8s", slash8, probes)
    assert(built("BroadcastRangeJoin") == 25L)
    // disjoint ranges: each partition boundary splits at most one
    val parts = RangeJoinDifferential.shufflePartitions
    val shuffled = built("ShuffleRangeJoin")
    assert(shuffled >= 25L && shuffled <= 25L + parts - 1, shuffled)
  }

  test("bucketed range join agrees with naive on mixed v4/v6 + straddling range") {
    import spark.implicits._
    val v4RegionHi = IpMath.parseIp("255.255.255.255")
    val ranges = Seq(
      (IpMath.parseIp("10.0.0.0"), IpMath.parseIp("10.0.255.255"), "v4a"),
      (IpMath.parseIp("2001:db8::"), IpMath.parseIp("2001:db8::ffff"), "v6a"),
      (IpMath.parseIp("2600::"), IpMath.parseIp("2600::1:0"), "v6b"),
      // straddles the v4-mapped region's upper boundary
      (IpMath.parseIp("255.255.255.250"), IpMath.ipAdd(v4RegionHi, 5L), "odd"))
      .toDF("lo", "hi", "payload")
    val probes = Seq(
      (1L, IpMath.parseIp("10.0.1.2")), // v4a
      (2L, IpMath.parseIp("10.1.0.1")), // miss
      (3L, IpMath.parseIp("2001:db8::5")), // v6a
      (4L, IpMath.parseIp("2600::5")), // v6b
      (5L, IpMath.parseIp("255.255.255.252")), // odd, v4 side
      (6L, IpMath.ipAdd(v4RegionHi, 2L)), // odd, v6 side
      (7L, IpMath.parseIp("::1"))) // miss
      .toDF("id", "bin")
    val (rows, _) = RangeJoinDifferential.check("mixed", ranges, probes)
    assert(rows.toMap.apply(5L) == "odd" && rows.toMap.apply(6L) == "odd")
  }

  test("as-of snapshot selection golden (directory_test.go:44-79)") {
    import spark.implicits._
    val base = java.time.LocalDate.of(2009, 2, 8)
    val snaps = Seq(0, 50, 100, 200, 278, 478)
      .map(w => Date.valueOf(base.plusWeeks(w)))
      .toDF("snap_date")
    val queries = Seq(
      ("2017-01-01", "2014-06-08"),
      ("2011-01-01", "2010-01-24"),
      ("2018-05-01", "2018-04-08"),
      ("2005-01-01", "2009-02-08"), // before first → clamp to earliest
      ("2030-01-01", "2018-04-08")) // after last → last
    val facts = queries.map(q => Date.valueOf(q._1)).toDF("d")
    val got = AsOf.asOfSnapshot(facts, snaps, col("d"), "snap_date")
      .orderBy("d").collect()
      .map(r => (r.getDate(0).toString, r.getDate(1).toString)).toSeq
    assert(got.sortBy(_._1) == queries.map(q => (q._1, q._2)).sortBy(_._1))
  }

  test("asOfMerge inclusive/strict semantics: golden cases") {
    import spark.implicits._
    val snaps = Seq(
      (1L, Date.valueOf("2020-01-10"), "s1"),
      (1L, Date.valueOf("2020-02-10"), "s2"),
      (2L, Date.valueOf("2020-03-01"), "s3"))
      .toDF("k", "snap_date", "v")
    val facts = Seq(
      (10L, 1L, Date.valueOf("2020-01-09")), // before first → no match
      (11L, 1L, Date.valueOf("2020-01-10")), // tie → inclusive match s1
      (12L, 1L, Date.valueOf("2020-02-09")), // between → s1
      (13L, 1L, Date.valueOf("2020-05-01")), // after last → s2
      (14L, 2L, Date.valueOf("2020-03-02")), // s3
      (15L, 3L, Date.valueOf("2020-03-02"))) // unknown key → no match
      .toDF("id", "k", "t")
    def run(joinType: String, clamp: Boolean = false) =
      AsOf.asOfMerge(facts, snaps, col("t"), "snap_date", Seq("k"),
          joinType, clamp)
        .select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1))
        .toMap
    assert(run("inner") == Map(11L -> "s1", 12L -> "s1", 13L -> "s2",
      14L -> "s3"))
    assert(run("left") == Map(10L -> null, 11L -> "s1", 12L -> "s1",
      13L -> "s2", 14L -> "s3", 15L -> null))
    // clamp: the too-early fact takes its key's EARLIEST snapshot;
    // unknown keys still match nothing
    assert(run("inner", clamp = true) == Map(10L -> "s1", 11L -> "s1",
      12L -> "s1", 13L -> "s2", 14L -> "s3"))
  }

  test("asOfMerge payload struct is atomic — a snapshot NULL column " +
      "never stitches values from two snapshot rows") {
    import spark.implicits._
    val snaps = Seq(
      (1L, Date.valueOf("2020-01-01"), "x1", null.asInstanceOf[String]),
      (1L, Date.valueOf("2020-02-01"), null.asInstanceOf[String], "y2"))
      .toDF("k", "snap_date", "x", "y")
    val facts = Seq((1L, Date.valueOf("2020-03-01"))).toDF("k", "t")
    val got = AsOf.asOfMerge(facts, snaps, col("t"), "snap_date", Seq("k"))
      .select("x", "y").collect().head
    // matched row is the 2020-02-01 snapshot in full: x NULL, y "y2" —
    // per-column last(ignoreNulls) would have resurrected x1
    assert(got.isNullAt(0) && got.getString(1) == "y2")
  }

  test("differential: asOfMerge agrees with the naive " +
      "expand-then-aggregate as-of on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val snaps = (1 to 200).map { i =>
      (rnd.nextInt(20).toLong, Date.valueOf(java.time.LocalDate
        .of(2020, 1, 1).plusDays(rnd.nextInt(300))), s"v$i")
    }.toDF("k", "snap_date", "v")
    // dedup (k, date) so the matched payload is deterministic
      .groupBy("k", "snap_date").agg(first("v").as("v"))
    val facts = (1 to 500).map { i =>
      (i.toLong, rnd.nextInt(25).toLong, Date.valueOf(java.time.LocalDate
        .of(2020, 1, 1).plusDays(rnd.nextInt(320))))
    }.toDF("id", "k", "t")
    val naive = facts.as("f")
      .join(snaps.as("s"),
        col("s.k") === col("f.k") && col("s.snap_date") <= col("f.t"))
      .groupBy(col("f.id")).agg(max(struct(col("s.snap_date"), col("s.v")))
        .as("m"))
      .select(col("id"), col("m.v").as("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val merged = AsOf.asOfMerge(facts, snaps, col("t"), "snap_date",
        Seq("k"), "inner")
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(merged == naive)
    // clamped variant agrees with the interval-join asOfSnapshot
    // (which implements the same directory.go clamp rule) on every
    // fact whose key has snapshots
    val viaInterval = AsOf.asOfSnapshot(facts, snaps, col("t"),
        "snap_date", keyCols = Seq("k"))
      .filter(col("v").isNotNull)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val mergedClamped = AsOf.asOfMerge(facts, snaps, col("t"), "snap_date",
        Seq("k"), "inner", clamp = true)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(mergedClamped == viaInterval)
  }

  test("alignSnapshots builds the unified date spine (MergeAnnotators J9)") {
    import spark.implicits._
    val a = Seq(("2020-01-01", "a1"), ("2020-03-01", "a2"))
      .map { case (d, v) => (Date.valueOf(d), v) }.toDF("d", "geo")
    val b = Seq(("2020-02-01", "b1"), ("2020-04-01", "b2"))
      .map { case (d, v) => (Date.valueOf(d), v) }.toDF("d", "asn")
    val got = AsOf.alignSnapshots(Seq(a, b), "d")
      .orderBy("d").collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq(
      ("2020-01-01", "a1", "b1"), // b clamped to earliest
      ("2020-02-01", "a1", "b1"),
      ("2020-03-01", "a2", "b1"),
      ("2020-04-01", "a2", "b2")))
  }
}
