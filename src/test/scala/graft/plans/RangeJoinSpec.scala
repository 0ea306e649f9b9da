package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.functions.IpMath

class RangeJoinSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    GraftBridge.addStrategy(s, RangeJoinStrategy)
    s
  }

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("strategy fires: range-predicate join plans BroadcastRangeJoinExec") {
    import spark.implicits._
    val facts = (1 to 1000).map(i => (i.toLong, (i % 55).toDouble))
      .toDF("id", "qty")
    val bins = Seq((0, 10), (10, 25), (25, 51)).toDF("lo", "hi")
    val joined = facts.join(bins,
      col("qty") >= col("lo") && col("qty") < col("hi"))
    assert(physicalPlan(joined).contains("BroadcastRangeJoin"))
    assert(!physicalPlan(joined).contains("BroadcastNestedLoopJoin"))
    // result parity with the computed expectation
    val got = joined.groupBy("lo").agg(count(lit(1)).as("c"))
      .orderBy("lo").collect().map(r => (r.getInt(0), r.getLong(1)))
    val expect = (1 to 1000).map(i => (i % 55).toDouble)
      .filter(_ < 51).groupBy(q => if (q < 10) 0 else if (q < 25) 10 else 25)
      .view.mapValues(_.size.toLong).toMap
    assert(got.toMap == expect)
  }

  test("left outer + binary IPs + extra conjunct, vs naive BNLJ result") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // overlapping ranges on purpose: multi-match correctness
    val ranges = (0 until 500).map { i =>
      val lo = IpMath.parseIp(s"10.0.${i % 40}.${rnd.nextInt(200)}")
      (lo, IpMath.ipAdd(lo, 1 + rnd.nextInt(300)), s"p$i", i % 2)
    }.toDF("lo", "hi", "tag", "parity")
    val probes = (1 to 3000).map { i =>
      (i.toLong, IpMath.parseIp(s"10.0.${rnd.nextInt(45)}.${rnd.nextInt(256)}"))
    }.toDF("id", "ip")

    val cond = col("ip") >= col("lo") && col("ip") <= col("hi") &&
      col("parity") === 1
    val fast = probes.join(ranges, cond, "left")
    assert(physicalPlan(fast).contains("BroadcastRangeJoin"))
    val fastRows = fast.select("id", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

    // baseline: driver-side nested loop over the same data
    val rangeRows = ranges.collect().map(r => (r.getAs[Array[Byte]](0),
      r.getAs[Array[Byte]](1), r.getString(2), r.getInt(3)))
    val probeRows = probes.collect().map(r => (r.getLong(0),
      r.getAs[Array[Byte]](1)))
    val naiveRows = probeRows.flatMap { case (id, ip) =>
      val matches = rangeRows.filter { case (lo, hi, _, parity) =>
        IpMath.compare(ip, lo) >= 0 && IpMath.compare(ip, hi) <= 0 &&
          parity == 1
      }
      if (matches.isEmpty) Seq((id, null: String))
      else matches.toSeq.map(m => (id, m._3))
    }.sorted.toSeq
    assert(fastRows == naiveRows)
    assert(fastRows.exists(_._2 == null)) // some misses survive as outer rows
  }

  test("strategy leaves equi joins and non-broadcastable shapes alone") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("k", "v")
    val b = Seq((1, "y")).toDF("k", "w")
    val eq = a.join(b, "k")
    assert(!physicalPlan(eq).contains("BroadcastRangeJoin"))
  }

  test("merge hint on the ranges side plans ShuffleRangeJoinExec " +
      "with the broadcast path's exact result") {
    import spark.implicits._
    val facts = (1 to 1000).map(i => (i.toLong, (i % 55).toDouble))
      .toDF("id", "qty")
    val bins = Seq((0, 10), (10, 25), (25, 51)).toDF("lo", "hi")
    val cond = col("qty") >= col("lo") && col("qty") < col("hi")
    val shuffled = facts.join(bins.hint("merge"), cond)
    assert(physicalPlan(shuffled).contains("ShuffleRangeJoin"),
      physicalPlan(shuffled))
    val got = shuffled.groupBy("lo").agg(count(lit(1)).as("c"))
      .orderBy("lo").collect().map(r => (r.getInt(0), r.getLong(1)))
    val viaBroadcast = facts.join(bins, cond)
      .groupBy("lo").agg(count(lit(1)).as("c"))
      .orderBy("lo").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSeq == viaBroadcast.toSeq)
  }

  test("shuffle path: left outer + overlapping binary ranges + " +
      "extra conjunct + null probes matches the broadcast path") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val ranges = (0 until 400).map { i =>
      val lo = IpMath.parseIp(s"10.0.${i % 30}.${rnd.nextInt(200)}")
      (lo, IpMath.ipAdd(lo, 1 + rnd.nextInt(400)), s"p$i", i % 2)
    }.toDF("lo", "hi", "tag", "parity")
    val probes = (1 to 2000).map { i =>
      val ip = if (i % 97 == 0) null
        else IpMath.parseIp(s"10.0.${rnd.nextInt(35)}.${rnd.nextInt(256)}")
      (i.toLong, ip)
    }.toDF("id", "ip")
    val cond = col("ip") >= col("lo") && col("ip") <= col("hi") &&
      col("parity") === 1
    val viaShuffle = probes.join(ranges.hint("merge"), cond, "left")
    assert(physicalPlan(viaShuffle).contains("ShuffleRangeJoin"))
    val a = viaShuffle.select("id", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val viaBroadcast = probes.join(ranges, cond, "left")
    assert(physicalPlan(viaBroadcast).contains("BroadcastRangeJoin"))
    val b = viaBroadcast.select("id", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a == b)
    assert(a.exists(_._2 == null)) // outer misses (incl. null probes) kept
  }

  test("over-threshold ranges with no equi conjunct auto-escalate " +
      "to the shuffle path instead of a BNLJ") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val facts = (1 to 200).map(i => (i.toLong, (i % 55).toDouble))
        .toDF("id", "qty")
      val bins = Seq((0, 10), (10, 25), (25, 51)).toDF("lo", "hi")
      val joined = facts.join(bins,
        col("qty") >= col("lo") && col("qty") < col("hi"))
      val p = physicalPlan(joined)
      assert(p.contains("ShuffleRangeJoin"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("differential: broadcast and merge-hinted left joins equal " +
      "lookupNaive on fully nested ranges") {
    import spark.implicits._
    // 200 fully nested intervals, all containing 500: up to 200
    // matches per probe
    val nested = (0 until 200).map(i => (i.toLong, (1000 - i).toLong, s"n$i"))
      .toDF("lo", "hi", "payload")
    val probes = (-1L to 1001L by 7L).map(ip => (ip, ip)).toDF("id", "bin")
    val (want, _) = RangeJoinDifferential.check("all-nested", nested, probes)
    assert(want.groupBy(_._1).values.map(_.size).max == 200)
  }

  test("merge-hinted join spreads a hot /8 by fact quantiles: exact " +
      "per-tag totals, no join partition over half the probes") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.shuffle.partitions", "8")
      // 64 single-/8 ranges: 10.0.0.0/8 is hot, the rest are cold
      val ranges = (10 until 74).map { o =>
        (IpMath.parseIp(s"$o.0.0.0"), IpMath.parseIp(s"$o.255.255.255"), s"as$o")
      }.toDF("lo", "hi", "tag")
      // 120k probes, 90 % of them in 10.0.0.0/8
      val rnd = new scala.util.Random(31)
      val octets = (0 until 120000).map(i =>
        if (i % 10 < 9) 10 else 11 + rnd.nextInt(63))
      val probes = octets.zipWithIndex.map { case (o, i) =>
        (i.toLong, IpMath.parseIp(
          s"$o.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"))
      }.toDF("id", "ip")
      val joined = probes.join(ranges.hint("merge"),
        col("ip") >= col("lo") && col("ip") <= col("hi"))
      assert(physicalPlan(joined).contains("ShuffleRangeJoin"))
      val perTag = joined.groupBy("tag").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perTag == octets.groupBy(o => s"as$o")
        .map { case (t, os) => t -> os.size.toLong })
      // spark_partition_id sits in the join's own stage, so it names
      // the join partition each probe landed in
      val perPartition = joined.groupBy(spark_partition_id()).count()
        .collect().map(_.getLong(1))
      assert(perPartition.sum == 120000L)
      assert(perPartition.max <= 60000L, perPartition.mkString(","))
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }
}
