package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-20 optimization internals (guide §1.2/§2.4/§2.6):
  *
  *  - [[ColStats]]' build pass is now ONE grain-tagged scan instead
  *    of three exploded scans — this spec anchors the one-pass
  *    output to the THREE-PASS DEFINITION computed independently
  *    inline;
  *  - [[Par.widen]] widens only narrow bare scans, is the identity
  *    on joined plans and never changes results.
  */
class BuildOptSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  private var root: String = _
  private var tableDir: String = _

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graft-buildopt-spec").toString
    tableDir = s"$root/tbl"
    val s = spark
    import s.implicits._
    (0 until 2500).map { i =>
      (i.toLong,
        if (i % 13 == 0) None else Some((i % 37).toLong - 5L),
        if (i % 7 == 0) None else Some(s"v${i % 23}"))
    }.toDF("k", "g", "s")
      .repartitionByRange(3, col("k"))
      .write.parquet(tableDir)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("fused ColStats build equals the three-pass definition " +
      "computed independently") {
    val t = spark.read.parquet(tableDir)
    ColStats.buildIfAbsent(t, Seq("k", "g"), Seq("s"), s"$root/cs")

    // scalar — the old per-column pass, written out longhand
    def scalarNum(c: String) = t.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
      min(col(c).cast("long")).as("min_num"),
      max(col(c).cast("long")).as("max_num"),
      sum(col(c).cast("long")).as("sum_num"))
      .select(lit(c).as("col_name"), lit("num").as("kind"),
        col("n_rows"), col("n_nulls"), col("min_num"), col("max_num"),
        col("sum_num"), lit(null).cast("string").as("min_str"),
        lit(null).cast("string").as("max_str"),
        lit(null).cast("long").as("sum_len"),
        lit(null).cast("long").as("max_len"))
    def scalarStr(c: String) = t.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
      min(col(c)).as("min_str"), max(col(c)).as("max_str"),
      sum(length(col(c)).cast("long")).as("sum_len"),
      max(length(col(c)).cast("long")).as("max_len"))
      .select(lit(c).as("col_name"), lit("str").as("kind"),
        col("n_rows"), col("n_nulls"),
        lit(null).cast("long").as("min_num"),
        lit(null).cast("long").as("max_num"),
        lit(null).cast("long").as("sum_num"),
        col("min_str"), col("max_str"), col("sum_len"), col("max_len"))
    val wantScalar = scalarNum("k").unionByName(scalarNum("g"))
      .unionByName(scalarStr("s"))
    assert(rows(ColStats.stats(spark, s"$root/cs")) == rows(wantScalar))

    // histogram — per numeric column, the shared bucket definition
    // over non-null values only
    val wantHist = Seq("k", "g").map { c =>
      t.filter(col(c).isNotNull)
        .select(lit(c).as("col_name"),
          when(col(c).cast("long") === 0L, lit(0))
            .when(col(c).cast("long") > 0L,
              length(bin(col(c).cast("long"))).cast("int"))
            .otherwise(-length(bin(-col(c).cast("long"))).cast("int"))
            .as("bucket"))
        .groupBy("col_name", "bucket").agg(count(lit(1)).as("cnt"))
    }.reduce(_.unionByName(_))
    assert(rows(ColStats.hist(spark, s"$root/cs")) == rows(wantHist))

    // registers — spot-anchor: ndv estimates must be within the HLL
    // error envelope of the true distinct counts (the registers
    // themselves are pinned cross-engine by the q223 oracle)
    val ndv = ColStats.ndv(spark, s"$root/cs").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val truth = Map("k" -> 2500.0, "g" -> 37.0, "s" -> 23.0)
    truth.foreach { case (c, n) =>
      assert(math.abs(ndv(c) - n) / n < 0.35,
        s"ndv($c) = ${ndv(c)} vs true $n")
    }
  }

  test("size-gated build checkpoint: both branches produce identical " +
      "LM and BM25 artifacts") {
    val s = spark
    import s.implicits._
    val docs = (0 until 400).map { i =>
      (s"doc$i", s"alpha beta w${i % 17} w${i % 5} gamma delta " +
        s"tail${i % 41}")
    }.toDF("id", "text")
    docs.write.mode("overwrite").parquet(s"$root/docs")
    def d = spark.read.parquet(s"$root/docs")

    def buildPair(tag: String): (Seq[String], Seq[String], Seq[String]) = {
      LmIndex.buildIfAbsent(d, "text", "id", s"$root/lm-$tag",
        gbParts = 4, ibParts = 4)
      Bm25Index.buildIfAbsent(d, "text", "id", s"$root/bm-$tag",
        tbParts = 4, dlParts = 4)
      val lm = LmIndex.counts(spark, s"$root/lm-$tag")
      // the LM score additionally pins the manifest token total (st),
      // which the two branches derive differently
      val scored = LmIndex.score(spark, s"$root/lm-$tag",
        d.filter(col("id").isin("doc1", "doc7", "doc40")), "id", "text")
      (rows(lm.uni) ++ rows(scored), rows(lm.tri),
        rows(Bm25Index.score(spark, s"$root/bm-$tag",
          Seq("alpha", "w3"))))
    }

    // the small-batch branch must be the one the default takes here
    assert(Par.fitsCheckpointBudget(d))
    val small = buildPair("s")
    // force the corpus-scale (multi-scan, no-checkpoint) branch
    spark.conf.set("spark.graft.build.checkpointMaxBytes", "0")
    try {
      assert(!Par.fitsCheckpointBudget(d))
      val big = buildPair("b")
      assert(small == big)
    } finally
      spark.conf.unset("spark.graft.build.checkpointMaxBytes")
  }

  test("Par.widen widens a narrow bare scan without changing rows, " +
      "and is the identity on joined plans") {
    val t = spark.read.parquet(tableDir).select("k", "g")
    val target = spark.sparkContext.defaultParallelism
    val widened = Par.widen(t)
    if (t.rdd.getNumPartitions < target)
      assert(widened.rdd.getNumPartitions == target)
    assert(rows(widened) == rows(t))

    val joined = t.as("a").join(
      spark.read.parquet(tableDir).select(col("k")).as("b"), "k")
    // identity: same plan object back, no exchange added
    assert(Par.widen(joined) eq joined)
  }
}
