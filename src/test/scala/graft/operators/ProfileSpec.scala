package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The one profiling pass ([[Profile.aggregate]]): its physical plan
  * scans the corpus ONCE (one parquet scan node) for every caller's
  * grain set, and a grain a caller does not request adds nothing to
  * its pass. The artifacts it feeds are pinned by their own specs
  * (ColStatsSpec's golden values, ZoneMapSpec).
  */
class ProfileSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  private var tableDir: String = _
  private var root: String = _

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graft-profile-spec").toString
    tableDir = s"$root/tbl"
    val s = spark
    import s.implicits._
    (0 until 3000).map { i =>
      (i.toLong,
        if (i % 13 == 0) None else Some((i % 40).toLong),
        if (i % 7 == 0) None else Some(s"s${i % 25}"),
        (i % 11).toLong)
    }.toDF("k", "g", "s", "b")
      .repartitionByRange(4, col("k"))
      .write.parquet(tableDir)
  }

  private val num = Seq("k", "g")
  private val str = Seq("s")
  private val blooms = Seq("b")

  test("the fused aggregate scans the corpus exactly once") {
    // every caller's grain set: ColStats' table-grain staging and
    // ZoneMap's per-file profile
    for ((grains, byFile) <- Seq(Profile.ColStatsGrains -> false,
        Profile.ZoneMapGrains -> true)) {
      val agg = Profile.aggregate(spark.read.parquet(tableDir), grains,
        num, str, byFile, bloomCols = blooms, bloomBits = 8192,
        bloomK = 3)
      val p = agg.queryExecution.executedPlan.toString
      assert("Scan parquet".r.findAllIn(p).length == 1, p)
      // a grain the caller does not request adds no column and no
      // per-row expression to its pass
      assert(agg.columns.contains("file") == byFile)
      assert(agg.columns.contains("maxrho") == grains("hl"))
      assert(agg.columns.contains("sumlen") == grains("hl"))
      assert(agg.columns.contains("orbits") == grains("bl"))
      assert(agg.columns.contains("xorv") == grains("fp"))
      assert(p.contains("xxhash64") == (grains("bl") || grains("fp")), p)
      assert(p.contains("rho") == grains("hl"), p)
    }
  }
}
