package graft.plans

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.ColStats

/** The refresh loop's isolation property, checked the same way for
  * every bridge: of two registrations, the one whose base directory
  * is deleted after its pin reports as its own row (`refreshed =
  * false`, a "refresh failed: …" reason) and the healthy one still
  * reads "already fresh" — the pass completes instead of throwing.
  */
object RefreshIsolation {
  /** `pin(prefix, n)` writes an `n`-row table at `<prefix>-base`,
    * builds the bridge's artifact over it, registers it and returns
    * the registration's path; `refresh` is the bridge's refreshPins.
    */
  def check(tmpPrefix: String, okRows: Int, badRows: Int)(
      pin: (String, Int) => String)(refresh: => DataFrame): Unit = {
    val root = Files.createTempDirectory(tmpPrefix).toString
    val okPath = pin(s"$root/ok", okRows)
    val badPath = pin(s"$root/bad", badRows)
    scala.reflect.io.Directory(new java.io.File(s"$root/bad-base")).deleteRecursively()
    val rows = refresh.collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2)))
      .toMap
    // the pass completed and BOTH rows reported — the broken one as
    // its own failure, the healthy one as already fresh
    assert(rows(badPath)._2.nonEmpty && !rows(badPath)._1)
    assert(rows(badPath)._2.startsWith("refresh failed: "), rows(badPath)._2)
    assert(!rows(okPath)._1 && rows(okPath)._2.contains("fresh"),
      rows(okPath)._2)
  }
}

/** The pin protocol's empty-registry fast path: every session built
  * with [[GraftExtensions]] runs all three bridge rules on every plan
  * it optimizes, so a rule whose registry is empty must return the
  * plan without probing anything.
  */
class PinnedBridgeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Counts the listings the optimizer takes of one relation. */
  private final class CountingIndex(under: FileIndex) extends FileIndex {
    val listings = new AtomicInteger
    override def rootPaths: Seq[Path] = under.rootPaths
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      listings.incrementAndGet()
      under.listFiles(partitionFilters, dataFilters)
    }
    override def inputFiles: Array[String] = under.inputFiles
    override def refresh(): Unit = under.refresh()
    override def sizeInBytes: Long = under.sizeInBytes
    override def partitionSchema: StructType = under.partitionSchema
  }

  /** Bytes and read operations this thread took from any Hadoop
    * file system — a manifest read is one.
    */
  private def fsReads(): Long =
    FileSystem.getAllStatistics.asScala.map { st =>
      val t = st.getThreadStatistics
      t.getBytesRead + t.getReadOps
    }.sum

  test("with no registrations, the three rules optimize a parquet " +
      "aggregate without reading a manifest or folding a listing") {
    Seq(AggViewRewrite, ColStatsInjection, ZoneMapScan).foreach { b =>
      b.clear(); b.install(spark)
    }
    val root = Files.createTempDirectory("graft-pins-empty").toString
    val s = spark
    import s.implicits._
    (0 until 40).map(i => (s"g${i % 4}", i.toLong)).toDF("g", "x")
      .write.parquet(s"$root/base")
    ColStats.buildIfAbsent(spark.read.parquet(s"$root/base"), Seq("x"),
      Seq("g"), s"$root/st")
    val (l, h) = RelationPins.bare(
      GraftBridge.analyzedPlan(spark.read.parquet(s"$root/base"))).get
    val idx = new CountingIndex(h.location)
    val base = GraftBridge.ofRows(spark,
      l.copy(relation = h.copy(location = idx)(h.sparkSession)))
    def optimizeOnce(): (Int, Long) = {
      val (l0, r0) = (idx.listings.get, fsReads())
      GraftBridge.optimizedPlan(
        base.where(col("x") > 3L).groupBy("g").agg(sum("x")))
      (idx.listings.get - l0, fsReads() - r0)
    }
    assert(optimizeOnce() == ((0, 0L)))
    // the instruments see a probe: one registration of this table
    // makes the stats rule fold the listing and read the manifest
    ColStatsInjection.register(spark, spark.read.parquet(s"$root/base"),
      s"$root/st")
    try {
      val (listings, reads) = optimizeOnce()
      assert(listings > 0 && reads > 0, (listings, reads))
    } finally ColStatsInjection.clear()
    assert(optimizeOnce() == ((0, 0L)))
  }
}
