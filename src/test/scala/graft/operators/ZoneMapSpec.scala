package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual,
  IsNull, LessThanOrEqual, StringContains}

import graft.SparkTestSession

/** Per-file zone maps: exact per-file profile, conservative file
  * pruning (range/equality/null tests; unknown filters and columns
  * never prune), scan ≡ full read under any predicate, O(new-files)
  * refresh with exact retraction on file removal, racing-refresh
  * convergence, and the SQL source's transparent data skipping.
  */
class ZoneMapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(p: String) =
    Files.createTempDirectory(p).toString

  /** A 4-file table CLUSTERED by k (repartitionByRange), so k zones
    * are disjoint and pruning is observable. v is null on k % 9 == 0;
    * file 0's s-range is disjoint from the rest.
    */
  private def writeTable(dir: String, from: Int = 0,
      until: Int = 400, files: Int = 4): Unit = {
    import spark.implicits._
    (from until until).map { i =>
      (i.toLong,
        if (i % 9 == 0) None else Some((i * 7 % 1000).toLong),
        f"g${i % 26}%s")
    }.toDF("k", "v", "s")
      .repartitionByRange(files, col("k"))
      .write.mode("append").parquet(dir)
  }

  private def build(dir: String, idx: String) =
    ZoneMap.buildIfAbsent(spark, dir, Seq("k", "v"), Seq("s"), idx)

  test("built stats equal the direct per-file profile") {
    val dir = tmp("zm-t"); val idx = tmp("zm-i")
    writeTable(dir)
    build(dir, idx)
    val direct = spark.read.parquet(dir)
      .select(regexp_replace(
          regexp_replace(input_file_name(),
            "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
          "^[a-zA-Z][a-zA-Z0-9+.-]*:", "").as("file"),
        col("k"), col("v"), col("s"))
      .groupBy("file")
      .agg(count(lit(1)).as("n"),
        min("k").as("min_k"), max("k").as("max_k"),
        min("v").as("min_v"), max("v").as("max_v"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("nulls_v"),
        min("s").as("min_s"), max("s").as("max_s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getString(7), r.getString(8)))
      .toMap
    val got = ZoneMap.stats(spark, idx).collect()
    assert(got.map(_.getString(0)).toSet == direct.keySet)
    got.foreach { r =>
      val (n, minK, maxK, minV, maxV, nullsV, minS, maxS) =
        direct(r.getString(0))
      val col = r.getString(1)
      assert(r.getLong(3) == n, s"n_rows $col") // n_rows
      col match {
        case "k" =>
          assert(r.getLong(4) == 0L) // n_nulls
          assert(r.getLong(5) == minK && r.getLong(6) == maxK)
        case "v" =>
          assert(r.getLong(4) == nullsV)
          assert(r.getLong(5) == minV && r.getLong(6) == maxV)
        case "s" =>
          assert(r.getString(7) == minS && r.getString(8) == maxS)
      }
    }
  }

  test("pruning: range predicates drop non-intersecting files; " +
      "scan ≡ full read under the re-applied predicate; unknown " +
      "filters and undeclared columns never prune") {
    val dir = tmp("zm-t"); val idx = tmp("zm-i")
    writeTable(dir)
    build(dir, idx)
    val all = ZoneMap.prune(spark, idx, Nil)._1
    assert(all.size == 4)
    // k is range-clustered: a one-quartile range keeps ~1 file
    val fs = Seq(GreaterThanOrEqual("k", 0L), LessThanOrEqual("k", 80L))
    val (kept, total) = ZoneMap.prune(spark, idx, fs)
    assert(total == 4 && kept.size < 4 && kept.nonEmpty)
    val scanned = ZoneMap.scan(spark, idx, fs)
      .filter(col("k") >= 0 && col("k") <= 80)
    val direct = spark.read.parquet(dir)
      .filter(col("k") >= 0 && col("k") <= 80)
    assert(scanned.collect().toSet == direct.collect().toSet)
    assert(scanned.inputFiles.length == kept.size)
    // equality out of range prunes everything
    assert(ZoneMap.prune(spark, idx, Seq(EqualTo("k", 10000L)))._1.isEmpty)
    assert(ZoneMap.scan(spark, idx,
      Seq(EqualTo("k", 10000L))).count() == 0)
    // unsupported filter shape: conservative, keeps all
    assert(ZoneMap.prune(spark, idx,
      Seq(StringContains("s", "g1")))._1.size == 4)
    // undeclared column: conservative, keeps all
    assert(ZoneMap.prune(spark, idx,
      Seq(EqualTo("nope", 1L)))._1.size == 4)
    // IsNull prunes files with zero nulls in v — every file here has
    // some k%9 rows, so this keeps all; on k (never null) it prunes all
    assert(ZoneMap.prune(spark, idx, Seq(IsNull("v")))._1.size == 4)
    assert(ZoneMap.prune(spark, idx, Seq(IsNull("k")))._1.isEmpty)
  }

  test("refresh profiles only new files (delta commit) and reuses " +
      "when nothing changed; fingerprint equals a fresh build's") {
    val dir = tmp("zm-t"); val idx = tmp("zm-i"); val idx2 = tmp("zm-i2")
    writeTable(dir, 0, 400)
    build(dir, idx)
    assert(ZoneMap.refresh(spark, idx).reused)
    writeTable(dir, 400, 600, files = 2)
    val r = ZoneMap.refresh(spark, idx)
    assert(!r.reused)
    // a second refresh is a no-op
    assert(ZoneMap.refresh(spark, idx).reused)
    // state equals a from-scratch build over the grown table
    val fresh = build(dir, idx2)
    assert(r.fingerprint == fresh.fingerprint && r.count == fresh.count)
    assert(ZoneMap.stats(spark, idx).collect().toSet ==
      ZoneMap.stats(spark, idx2).collect().toSet)
    // and the build over the same table reuses in place
    assert(build(dir, idx).reused)
  }

  test("compactDeltas folds refresh deltas into one dir without " +
      "changing the served stats, blooms, or pruning") {
    import org.apache.spark.sql.sources.EqualTo
    val dir = tmp("zm-t"); val idx = tmp("zm-i")
    writeTable(dir, 0, 200, files = 2)
    ZoneMap.buildIfAbsent(spark, dir, Seq("k", "v"), Seq("s"), idx,
      bloomCols = Seq("s"))
    writeTable(dir, 200, 300, files = 1)
    assert(!ZoneMap.refresh(spark, idx).reused)
    writeTable(dir, 300, 400, files = 1)
    assert(!ZoneMap.refresh(spark, idx).reused)
    val statsBefore = ZoneMap.stats(spark, idx).collect().toSet
    val pruneBefore = ZoneMap.prune(spark, idx,
      Seq(EqualTo("s", "g3")))._1
    assert(ZoneMap.compactDeltas(spark, idx) == 2)
    assert(ZoneMap.stats(spark, idx).collect().toSet == statsBefore)
    assert(ZoneMap.prune(spark, idx,
      Seq(EqualTo("s", "g3")))._1 == pruneBefore)
    // compacted artifact keeps composing: another refresh lands a
    // new delta beside the fold, and the next compaction folds both
    writeTable(dir, 400, 450, files = 1)
    assert(!ZoneMap.refresh(spark, idx).reused)
    assert(ZoneMap.compactDeltas(spark, idx) == 2)
    assert(ZoneMap.compactDeltas(spark, idx) == 0) // single delta now
  }

  test("file removal retracts exactly: refresh rewrites to the " +
      "survivors and scans stay correct") {
    val dir = tmp("zm-t"); val idx = tmp("zm-i"); val idx2 = tmp("zm-i2")
    writeTable(dir)
    build(dir, idx)
    val victim = ZoneMap.listDataFiles(dir).head.key
    Files.delete(java.nio.file.Paths.get(victim))
    val r = ZoneMap.refresh(spark, idx)
    assert(!r.reused)
    val fresh = build(dir, idx2)
    assert(r.fingerprint == fresh.fingerprint && r.count == fresh.count)
    assert(ZoneMap.stats(spark, idx).collect().toSet ==
      ZoneMap.stats(spark, idx2).collect().toSet)
    val scanned = ZoneMap.scan(spark, idx, Nil)
    assert(scanned.collect().toSet ==
      spark.read.parquet(dir).collect().toSet)
    // add + remove in one refresh also converges to the fresh build
    writeTable(dir, 600, 700, files = 1)
    val victim2 = ZoneMap.listDataFiles(dir).last.key
    Files.delete(java.nio.file.Paths.get(victim2))
    val r2 = ZoneMap.refresh(spark, idx)
    val idx3 = tmp("zm-i3")
    val fresh2 = build(dir, idx3)
    assert(r2.fingerprint == fresh2.fingerprint)
    assert(ZoneMap.stats(spark, idx).collect().toSet ==
      ZoneMap.stats(spark, idx3).collect().toSet)
  }

  test("non-integral numeric zone columns refuse at build; in-place " +
      "file rewrites refuse at refresh") {
    import spark.implicits._
    val dir = tmp("zm-t"); val idx = tmp("zm-i")
    Seq((1L, 1.5), (2L, 2.5)).toDF("k", "d")
      .write.mode("append").parquet(dir)
    // the build refuses before committing
    val e = intercept[IllegalArgumentException](
      ZoneMap.buildIfAbsent(spark, dir, Seq("d"), Nil, idx))
    assert(e.getMessage.contains("integral"))
    assert(ZoneMap.format(idx).isEmpty)
    // in-place rewrite: same file name, different length
    ZoneMap.buildIfAbsent(spark, dir, Seq("k"), Nil, idx)
    val f = ZoneMap.listDataFiles(dir).head.key
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(f))
    Files.write(java.nio.file.Paths.get(f),
      bytes ++ Array[Byte](0, 0, 0, 0))
    val e2 = intercept[IllegalStateException] {
      ZoneMap.refresh(spark, idx)
    }
    assert(e2.getMessage.contains("in place"))
  }

  test("a ZERO-ROW parquet file stays in the files ledger: refresh " +
      "converges (no perpetual re-add, n stays the listing size) " +
      "and scans stay correct") {
    import spark.implicits._
    val dir = tmp("zm-t"); val idx = tmp("zm-i")
    writeTable(dir, 0, 100, files = 1)
    // land an empty-but-valid parquet file in the table dir
    val emptyDir = tmp("zm-empty")
    Seq.empty[(Long, Option[Long], String)].toDF("k", "v", "s")
      .coalesce(1).write.mode("overwrite").parquet(emptyDir)
    val empty = ZoneMap.listDataFiles(emptyDir)
    assume(empty.nonEmpty) // Spark writes a schema-only part file
    Files.copy(java.nio.file.Paths.get(empty.head.key),
      java.nio.file.Paths.get(s"$dir/part-empty.parquet"))
    val b = ZoneMap.buildIfAbsent(spark, dir, Seq("k"), Nil, idx)
    assert(b.count == ZoneMap.listDataFiles(dir).length)
    // growth refresh: commits ONCE, then reaches steady state (the
    // old stats-derived ledger re-"added" the empty file forever)
    writeTable(dir, 100, 200, files = 1)
    assert(!ZoneMap.refresh(spark, idx).reused)
    assert(ZoneMap.refresh(spark, idx).reused)
    assert(ZoneMap.refresh(spark, idx).count ==
      ZoneMap.listDataFiles(dir).length)
    assert(ZoneMap.scan(spark, idx, Nil).collect().toSet ==
      spark.read.parquet(dir).collect().toSet)
  }

  test("a same-length in-place rewrite refuses at refresh (mtime is " +
      "in the pin, not just byte length)") {
    val dir = tmp("zm-t"); val idx = tmp("zm-i")
    writeTable(dir, 0, 100, files = 1)
    ZoneMap.buildIfAbsent(spark, dir, Seq("k"), Nil, idx)
    val f = ZoneMap.listDataFiles(dir).head
    // rewrite the file to the SAME byte length, different mtime
    val p = java.nio.file.Paths.get(f.key)
    Files.write(p, Files.readAllBytes(p))
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(f.mtime + 2000))
    writeTable(dir, 100, 120, files = 1) // unrelated growth
    val e = intercept[IllegalStateException] {
      ZoneMap.refresh(spark, idx)
    }
    assert(e.getMessage.contains("in place"))
  }

  test("two racing refreshes over the same new files: one commits " +
      "the delta, the other skips — stats converge to one profile") {
    val dir = tmp("zm-t"); val idx = tmp("zm-i"); val idx2 = tmp("zm-i2")
    writeTable(dir, 0, 200, files = 2)
    build(dir, idx)
    writeTable(dir, 200, 300, files = 1)
    val threads = (0 until 2).map { _ =>
      new Thread(() => { ZoneMap.refresh(spark, idx); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val fresh = build(dir, idx2)
    val got = ZoneMap.stats(spark, idx).collect()
    assert(got.toSet == ZoneMap.stats(spark, idx2).collect().toSet)
    // no duplicated per-file rows from a double-committed delta
    assert(got.map(r => (r.getString(0), r.getString(1))).distinct
      .length == got.length)
    assert(ZoneMap.refresh(spark, idx).fingerprint == fresh.fingerprint)
  }

  test("bloom columns: equality predicates skip files min/max zones " +
      "cannot (interleaved values), never skip a file holding the " +
      "probe, survive refresh append + retraction, and In() unions") {
    import spark.implicits._
    val dir = tmp("zm-bt"); val idx = tmp("zm-bi")
    // u is unique per row and INTERLEAVED across files (partition by
    // hash of row, not by u): every file's [min,max] spans ~the full
    // domain, so zones keep all 4 files — only the bloom can prune
    val df = (0 until 400)
      .map(i => (i.toLong, s"u${i * 37 % 1000}%tag"))
      .toDF("k", "u")
    df.repartition(4, col("k")).write.mode("append").parquet(dir)
    ZoneMap.buildIfAbsent(spark, dir, Seq("k"), Nil, idx,
      bloomCols = Seq("u"))
    import org.apache.spark.sql.sources.{EqualTo, In}
    // every present value: scan ≡ filter and never over-prunes
    val present = df.collect().map(r => (r.getLong(0), r.getString(1)))
    for ((_, u) <- present.take(8)) {
      val (kept, total) = ZoneMap.prune(spark, idx, Seq(EqualTo("u", u)))
      assert(total == 4 && kept.nonEmpty)
      val got = ZoneMap.scan(spark, idx, Seq(EqualTo("u", u)))
        .filter(col("u") === u).collect().toSet
      val want = spark.read.parquet(dir)
        .filter(col("u") === u).collect().toSet
      assert(got == want && got.nonEmpty)
    }
    // absent values prune aggressively (bloom ~1% false-keep at this
    // fill): across 50 probes, most prune ALL files
    val prunedCounts = (0 until 50).map { i =>
      ZoneMap.prune(spark, idx,
        Seq(EqualTo("u", s"absent-$i")))._1.size
    }
    assert(prunedCounts.count(_ == 0) >= 45, prunedCounts.mkString(","))
    // zones alone keep everything here (interleaved): the bloom is
    // doing the work — drop it and nothing prunes
    val noBloom = tmp("zm-bi2")
    ZoneMap.buildIfAbsent(spark, dir, Seq("k"), Seq("u"), noBloom)
    // probe chosen INSIDE every file's [min,max] string zone, so the
    // zone test keeps all 4 — only a bloom could have pruned it
    assert(ZoneMap.prune(spark, noBloom,
      Seq(EqualTo("u", "u5absent")))._1.size == 4)
    // In(): survives if ANY element might be present
    val u0 = present.head._2
    assert(ZoneMap.prune(spark, idx,
      Seq(In("u", Array(u0, "absent-x"))))._1.nonEmpty)
    // refresh with new files: their blooms land as a delta
    (400 until 500).map(i => (i.toLong, s"u${i * 37 % 1000}%tag"))
      .toDF("k", "u").repartition(1, col("k"))
      .write.mode("append").parquet(dir)
    assert(!ZoneMap.refresh(spark, idx).reused)
    val uNew = "u" + (401 * 37 % 1000) + "%tag"
    val got2 = ZoneMap.scan(spark, idx, Seq(EqualTo("u", uNew)))
      .filter(col("u") === uNew).collect().toSet
    assert(got2 == spark.read.parquet(dir)
      .filter(col("u") === uNew).collect().toSet && got2.nonEmpty)
    // retraction keeps blooms in lockstep with stats
    Files.delete(java.nio.file.Paths.get(
      ZoneMap.listDataFiles(dir).head.key))
    assert(!ZoneMap.refresh(spark, idx).reused)
    val idxF = tmp("zm-bi3")
    ZoneMap.buildIfAbsent(spark, dir, Seq("k"), Nil, idxF,
      bloomCols = Seq("u"))
    for (u <- spark.read.parquet(dir).select("u").distinct()
        .collect().map(_.getString(0)).take(5)) {
      assert(ZoneMap.prune(spark, idx, Seq(EqualTo("u", u)))._1.sorted
        == ZoneMap.prune(spark, idxF, Seq(EqualTo("u", u)))._1.sorted)
    }
  }

  test("the zonemap SQL source: WHERE on a zone column reads fewer " +
      "files, same rows; stats table serves the profile") {
    val dir = tmp("zm-t"); val idx = tmp("zm-i")
    writeTable(dir)
    build(dir, idx)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW zm_t USING zonemap " +
      s"OPTIONS (path '$idx')")
    val got = spark.sql(
      "SELECT k, v, s FROM zm_t WHERE k >= 0 AND k <= 80")
    val want = spark.read.parquet(dir)
      .filter(col("k") >= 0 && col("k") <= 80)
      .select("k", "v", "s")
    assert(got.collect().toSet == want.collect().toSet)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW zm_s USING zonemap " +
      s"OPTIONS (path '$idx', table 'stats')")
    assert(spark.sql("SELECT * FROM zm_s").collect().toSet ==
      ZoneMap.stats(spark, idx).collect().toSet)
  }

  test("string zones compare in UTF-8 byte order: a file holding a " +
      "supplementary-plane value is never pruned for it") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{EqualTo => Eq}
    val dir = tmp("zm-utf8-t"); val idx = tmp("zm-utf8-i")
    // one file holding {U+FFFD, U+1F600}: UTF-8 byte order puts the
    // emoji ABOVE U+FFFD (4-byte lead 0xF0 > 0xEF), so the zone is
    // [U+FFFD, U+1F600] — but UTF-16 code-unit order puts the emoji's
    // surrogate lead 0xD83D BELOW 0xFFFD, so a Java-String interval
    // test would call the emoji out-of-zone and prune its own file
    Seq((1L, "\ufffd"), (2L, "\ud83d\ude00"))
      .toDF("k", "s").coalesce(1).write.mode("overwrite").parquet(dir)
    ZoneMap.buildIfAbsent(spark, dir, Seq("k"), Seq("s"), idx)
    val (survivors, total) =
      ZoneMap.prune(spark, idx, Seq(Eq("s", "\ud83d\ude00")))
    assert(total == 1L && survivors.size == 1)
    assert(ZoneMap.scan(spark, idx, Seq(Eq("s", "\ud83d\ude00")))
      .filter(col("s") === "\ud83d\ude00").count() == 1L)
  }

  test("LIKE-prefix predicates prune on string zones: files outside " +
      "the prefix byte-interval drop, holders and edge cases stay") {
    import org.apache.spark.sql.sources.StringStartsWith
    val dir = tmp("zm-pfx-t"); val idx = tmp("zm-pfx-i")
    writeTable(dir) // s = g0..g25, range-clustered by k (s interleaves)
    import spark.implicits._
    // a second table clustered BY s so prefixes are observable
    val dir2 = tmp("zm-pfx2-t"); val idx2 = tmp("zm-pfx2-i")
    (0 until 400).map(i => (i.toLong, f"p${i % 4}%s-${i}%03d"))
      .toDF("k", "s").repartitionByRange(4, col("s"))
      .write.mode("overwrite").parquet(dir2)
    ZoneMap.buildIfAbsent(spark, dir2, Seq("k"), Seq("s"), idx2)
    val (surv, total) =
      ZoneMap.prune(spark, idx2, Seq(StringStartsWith("s", "p2-")))
    assert(total == 4L && surv.size < 4,
      s"prefix should prune some of the 4 s-clustered files: $surv")
    // pruned scan ≡ full scan under the re-applied predicate
    val got = ZoneMap.scan(spark, idx2,
        Seq(StringStartsWith("s", "p2-")))
      .filter(col("s").startsWith("p2-")).count()
    assert(got == 100L)
    // a prefix matching nothing prunes everything
    assert(ZoneMap.prune(spark, idx2,
      Seq(StringStartsWith("s", "zz")))._1.isEmpty)
    // 0xFF-edge: a prefix whose bytes are all maximal has no upper
    // bound — conservative keep of any file with max >= prefix
    assert(ZoneMap.prune(spark, idx2,
      Seq(StringStartsWith("s", "\u07ff")))._1.isEmpty) // all below
  }

  test("bucketed artifact writes past toy scale: a small rows-per-" +
      "file bound writes >1 file per table, serves and fingerprints " +
      "unchanged") {
    val dir = tmp("zm-bt"); val one = tmp("zm-b1"); val many = tmp("zm-bm")
    writeTable(dir, files = 6)
    val b1 = ZoneMap.buildIfAbsent(spark, dir, Seq("k", "v"),
      Seq("s"), one, bloomCols = Seq("s"))
    // 6 files x 3 cols = 18 stats rows; a bound of 4 rows/file must
    // hash-bucket every table into several files
    val bm = ZoneMap.buildIfAbsent(spark, dir, Seq("k", "v"),
      Seq("s"), many, bloomCols = Seq("s"), artifactRowsPerFile = 4)
    assert((b1.fingerprint, b1.count) == (bm.fingerprint, bm.count))
    def nFiles(sub: String): Int =
      new java.io.File(s"$many/$sub").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(nFiles("stats") > 1, s"stats files: ${nFiles("stats")}")
    assert(nFiles("bloom") > 1, s"bloom files: ${nFiles("bloom")}")
    assert(nFiles("files") > 1, s"files files: ${nFiles("files")}")
    // serves identical rows either way
    def rows(idx: String) =
      ZoneMap.stats(spark, idx).collect().map(_.toString).sorted.toSeq
    assert(rows(one) == rows(many))
    val f = Seq(GreaterThanOrEqual("k", 100L), LessThanOrEqual("k", 180L))
    def scanned(idx: String) =
      ZoneMap.scan(spark, idx, f).filter(col("k").between(100L, 180L))
        .collect().map(_.toString).sorted.toSeq
    assert(scanned(one) == scanned(many))
    // and the ledger partials are identical too
    assert(ZoneMap.fingerprintLedger(spark, one).get ==
      ZoneMap.fingerprintLedger(spark, many).get)
  }
}
