package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan,
  LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types.StructType

/** Persisted per-FILE zone maps — the lakehouse data-skipping layer
  * as an incrementally-maintained artifact under the [[IndexDirs]]
  * manifest discipline.
  *
  * Parquet footers already carry row-group min/max, but at 100 TB the
  * footer is the wrong altitude: skipping a file via its footer still
  * costs listing it, scheduling a task, and opening it. A zone map
  * moves the same min/max/null-count facts into ONE metadata-scale
  * side table (≤ |files|·|cols| rows), so a range or equality
  * predicate prunes the FILE LIST on the driver — pruned files are
  * never listed into the scan, never scheduled, never opened. This
  * is the Delta/Iceberg data-skipping idea re-expressed over plain
  * parquet directories; the driver-side file-list materialization is
  * the same altitude Spark's own `InMemoryFileIndex` already works
  * at, so collecting the surviving file names is bounded by what any
  * parquet scan of the table materializes anyway.
  *
  * Layout:
  * {{{
  *   <path>/stats/    parquet, ≤ |files|·|cols| rows: (file,
  *                    col_name, kind, n_rows, n_nulls, min_num,
  *                    max_num, min_str, max_str)
  *   <path>/deltas/d<N>/stats   newly-profiled files (refresh)
  *   manifest.m<K>.json — [[IndexDirs]] atomic versioned commits
  * }}}
  *
  * ALGEBRA — per-file rows are DISJOINT across deltas (a file is
  * profiled exactly once), so serve = base ∪ deltas with no fold;
  * [[refresh]] profiles only files NEW to the table directory
  * (O(new data)) and — unlike [[ColStats]]' monotone whole-table
  * profile — file REMOVALS retract exactly: dropping a vanished
  * file's stats rows removes precisely its contribution, so refresh
  * after a vacuum rewrites the (metadata-scale) stats table to the
  * survivors via a [[IndexDirs.claimBaseSuffix]]-claimed versioned
  * base. Numeric zone columns must be INTEGRAL types (long/int/
  * short/byte) or DATE (zoned on days since the epoch): a truncating
  * cast would make `max_num` lie about fractional values and a
  * boundary predicate would prune a file that still matches —
  * refused at build instead.
  *
  * Pruning ([[prune]]/[[scan]]) is CONSERVATIVE: a file survives
  * unless the predicate provably matches none of its rows
  * (`EqualTo`/`In`/range ⇒ intersect [min,max] of NON-NULL values —
  * these predicates reject nulls, so an all-null file prunes;
  * `IsNull` ⇒ prune files with zero nulls; `IsNotNull` ⇒ prune
  * all-null files; `StringStartsWith`/LIKE-'p%' ⇒ intersect the
  * prefix's byte interval [p, nextPrefix(p))). String zone tests
  * compare UTF-8 BYTES — the order the extrema were aggregated under
  * — never Java's UTF-16 code-unit order, which disagrees above the
  * BMP. Unrecognized filters and undeclared columns keep
  * every file. Callers re-apply the predicate above the scan —
  * pruning is never trusted as exact ([[graft.sources.ZoneMapSource]]
  * reports every filter unhandled for the same reason).
  */
object ZoneMap extends Store[ZoneLayout] {

  /** On-disk format version. 2 added the per-file BLOOM table
    * (`bloom/` — packed 64-bit words of a per-(file, col) bloom
    * filter over the rendered value), which skips files for
    * EQUALITY/IN predicates on columns whose values interleave
    * across files — exactly where min/max zones are useless.
    * 3 added the `files/` LEDGER (one row per profiled file: join
    * key, fully-qualified URI, length, mtime, written from the
    * driver's listing) — it closes three holes of deriving the file
    * set from stats rows: a ZERO-ROW parquet file produces no stats
    * rows (so refresh re-"added" it forever, drifting n), the
    * scheme-stripped join key is not a readable path on a
    * non-default filesystem (scans now read the ledger's URIs), and
    * a same-length in-place rewrite was invisible to the length-only
    * pin (the ledger carries mtime).
    * 4 added per-file CONTENT-FINGERPRINT partials to the ledger
    * (`cfp`/`cn`: xor of per-row xxhash64 over the declared columns
    * plus the row count, computed in the same profiling scan) — what
    * lets a consumer verifying "base content == sibling artifact"
    * ([[graft.plans.PinnedBridge.verifyDelta]]) COMPOSE stored
    * partials for unchanged files and fingerprint only new ones
    * (O(delta) instead of a projected corpus scan per refresh).
    * `sameIndexAs` includes fmt, so older artifacts rebuild.
    */
  private val Fmt = 4

  override protected def noun = "zone map"
  // a zone map tracks files, not a CDC feed: no batch watermark
  override protected def batched = false

  override protected def readDecl(r: IndexDirs.ManifestReader) = {
    val fmt = r.intOr("fmt", 1)
    ZoneLayout(r.str("table"), r.seq("num"), r.seq("str"),
      if (fmt >= 2) r.seq("bloom") else Nil,
      if (fmt >= 2) r.int("bloomm") else 8192,
      if (fmt >= 2) r.int("bloomk") else 3, fmt)
  }

  override protected def writeDecl(w: IndexDirs.ManifestWriter,
      d: ZoneLayout) =
    w.put("table", d.tableDir).put("num", d.numCols).put("str", d.strCols)
      .put("bloom", d.bloomCols).put("bloomm", d.bloomBits)
      .put("bloomk", d.bloomK).put("fmt", d.fmt)

  private def want(fp: Long, n: Long, tableDir: String,
      numCols: Seq[String], strCols: Seq[String], bloomCols: Seq[String],
      bloomBits: Int, bloomK: Int): Mf =
    Artifact.Manifest(ZoneLayout(tableDir, numCols, strCols, bloomCols,
      bloomBits, bloomK, Fmt), fp, n)

  /** One listed data file: `key` is the scheme-free path
    * `input_file_name()` rows join on, `uri` the fully-qualified
    * path a scan READS (the two differ on any non-default
    * filesystem), plus the (length, mtime) immutability pin.
    */
  final case class FileEnt(key: String, uri: String, len: Long,
      mtime: Long)

  /** The file-list fingerprint the reuse check anchors on: xor-fold
    * over (name, length, mtime) of the table's data files —
    * metadata-only, never a data scan. Length AND mtime are in the
    * key so an in-place overwrite of a same-named file — even to the
    * same byte length — reads as a different table.
    */
  private def listFingerprint(files: Seq[FileEnt]): (Long, Long) = {
    val fp = files.map { f =>
      scala.util.hashing.MurmurHash3
        .stringHash(s"${f.key}#${f.len}#${f.mtime}").toLong
    }.foldLeft(0L)(_ ^ _)
    (fp, files.size.toLong)
  }

  /** The scheme-and-authority-free path `input_file_name()` rows are
    * keyed by — one normalization shared by the driver-side listing
    * ([[listDataFiles]] uses `URI.getPath`) and the executor-side
    * column ([[fileKey]]), so the two sides always agree.
    */
  private[operators] def fileKey(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:", "")

  /** The table directory's current data files — one driver-side
    * recursive listing, the same listing any scan of the table
    * performs. Each entry carries both the scheme-free join key and
    * the qualified URI ([[FileEnt]]).
    */
  def listDataFiles(tableDir: String): Seq[FileEnt] = {
    val f = IndexDirs.fs(tableDir)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    if (!f.exists(root)) return Nil
    val it = f.listFiles(root, true)
    val out = Seq.newBuilder[FileEnt]
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      if (s.isFile && !name.startsWith("_") && !name.startsWith(".") &&
          name.endsWith(".parquet"))
        out += FileEnt(s.getPath.toUri.getPath, s.getPath.toString,
          s.getLen, s.getModificationTime)
    }
    out.result().sortBy(_.key)
  }

  /** Default rows-per-output-file for the artifact tables. The zone
    * tables are metadata-scale but GROW WITH |files|: at 10⁶ base
    * files × 40 columns the stats table is 4·10⁷ rows — `coalesce(1)`
    * would funnel the whole build through one reducer and write one
    * giant file. Above this bound the writers range-distribute on
    * `file` (per-file rows stay co-located, so file-keyed reads and
    * the killed-set subtraction are unaffected); at or below it they
    * keep the single-file layout small artifacts want.
    */
  val DefaultArtifactRowsPerFile: Long = 1L << 22

  /** Write one artifact table sized by its own (driver-estimable)
    * row bound — 1 file below `rowsPerFile`, range-partitioned on
    * `file` above it (≤ 256 output files). Range bounds split the
    * sampled rows evenly, so the bound holds up to one file's rows;
    * hashing a few distinct files could land them all in one bucket.
    */
  private[operators] def writeArtifact(df: DataFrame, estRows: Long,
      target: String, rowsPerFile: Long): Unit = {
    require(rowsPerFile >= 1, s"rowsPerFile must be >= 1: $rowsPerFile")
    val parts = math.max(1L, math.min(256L,
      (estRows + rowsPerFile - 1) / rowsPerFile)).toInt
    val out =
      if (parts == 1) df.coalesce(1)
      else df.repartitionByRange(parts, col("file"))
    out.write.mode("overwrite").parquet(target)
  }

  /** Per-file per-column profile of exactly `files`: ONE
    * [[Profile.aggregate]] scan of those files over the ZoneMap grains
    * — stats (`sc`), bloom words (`bl`) and the ledger's fingerprint
    * partials (`fp`) explode from the same stream, map-side combined
    * to ≤ |files| × (|cols| + 1 + bloom words) rows, checkpointed, and
    * [[Profile.zoneMapWriters]] writes the three tables CONCURRENTLY
    * (guide §2.6). Stats rows carry the file's LENGTH, so [[refresh]]
    * can tell an in-place rewrite of one file apart from unrelated
    * adds/removes instead of trusting the aggregate fingerprint.
    */
  private def profile(spark: SparkSession, mf: Mf,
      files: Seq[FileEnt], outDir: String,
      rowsPerFile: Long = DefaultArtifactRowsPerFile): Unit = {
    val d = mf.decl
    val df = spark.read.parquet(files.map(_.uri): _*)
    val agg = Profile.aggregate(df, Profile.ZoneMapGrains, d.numCols,
      d.strCols, byFile = true,
      Profile.zoneValue(df, d.numCols, d.tableDir),
      d.bloomCols, d.bloomBits, d.bloomK).localCheckpoint()
    Par.inParallel(Profile.zoneMapWriters(agg, files,
      Profile.fingerprints(agg), d.numCols.size + d.strCols.size,
      d.bloomCols.size * (d.bloomBits / 64), outDir, rowsPerFile))
  }

  /** The k bloom bit positions of a RENDERED value — the driver-side
    * twin of the plan-side hash of [[Profile.aggregate]]'s `bl` grain
    * (same xxhash64 over `"<rendered>:<seed>"`, same default seed 42),
    * via the same engine function so the bits can never drift.
    */
  private def bloomPositions(rendered: String, m: Int,
      k: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    (0 until k).map { seed =>
      val h = XxHash64Function.hash(
        UTF8String.fromString(s"$rendered:$seed"), StringType, 42L)
      val p = (h % m).toInt
      if (p < 0) p + m else p
    }
  }

  /** Base ∪ deltas of table `sub`. The `stats`, `bloom` and `files`
    * bases are versioned in lockstep — one claimed suffix covers all
    * three.
    */
  private def unionOf(spark: SparkSession, path: String, mf: Mf,
      sub: String): DataFrame =
    mf.roots(path, sub).map(spark.read.parquet(_)).reduce(_.unionByName(_))

  private def liveStats(spark: SparkSession, path: String,
      mf: Mf): DataFrame = unionOf(spark, path, mf, "stats")

  private def liveBloom(spark: SparkSession, path: String,
      mf: Mf): DataFrame = unionOf(spark, path, mf, "bloom")

  /** The live file LEDGER (key, uri, flen, fmtime) — base ∪ deltas,
    * one row per profiled file, COMPLETE even for zero-row files. A
    * pre-format-3 artifact has no ledger; it derives the old
    * (key-only, length-only, key-as-uri) view from its stats rows,
    * keeping reads working until the next rebuild.
    */
  private def liveLedger(spark: SparkSession, path: String,
      mf: Mf): DataFrame =
    if (mf.decl.fmt >= 3) unionOf(spark, path, mf, "files")
    else
      liveStats(spark, path, mf)
        .select(col("file"), col("file").as("uri"), col("flen"),
          lit(0L).as("fmtime"))
        .distinct()

  private def liveLedgerEnts(spark: SparkSession, path: String,
      mf: Mf): Seq[FileEnt] =
    // by-name select: the format-4 ledger carries fingerprint
    // columns after these four
    liveLedger(spark, path, mf)
      .select("file", "uri", "flen", "fmtime").collect()
      .map(r => FileEnt(r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
      .sortBy(_.key).toIndexedSeq

  private def liveFiles(spark: SparkSession, path: String,
      mf: Mf): Seq[String] =
    liveLedgerEnts(spark, path, mf).map(_.key)

  /** `bloomCols` (optional): columns that ALSO get a per-file bloom
    * filter over the rendered value — equality/IN predicates then
    * skip files whose filter provably lacks the probe, which works
    * even when the column's values interleave across every file and
    * min/max zones keep everything. `bloomBits`/`bloomK` size the
    * filter (defaults: 8192 bits = 128 packed words per file × col,
    * 3 hashes — ~1% false-keep at 1k distinct values per file).
    */
  def buildIfAbsent(spark: SparkSession, tableDir: String,
      numCols: Seq[String], strCols: Seq[String],
      path: String, bloomCols: Seq[String] = Nil,
      bloomBits: Int = 8192, bloomK: Int = 3,
      artifactRowsPerFile: Long = DefaultArtifactRowsPerFile)
      : Build = {
    require((numCols ++ strCols).nonEmpty, "declare at least 1 column")
    require(numCols.intersect(strCols).isEmpty,
      s"columns declared both num and str: " +
        numCols.intersect(strCols).mkString(","))
    require(bloomBits >= 64 && bloomBits % 64 == 0,
      s"bloomBits must be a positive multiple of 64, got $bloomBits")
    require(bloomK >= 1, s"bloomK must be >= 1, got $bloomK")
    val files = listDataFiles(tableDir)
    require(files.nonEmpty, s"no parquet data files under $tableDir")
    val (fp, n) = listFingerprint(files)
    val mf = want(fp, n, tableDir, numCols, strCols, bloomCols, bloomBits,
      bloomK)
    buildOr(path, mf) {
      profile(spark, mf, files, path, artifactRowsPerFile)
      0L
    }
  }

  /** Re-sync with the table directory. New files are profiled alone
    * (O(new data)) and committed as a delta; vanished files retract
    * by REWRITING the metadata-scale stats table to the survivors
    * (a claimed versioned base — two racing refreshes write disjoint
    * targets and the manifest race picks one). No change ⇒ no-op.
    */
  def refresh(spark: SparkSession, path: String,
      artifactRowsPerFile: Long = DefaultArtifactRowsPerFile)
      : Build = {
    val decl = live(path)
    require(decl.decl.fmt >= 4,
      s"zone map at $path was written by format ${decl.decl.fmt}; " +
        "refresh needs the format-4 files ledger (per-file pins + " +
        "fingerprint partials) — rebuild with buildIfAbsent to " +
        "upgrade (reads still work meanwhile)")
    val now = listDataFiles(decl.decl.tableDir)
    val (fp, n) = listFingerprint(now)
    if (fp == decl.fp && n == decl.n)
      return Build(path, decl.fp, decl.n, reused = true)
    // per-file (length, mtime) from the LEDGER (complete even for
    // zero-row files): an in-place rewrite is detected PER FILE — at
    // the same byte length too — so it can't hide behind unrelated
    // adds/removes the way an aggregate-fingerprint check would let it
    val profiled = liveLedgerEnts(spark, path, decl)
      .map(e => e.key -> e).toMap
    val nowMap = now.map(e => e.key -> e).toMap
    val changed = profiled.keysIterator.filter { f =>
      nowMap.get(f).exists(e =>
        e.len != profiled(f).len ||
          (profiled(f).mtime != 0L && e.mtime != profiled(f).mtime))
    }.toSeq
    if (changed.nonEmpty)
      // changed under an existing name (in-place overwrite): the
      // profile is stale in a way the delta algebra can't patch
      throw new IllegalStateException(
        s"table files changed in place under ${decl.decl.tableDir} " +
          s"(${changed.sorted.take(3).mkString(", ")}…) — zone maps " +
          "track immutable files; rebuild with buildIfAbsent after " +
          "an in-place rewrite")
    val added = now.filterNot(e => profiled.contains(e.key))
    val removed = (profiled.keySet -- nowMap.keySet).toSeq.sorted
    if (removed.isEmpty) {
      // append-only growth: profile the new files, commit a delta
      val staged = IndexDirs.nextDeltaName(path, "d")
      commitStaged(path, decl, None, Seq(staged -> { root =>
        profile(spark, decl, added, root, artifactRowsPerFile); 0L
      }), _ => ()) { (have, _) =>
        // a racing refresh that already profiled any of these files
        // makes this staging redundant — recheck per attempt
        val haveFiles = liveFiles(spark, path, have).toSet
        if (added.exists(a => haveFiles(a.key))) None
        else Some(have.copy(fp = have.fp ^ (fp ^ decl.fp),
          n = have.n + added.size, deltas = have.deltas :+ staged))
      }
    } else {
      // retraction: per-file rows are exact, so the survivors-only
      // rewrite IS the correct artifact; genuinely-new files profile
      // in the same pass
      val ver = IndexDirs.claimBaseSuffix(path, "stats.v",
        decl.baseVer + 1)
      val target = s"$path/stats.v$ver"
      val bloomTarget = s"$path/bloom.v$ver" // same claimed suffix
      val filesTarget = s"$path/files.v$ver"
      val stagedNew = s"$path/stats.v$ver.new"
      if (added.nonEmpty)
        profile(spark, decl, added, stagedNew, artifactRowsPerFile)
      def withNew(survivorTable: DataFrame, sub: String): DataFrame =
        if (added.isEmpty) survivorTable
        else survivorTable.unionByName(
          spark.read.parquet(s"$stagedNew/$sub"))
      val nSurvive = n // post-refresh file count, known driver-side
      val nCols = (decl.decl.numCols.size + decl.decl.strCols.size).toLong
      writeArtifact(withNew(liveStats(spark, path, decl)
          .filter(!col("file").isin(removed: _*)), "stats"),
        nSurvive * nCols, target, artifactRowsPerFile)
      writeArtifact(withNew(liveBloom(spark, path, decl)
          .filter(!col("file").isin(removed: _*)), "bloom"),
        nSurvive * decl.decl.bloomCols.size * (decl.decl.bloomBits / 64),
        bloomTarget, artifactRowsPerFile)
      writeArtifact(withNew(liveLedger(spark, path, decl)
          .filter(!col("file").isin(removed: _*)), "files"),
        nSurvive, filesTarget, artifactRowsPerFile)
      val folded = decl.deltas
      IndexDirs.commitWithRetry(readManifest(path),
        writeManifest(path, _: Mf), path) { have =>
        // the rewrite folded decl's exact base+delta view; any commit
        // since (new delta, new base) makes it stale — refuse
        if (have.baseVer != decl.baseVer ||
            have.deltas != decl.deltas) None
        else Some(have.copy(fp = fp, n = n, baseVer = ver,
          deltas = Nil))
      } match {
        case Some(next) =>
          IndexDirs.gcDeltas(path, folded)
          IndexDirs.rmTree(stagedNew)
          // the replaced base generation is unreferenced by the live
          // manifest — GC it eagerly (the AggView treatment; nothing
          // ever stages INTO an old base, so this races no writer)
          Seq("stats", "bloom", "files").foreach(sub =>
            IndexDirs.rmTree(s"$path/${decl.baseOf(sub)}"))
          Build(path, next.fp, next.n, reused = false)
        case None =>
          IndexDirs.rmTree(target)
          IndexDirs.rmTree(bloomTarget)
          IndexDirs.rmTree(filesTarget)
          IndexDirs.rmTree(stagedNew)
          val cur = readManifest(path).getOrElse(decl)
          Build(path, cur.fp, cur.n, reused = true)
      }
    }
  }

  /** Fold the committed refresh deltas into ONE delta dir — same
    * serve state, fewer directories to union per read. Per-file rows
    * are disjoint across deltas, so the fold is a pure move (union,
    * no arithmetic). Returns the number of deltas folded; a racing
    * compaction that already folded any of them makes this one stale
    * (skips, GC's its staging).
    */
  def compactDeltas(spark: SparkSession, path: String,
      artifactRowsPerFile: Long = DefaultArtifactRowsPerFile): Int =
    compact(spark, path) { (decl, folded, root) =>
      val nCols = (decl.decl.numCols.size + decl.decl.strCols.size).toLong
      val est = Map("stats" -> decl.n * nCols,
        "bloom" -> decl.n * decl.decl.bloomCols.size *
          (decl.decl.bloomBits / 64),
        "files" -> decl.n)
      for (sub <- Seq("stats", "bloom", "files"))
        writeArtifact(
          folded.map(d => spark.read.parquet(s"$path/deltas/$d/$sub"))
            .reduce(_.unionByName(_)),
          est(sub), s"$root/$sub", artifactRowsPerFile)
    }

  override protected def compactible(mf: Mf): Boolean = mf.decl.fmt >= 3

  /** The artifact's on-disk format version, if one is built —
    * integrators gate format-dependent maintenance on it
    * ([[MergeOnRead.compact]] skips the auto-refresh of a
    * pre-format-3 map instead of failing a committed compaction).
    */
  def format(path: String): Option[Int] =
    readManifest(path).map(_.decl.fmt)

  /** The committed manifest VERSION of the artifact — every
    * build/refresh/compact commit is a higher version, so this is
    * the freshness pin a consumer ([[graft.plans.ZoneMapScan]])
    * re-checks before trusting killed-set subtraction it verified
    * against an earlier state of the artifact.
    */
  def version(path: String): Long =
    live(path).mv

  /** The artifact's committed declaration + freshness pins, as a
    * value: what a consumer pins at registration and compares
    * whole-sale before trusting the artifact again. The manifest
    * VERSION alone is not enough — a REBUILD ([[buildIfAbsent]] over
    * a changed declaration) uncommits and restarts the version
    * sequence, so the rebuilt artifact can land on the very version
    * number that was pinned; the declaration fields (cols, bloom
    * shape, fmt, listing fingerprint, delta chain) distinguish it.
    * Two equal Decls imply the same artifact CONTENT: a build is a
    * deterministic function of (declaration, file set), and the
    * listing fingerprint pins the file set by (name, length, mtime).
    */
  final case class Decl(tableDir: String, numCols: Seq[String],
      strCols: Seq[String], bloomCols: Seq[String], bloomBits: Int,
      bloomK: Int, fmt: Int, version: Long, fp: Long, n: Long,
      baseVer: Int, deltas: Seq[String])

  def declaration(path: String): Decl = {
    val mf = live(path)
    Decl(mf.decl.tableDir, mf.decl.numCols, mf.decl.strCols, mf.decl.bloomCols,
      mf.decl.bloomBits, mf.decl.bloomK, mf.decl.fmt, mf.mv, mf.fp, mf.n,
      mf.baseVer, mf.deltas)
  }

  /** The live per-file stats table — base ∪ deltas, rows disjoint
    * by (file, col_name), no fold needed.
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    val mf = live(path)
    liveStats(spark, path, mf)
  }

  /** Every file the zone map has profiled (scheme-free paths) — the
    * complement of [[prune]]'s survivors is the killed set, which
    * integrators ([[MergeOnRead.readWhere]]) subtract from their own
    * manifest-selected file list so a LAGGING zone map can only keep
    * extra files, never drop unprofiled ones.
    */
  def profiledFiles(spark: SparkSession, path: String): Seq[String] = {
    val mf = live(path)
    liveFiles(spark, path, mf)
  }

  /** The table's full schema (for empty-survivor scans and the SQL
    * source), read from one footer.
    */
  def tableSchema(spark: SparkSession, path: String): StructType = {
    val mf = live(path)
    spark.read.parquet(mf.decl.tableDir).schema
  }

  /** Can the file described by one stats row contain a row matching
    * `f`? Delegates to the shared conservative test ([[ZoneTests]] —
    * one definition for this per-FILE pruner and the MV rewrite's
    * per-kb pruner, so prefix/range/null/byte-order semantics never
    * drift).
    */
  private def mayMatch(f: Filter, kind: String, nRows: Long,
      nNulls: Long, minN: Option[Long], maxN: Option[Long],
      minS: Option[String], maxS: Option[String]): Boolean =
    ZoneTests.mayMatch(f, ZoneTests.Zone(kind, nRows, nNulls,
      minN, maxN, minS, maxS))

  private def colOf(f: Filter): Option[String] = ZoneTests.colOf(f)

  /** The file list a conjunction of `filters` cannot rule out, plus
    * the total profiled count: (surviving files, total files). The
    * stats scan evaluates distributed; only FILE NAMES collect —
    * the same driver-side materialization any scan's file index
    * performs.
    */
  def prune(spark: SparkSession, path: String,
      filters: Seq[Filter]): (Seq[String], Long) = {
    val mf = live(path)
    pruneWith(spark, path, mf, liveLedgerEnts(spark, path, mf),
      filters)
  }

  /** [[prune]] against an ALREADY-READ manifest + ledger snapshot —
    * [[scan]] passes its own, so one scan works one consistent
    * artifact version (and pays one manifest/ledger read, not two).
    */
  private def pruneWith(spark: SparkSession, path: String,
      mf: Mf, ents: Seq[FileEnt],
      filters: Seq[Filter]): (Seq[String], Long) = {
    val all = ents.map(_.key)
    val declared = (mf.decl.numCols ++ mf.decl.strCols).toSet
    val byCol = filters
      .flatMap(f => colOf(f).filter(declared).map(_ -> f))
      .groupBy(_._1).map { case (c, fs) => c -> fs.map(_._2) }
    def render(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case l: java.lang.Long => Some(l.toString)
      case i: java.lang.Integer => Some(i.toString)
      case s: java.lang.Short => Some(s.toString)
      case b: java.lang.Byte => Some(b.toString)
      case _ => None
    }
    // bloom-testable conjuncts: each is (col, value-position-sets) —
    // a file passes the conjunct if ANY value set has ALL bits set
    // (EqualTo = one set; In = one per element). A literal that
    // doesn't render stays conservative: the whole filter is skipped.
    val bloomDecl = mf.decl.bloomCols.toSet
    val bloomTests: Seq[(String, Seq[Seq[Int]])] = filters.flatMap {
      case EqualTo(a, v) if bloomDecl(a) =>
        render(v).map(r => a ->
          Seq(bloomPositions(r, mf.decl.bloomBits, mf.decl.bloomK)))
      case In(a, vs) if bloomDecl(a) && vs.nonEmpty =>
        val rs = vs.toSeq.map(render)
        if (rs.exists(_.isEmpty)) None
        else Some(a -> rs.flatten
          .map(bloomPositions(_, mf.decl.bloomBits, mf.decl.bloomK)))
      case _ => None
    }
    if (byCol.isEmpty && bloomTests.isEmpty)
      return (all, all.length.toLong)
    val zoneKilled = if (byCol.isEmpty) Set.empty[String] else {
      val rows = liveStats(spark, path, mf)
        .filter(col("col_name").isin(byCol.keys.toSeq: _*))
        .collect()
      rows.iterator.flatMap { r =>
        val c = r.getString(r.fieldIndex("col_name"))
        val kind = r.getString(r.fieldIndex("kind"))
        def optL(i: Int) =
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        def optS(i: Int) =
          if (r.isNullAt(i)) None else Some(r.getString(i))
        val survivesAll = byCol(c).forall(f =>
          mayMatch(f, kind, r.getLong(r.fieldIndex("n_rows")),
            r.getLong(r.fieldIndex("n_nulls")),
            optL(r.fieldIndex("min_num")),
            optL(r.fieldIndex("max_num")),
            optS(r.fieldIndex("min_str")),
            optS(r.fieldIndex("max_str"))))
        if (survivesAll) None
        else Some(r.getString(r.fieldIndex("file")))
      }.toSet
    }
    val bloomKilled = if (bloomTests.isEmpty) Set.empty[String] else {
      // read ONLY the probed words: ≤ files × Σ(k·|values|) rows
      // collect — probe-scale, never the full bloom table
      val need = bloomTests
        .flatMap { case (c, sets) => sets.flatten.map(p => (c, p / 64)) }
        .distinct.groupBy(_._1).map { case (c, ws) => c -> ws.map(_._2) }
      val wordPred = need.map { case (c, ws) =>
        col("col_name") === c && col("word").isin(ws: _*)
      }.reduce(_ || _)
      val bits = liveBloom(spark, path, mf).filter(wordPred)
        .collect().map { r =>
          (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3)
        }.toMap
      def valuePasses(f: String, c: String, ps: Seq[Int]): Boolean =
        ps.forall { p =>
          (bits.getOrElse((f, c, p / 64), 0L) & (1L << (p % 64))) != 0L
        }
      all.iterator.filterNot { f =>
        bloomTests.forall { case (c, sets) =>
          sets.exists(valuePasses(f, c, _))
        }
      }.toSet
    }
    val killed = zoneKilled ++ bloomKilled
    (all.filterNot(killed), all.length.toLong)
  }

  /** The PROVABLY-DEAD file keys for a conjunction of `filters`:
    * profiled files minus prune survivors, computed against ONE
    * manifest + ledger snapshot. The subtraction form integrators
    * want ([[MergeOnRead.readWhere]],
    * [[graft.plans.ZoneMapScan]]): subtracting the killed set from
    * their OWN file list means a lagging zone map can only keep
    * extra files, never drop an unprofiled one.
    */
  def pruneKilled(spark: SparkSession, path: String,
      filters: Seq[Filter]): Set[String] = {
    val mf = live(path)
    val ents = liveLedgerEnts(spark, path, mf)
    val (survivors, _) = pruneWith(spark, path, mf, ents, filters)
    ents.map(_.key).toSet -- survivors
  }

  /** The live file LEDGER rows (key, readable uri, length, mtime) —
    * one per profiled file. What a consumer pinning the TABLE against
    * the zone map ([[graft.plans.ZoneMapScan.register]]) verifies its
    * listing against: a profiled file whose live (length, mtime)
    * differ was rewritten in place after profiling, and the zone
    * rows are stale in a way only a rebuild fixes.
    */
  def ledger(spark: SparkSession, path: String): Seq[FileEnt] = {
    val mf = live(path)
    liveLedgerEnts(spark, path, mf)
  }

  /** The format-4 ledger's per-file CONTENT-FINGERPRINT partials:
    * file key → (length, mtime, fp partial, row count), one row per
    * profiled file, computed in the profiling scan itself. The
    * partials hash the declared columns IN DECLARATION ORDER
    * (numCols ++ strCols), so they compose to
    * [[ColStats.fingerprint]] of a table profiled with the SAME
    * declaration ([[declaration]]). None for pre-format-4 artifacts
    * (no stored partials).
    */
  def fingerprintLedger(spark: SparkSession,
      path: String): Option[Map[String, (Long, Long, Long, Long)]] = {
    val mf = live(path)
    if (mf.decl.fmt < 4) None
    else Some(liveLedger(spark, path, mf)
      .select("file", "flen", "fmtime", "cfp", "cn").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap)
  }

  /** Read the table through the zone map: prune the file list with
    * `filters`, scan only survivors. The predicate is NOT applied —
    * callers (and the SQL source's unhandled-filters contract)
    * re-evaluate it above, so pruning stays a pure prune.
    */
  def scan(spark: SparkSession, path: String,
      filters: Seq[Filter]): DataFrame = {
    val mf = live(path)
    val schema = tableSchema(spark, path)
    // ONE manifest + ledger snapshot drives both the prune and the
    // uri resolution — a refresh committing mid-scan can't give a
    // torn two-version view
    val ents = liveLedgerEnts(spark, path, mf)
    val (files, _) = pruneWith(spark, path, mf, ents, filters)
    val keep = files.toSet
    // the ledger's qualified URIs are what a scan READS — the
    // scheme-free keys only join against input_file_name()
    val uris = ents.filter(e => keep(e.key)).map(_.uri)
    if (uris.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(uris: _*)
  }
}

/** [[ZoneMap]]'s declaration: the profiled table, zone and bloom
  * columns, bloom shape, format.
  */
private[operators] final case class ZoneLayout(tableDir: String,
    numCols: Seq[String], strCols: Seq[String], bloomCols: Seq[String],
    bloomBits: Int, bloomK: Int, fmt: Int)
