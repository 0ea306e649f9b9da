package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

import graft.functions.StrExtremaAgg.{str_max, str_min}

/** FUSED one-scan build of the two table-profile artifacts: the
  * per-column [[ColStats]] profile AND the per-file [[ZoneMap]]
  * (stats + blooms + ledger) from a SINGLE pass over the corpus.
  *
  * Built separately, the two artifacts scan the full table six times
  * (ColStats: fingerprint + scalar + registers + histogram; ZoneMap:
  * stats + bloom) — at 100 TB that is five scans too many for what is
  * one logical profiling job. The fusion exploits that every output
  * derives from the same exploded (file, column, value) stream:
  * ONE scan explodes each row into GRAIN-TAGGED entries (`sc` scalar,
  * `hi` histogram, `hl` HLL, `bl` bloom, `fp` content fingerprint),
  * ONE map-side-combined aggregate reduces them at the
  * (file, grain, column, bucket) grain — metadata-scale: ≤ |files| ×
  * (|cols| × (1 + 129 + 64) + bloom words) rows — and the six output
  * tables are cheap re-aggregations of that small set (checkpointed
  * once; checkpointing the AGGREGATE is metadata-scale, unlike the
  * exploded stream [[ColStats]]'s staging writer rightly refuses to
  * persist).
  *
  * EXACTNESS: every per-grain expression is the shared definition the
  * separate builders use ([[ColStats.histBucket]],
  * [[ColStats.hllBucketRho]], [[ZoneMap.fileKey]], the bloom
  * position hash), and every whole-table number is an associative
  * re-aggregation of per-file partials (sums of sums, min of mins,
  * max of rhos, xor of xors) — so the fused artifacts hold row-for-row
  * the same content and the same manifest fingerprints as the
  * separately-built ones (ProfileSpec pins both), and all downstream
  * maintenance (append/refresh/compact/serve) works unchanged on
  * either.
  *
  * Constraints: the fused build profiles ONE table directory for both
  * artifacts, so [[ZoneMap]]'s integral-numerics requirement applies
  * to the shared `numCols`.
  */
object Profile {

  private def integral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** The grain-tagged single-scan aggregate (test seam: ProfileSpec
    * asserts its physical plan holds exactly ONE parquet scan).
    * Returns (listed files, aggregate at (file, grain, col, bucket)).
    */
  private[operators] def fusedAggregate(spark: SparkSession,
      tableDir: String, numCols: Seq[String], strCols: Seq[String],
      bloomCols: Seq[String], bloomBits: Int, bloomK: Int,
      listed: Option[Seq[ZoneMap.FileEnt]] = None)
      : (Seq[ZoneMap.FileEnt], DataFrame) = {
    // ONE listing drives the reuse fingerprint, the profile scan, AND
    // the committed manifests (buildBoth passes its own) — a file
    // landing between two listings must not commit a manifest whose
    // fingerprint describes a different file set than was profiled
    val files = listed.getOrElse(ZoneMap.listDataFiles(tableDir))
    require(files.nonEmpty, s"no parquet data files under $tableDir")
    val df = spark.read.parquet(files.map(_.uri): _*)
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    numCols.foreach { c =>
      val dt = byName.getOrElse(c, throw new IllegalArgumentException(
        s"profile column $c missing from $tableDir"))
      require(integral(dt),
        s"zone column $c is $dt: numeric zone maps require an " +
          "integral type (a truncating cast would prune files whose " +
          "fractional values still match a boundary predicate) — " +
          "declare it as a string zone or pre-scale to integers")
    }
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    val nullI = lit(null).cast("int")
    def st(grain: String, name: String, kind: String, bucket: Column,
        vnum: Column, vstr: Column, rho: Column): Column =
      struct(lit(grain).as("grain"), lit(name).as("col_name"),
        lit(kind).as("kind"), bucket.cast("long").as("bucket"),
        vnum.cast("long").as("vnum"), vstr.cast("string").as("vstr"),
        rho.cast("int").as("rho"))
    def renderedNum(c: String): Column =
      col(c).cast("long").cast("string")
    val pieces =
      numCols.map(c => st("sc", c, "num", lit(0L),
        col(c).cast("long"), renderedNum(c), nullI)) ++
      strCols.map(c => st("sc", c, "str", lit(0L),
        nullL, col(c).cast("string"), nullI)) ++
      numCols.map(c => st("hi", c, "num",
        ColStats.histBucket(col(c).cast("long")),
        col(c).cast("long"), nullS, nullI)) ++
      (numCols ++ strCols).map { c =>
        val r = if (numCols.contains(c)) renderedNum(c)
          else col(c).cast("string")
        val (b, rho) = ColStats.hllBucketRho(r)
        st("hl", c, "", b, nullL, r, rho)
      } ++
      bloomCols.flatMap { c =>
        (0 until bloomK).map { seed =>
          val r = col(c).cast("string")
          // the exact ZoneMap.profile hash: xxhash64 over
          // "<rendered>:<seed>", position mod bloomBits, word = pos/64
          val pos = pmod(xxhash64(concat(r, lit(s":$seed"))),
            lit(bloomBits.toLong)).cast("int")
          st("bl", c, "", (pos / 64).cast("int"), pos, r, nullI)
        }
      } :+
      st("fp", "", "", lit(0L),
        xxhash64((numCols ++ strCols).map(col): _*), lit("x"), nullI)
    // file key projected BEFORE the widen (input_file_name() is only
    // valid in the scan's own stage); the widen parallelizes the
    // grain explosion + aggregate when the scan has fewer splits than
    // cores (guide §2.5/§2.6 — measured 7.0 s on 4 of 32 cores at
    // sf0.1 before, identity at corpus scale where splits ≫ cores)
    val needed = (numCols ++ strCols ++ bloomCols).distinct
    val lf = Par.widen(df
        .select(ZoneMap.fileKey(input_file_name()).as("file") +:
          needed.map(col): _*))
      .select(col("file"), explode(array(pieces: _*)).as("e"))
      .select(col("file"), col("e.*"))
      // the per-grain null drops the separate builders apply at their
      // own scans (hist: non-null values; hll/bloom: rendered non-null)
      .filter(!(col("grain") === "hi" && col("vnum").isNull) &&
        !(col("grain") === "hl" && col("vstr").isNull) &&
        !(col("grain") === "bl" && col("vstr").isNull))
      // bloom bit from the carried position (named column: the SQL
      // shiftleft form takes an expression where the Scala helper
      // only takes a literal shift)
      .withColumn("bit", when(col("grain") === "bl",
        expr("shiftleft(1L, int(pmod(vnum, 64)))")))
    val agg = lf.groupBy("file", "grain", "col_name", "kind", "bucket")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("vnum").isNull && col("vstr").isNull, 1L)
          .otherwise(0L)).as("nnull"),
        min("vnum").as("minn"), max("vnum").as("maxn"),
        // sc-only: the fp grain's vnum holds raw 64-bit hashes whose
        // sum overflows (and under ANSI, raises) — only the scalar
        // grain's value sum is ever read
        sum(when(col("grain") === "sc", col("vnum"))).as("sumn"),
        str_min(col("vstr")).as("mins"),
        str_max(col("vstr")).as("maxs"),
        sum(when(col("grain") === "sc",
          length(col("vstr")).cast("long"))).as("sumlen"),
        max(length(col("vstr")).cast("long")).as("maxlen"),
        max(col("rho")).as("maxrho"),
        bit_or(col("bit")).as("orbits"),
        bit_xor(col("vnum")).as("xorv"))
    (files, agg)
  }

  /** Build BOTH artifacts from one corpus scan, or reuse both when
    * both manifests match (the zone check is metadata-only; the
    * ColStats check pays its one fingerprint projection only when the
    * zone side already matched — a rebuild computes the fingerprint
    * from the fused pass itself). Partial matches rebuild both: the
    * two artifacts are one profiling job here, and a rebuild is
    * content-identical anyway.
    */
  def buildBoth(spark: SparkSession, tableDir: String,
      numCols: Seq[String], strCols: Seq[String],
      colStatsPath: String, zoneMapPath: String,
      bloomCols: Seq[String] = Nil, bloomBits: Int = 8192,
      bloomK: Int = 3,
      artifactRowsPerFile: Long = ZoneMap.DefaultArtifactRowsPerFile)
      : (IndexBuild, IndexBuild) = {
    require((numCols ++ strCols).nonEmpty, "declare at least 1 column")
    require(numCols.intersect(strCols).isEmpty,
      s"columns declared both num and str: " +
        numCols.intersect(strCols).mkString(","))
    require(bloomBits >= 64 && bloomBits % 64 == 0,
      s"bloomBits must be a positive multiple of 64, got $bloomBits")
    require(bloomK >= 1, s"bloomK must be >= 1, got $bloomK")
    val preFiles = ZoneMap.listDataFiles(tableDir)
    require(preFiles.nonEmpty, s"no parquet data files under $tableDir")
    val (zfp, zn) = ZoneMap.listFingerprint(preFiles)
    if (ZoneMap.reusableFor(zoneMapPath, zfp, zn, tableDir, numCols,
        strCols, bloomCols, bloomBits, bloomK)) {
      val df = spark.read.parquet(preFiles.map(_.uri): _*)
      val (cfp, cn) = ColStats.fingerprint(df, numCols, strCols)
      if (ColStats.reusableFor(colStatsPath, cfp, cn, numCols, strCols))
        return (IndexBuild(colStatsPath, cfp, cn, reused = true),
          IndexBuild(zoneMapPath, zfp, zn, reused = true))
    }

    val (files, aggLazy) = fusedAggregate(spark, tableDir, numCols,
      strCols, bloomCols, bloomBits, bloomK, Some(preFiles))
    // THE one corpus scan: eagerly checkpoint the metadata-scale
    // aggregate; every table below derives from it scan-free
    val agg = aggLazy.localCheckpoint()

    IndexDirs.uncommit(colStatsPath)
    IndexDirs.uncommit(zoneMapPath)

    val sc = agg.filter(col("grain") === "sc")
    // per-file content-fingerprint partials (format-4 ledger columns)
    // collected FIRST — the files-ledger write and the manifest
    // fingerprint both need them; then every artifact table below is
    // an independent metadata-scale re-aggregation of the checkpointed
    // `agg`, so the six writes run CONCURRENTLY (guide §2.6: overlap
    // independent jobs — sequential they cost six driver round-trips,
    // overlapped they cost one max)
    val s = spark
    import s.implicits._
    val fpByFile: Map[String, (Long, Long)] =
      agg.filter(col("grain") === "fp")
        .select(col("file"), col("xorv"), col("cnt")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    val writeScalar = () => sc.groupBy("col_name", "kind")
      .agg(sum("cnt").as("n_rows"), sum("nnull").as("n_nulls"),
        min("minn").as("min_num"), max("maxn").as("max_num"),
        sum("sumn").as("sum_num"),
        str_min(col("mins")).as("__mins"),
        str_max(col("maxs")).as("__maxs"),
        sum("sumlen").as("__sumlen"), max("maxlen").as("__maxlen"))
      .select(col("col_name"), col("kind"), col("n_rows"),
        col("n_nulls"),
        when(col("kind") === "num", col("min_num")).as("min_num"),
        when(col("kind") === "num", col("max_num")).as("max_num"),
        when(col("kind") === "num", col("sum_num")).as("sum_num"),
        when(col("kind") === "str", col("__mins")).as("min_str"),
        when(col("kind") === "str", col("__maxs")).as("max_str"),
        when(col("kind") === "str", col("__sumlen")).as("sum_len"),
        when(col("kind") === "str", col("__maxlen")).as("max_len"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$colStatsPath/scalar")
    val writeRegs = () => agg.filter(col("grain") === "hl")
      .groupBy("col_name", "bucket")
      .agg(max("maxrho").cast("int").as("register"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$colStatsPath/regs")
    val writeHist = () => agg.filter(col("grain") === "hi")
      .select(col("col_name"), col("bucket").cast("int").as("bucket"),
        col("cnt"))
      .groupBy("col_name", "bucket").agg(sum("cnt").as("cnt"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$colStatsPath/hist")
    val writeFiles = () => ZoneMap.writeArtifact(
      files.map { f =>
        val (fcfp, fcn) = fpByFile.getOrElse(f.key, (0L, 0L))
        (f.key, f.uri, f.len, f.mtime, fcfp, fcn)
      }.toDF("file", "uri", "flen", "fmtime", "cfp", "cn"),
      files.size.toLong, s"$zoneMapPath/files", artifactRowsPerFile)
    val lens = files.map(f => (f.key, f.len)).toDF("file", "flen")
    val writeStats = () => ZoneMap.writeArtifact(
      sc.groupBy("file", "col_name", "kind")
        .agg(sum("cnt").as("n_rows"), sum("nnull").as("n_nulls"),
          min("minn").as("__minn"), max("maxn").as("__maxn"),
          str_min(col("mins")).as("__mins"),
          str_max(col("maxs")).as("__maxs"))
        .select(col("file"), col("col_name"), col("kind"),
          col("n_rows"), col("n_nulls"),
          when(col("kind") === "num", col("__minn")).as("min_num"),
          when(col("kind") === "num", col("__maxn")).as("max_num"),
          when(col("kind") === "str", col("__mins")).as("min_str"),
          when(col("kind") === "str", col("__maxs")).as("max_str"))
        .join(broadcast(lens), Seq("file")),
      files.size.toLong * (numCols.size + strCols.size),
      s"$zoneMapPath/stats", artifactRowsPerFile)
    val writeBloom = () => {
      val bloomOut =
        if (bloomCols.isEmpty)
          agg.limit(0).select(lit("").as("file"),
            lit("").as("col_name"), lit(0).as("word"), lit(0L).as("bits"))
        else agg.filter(col("grain") === "bl")
          .select(col("file"), col("col_name"),
            col("bucket").cast("int").as("word"),
            col("orbits").as("bits"))
      ZoneMap.writeArtifact(bloomOut,
        files.size.toLong * bloomCols.size * (bloomBits / 64),
        s"$zoneMapPath/bloom", artifactRowsPerFile)
    }
    Par.inParallel(Seq(writeScalar, writeRegs, writeHist,
      writeFiles, writeStats, writeBloom))

    // content fingerprint from the fp grain: xor of per-file xors,
    // sum of per-file counts — bit-equal to contentFingerprint's
    // one-aggregate form by associativity (folded driver-side over
    // the ledger partials already collected above)
    val cn = fpByFile.valuesIterator.map(_._2).sum
    val cfp =
      if (cn == 0L) 0L
      else fpByFile.valuesIterator.foldLeft(0L)(_ ^ _._1)

    ColStats.commitBuild(colStatsPath, cfp, cn, numCols, strCols)
    ZoneMap.commitBuild(zoneMapPath, zfp, zn, tableDir, numCols,
      strCols, bloomCols, bloomBits, bloomK)
    (IndexBuild(colStatsPath, cfp, cn, reused = false),
      IndexBuild(zoneMapPath, zfp, zn, reused = false))
  }
}
