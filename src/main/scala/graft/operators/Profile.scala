package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType}

import graft.functions.StrExtremaAgg.{str_max, str_min}

/** The ONE profiling pass behind the two table-profile artifacts:
  * the per-column [[ColStats]] profile and the per-file [[ZoneMap]]
  * (stats + blooms + ledger). [[ColStats]]' staging and [[ZoneMap]]'s
  * per-file profile both run [[aggregate]] and the writers below; each
  * caller keeps only its manifest, fingerprint, commit code and checks,
  * and commits through its own lifecycle kernel.
  *
  * Every output derives from the same exploded ([file,] column, value)
  * stream: ONE scan explodes each row into GRAIN-TAGGED entries (`sc`
  * scalar, `hi` histogram, `hl` HLL, `bl` bloom, `fp` content
  * fingerprint), ONE map-side-combined aggregate reduces them at the
  * ([file,] grain, column, bucket) grain — metadata-scale: ≤ |cols| ×
  * (1 + 129 + 64) rows for ColStats' table-grain pass, ≤ |files| ×
  * (|cols| + 1 + bloom words) for ZoneMap's per-file one — and the
  * artifact tables are cheap re-aggregations of that small set,
  * checkpointed once (checkpointing the AGGREGATE is metadata-scale,
  * unlike the exploded stream). A caller requests only the grains its
  * tables read; a grain left out adds no per-row expression to the
  * pass.
  *
  * EXACTNESS: every whole-table number is an associative
  * re-aggregation of per-grain partials (sums of sums, min of mins,
  * max of rhos, xor of xors), so the file key can be grouped in or
  * away without changing a table.
  */
object Profile {

  /** The integral SQL types — what a numeric zone (besides DATE) and
    * the stats bridge's numeric answers require (a truncating cast to
    * BIGINT would make min/max lie about fractional values).
    */
  private[graft] def integral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** The grains [[ColStats]] profiles (at table grain) and the grains
    * [[ZoneMap]] profiles (per file).
    */
  private[operators] val ColStatsGrains: Set[String] = Set("sc", "hi", "hl")
  private[operators] val ZoneMapGrains: Set[String] = Set("sc", "bl", "fp")

  private def longValue(c: String): Column = col(c).cast("long")

  /** The value a declared numeric zone column of `df` profiles as,
    * after refusing a type the zone test cannot bound: an integral
    * column casts to long, and a DATE column maps to days since the
    * epoch — the same long the shared zone test ([[ZoneTests.asLong]])
    * converts a date filter value to, so date-range file skipping
    * works out of the box.
    */
  private[operators] def zoneValue(df: DataFrame, numCols: Seq[String],
      tableDir: String): String => Column = {
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    numCols.foreach { c =>
      val dt = byName.getOrElse(c, throw new IllegalArgumentException(
        s"zone column $c missing from $tableDir"))
      require(integral(dt) || dt == DateType,
        s"zone column $c is $dt: numeric zone maps require an " +
          "integral or date type (a truncating cast would prune files " +
          "whose fractional values still match a boundary predicate) " +
          "— declare it as a string zone or pre-scale to integers")
    }
    c => if (byName(c) == DateType) unix_date(col(c)).cast("long")
      else longValue(c)
  }

  /** The grain-tagged single-scan aggregate of `df` over the requested
    * `grains` (test seam: ProfileSpec asserts its physical plan holds
    * exactly ONE parquet scan). Grouped at (file, grain, col_name,
    * kind, bucket) when `byFile` — `df` must then be a bare file scan
    * — and at (grain, col_name, kind, bucket) otherwise, e.g. over a
    * merge-on-read fold or a CDC batch. `numValue` maps a numeric
    * column to its profiled long.
    */
  private[operators] def aggregate(df: DataFrame, grains: Set[String],
      numCols: Seq[String], strCols: Seq[String], byFile: Boolean,
      numValue: String => Column = longValue,
      bloomCols: Seq[String] = Nil, bloomBits: Int = 0,
      bloomK: Int = 0): DataFrame = {
    def on[T](g: String)(xs: => Seq[T]): Seq[T] =
      if (grains(g)) xs else Nil
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    def st(grain: String, name: String, kind: String, bucket: Column,
        vnum: Column, vstr: Column, rho: Column = lit(null)): Column =
      struct(Seq(lit(grain).as("grain"), lit(name).as("col_name"),
        lit(kind).as("kind"), bucket.cast("long").as("bucket"),
        vnum.cast("long").as("vnum"), vstr.cast("string").as("vstr")) ++
        on("hl")(Seq(rho.cast("int").as("rho"))): _*)
    val pieces =
      on("sc")(numCols.map(c => st("sc", c, "num", lit(0L),
        numValue(c), nullS))) ++
      on("sc")(strCols.map(c => st("sc", c, "str", lit(0L),
        nullL, col(c).cast("string")))) ++
      on("hi")(numCols.map(c => st("hi", c, "num",
        ColStats.histBucket(numValue(c)), numValue(c), nullS))) ++
      on("hl")((numCols ++ strCols).map { c =>
        val r = if (numCols.contains(c)) numValue(c).cast("string")
          else col(c).cast("string")
        val (b, rho) = ColStats.hllBucketRho(r)
        st("hl", c, "", b, nullL, r, rho)
      }) ++
      on("bl")(bloomCols.flatMap { c =>
        (0 until bloomK).map { seed =>
          val r = col(c).cast("string")
          // vnum carries the bit POSITION (the hash
          // ZoneMap.bloomPositions replays: xxhash64 over
          // "<rendered>:<seed>", position mod bloomBits), bucket the
          // packed 64-bit word index
          val pos = pmod(xxhash64(concat(r, lit(s":$seed"))),
            lit(bloomBits.toLong)).cast("int")
          st("bl", c, "", (pos / 64).cast("int"), pos, r)
        }
      }) ++
      // the row's xxhash64 over ALL declared columns — the expression
      // IndexDirs.contentFingerprint hashes, so per-file xor partials
      // compose to exactly a projected fingerprint pass
      on("fp")(Seq(st("fp", "", "", lit(0L),
        xxhash64((numCols ++ strCols).map(col): _*), nullS)))
    // file key projected BEFORE the widen (input_file_name() is only
    // valid in the scan's own stage); the widen parallelizes the
    // grain explosion + aggregate when the scan has fewer splits than
    // cores (guide §2.5/§2.6 — measured 7.0 s on 4 of 32 cores at
    // sf0.1 before, identity at corpus scale where splits ≫ cores)
    val keys = if (byFile) Seq("file") else Nil
    val needed = (numCols ++ strCols ++ bloomCols).distinct.map(col)
    val exploded = Par.widen(df.select(
        (if (byFile) ZoneMap.fileKey(input_file_name()).as("file") +:
          needed else needed): _*))
      .select(keys.map(col) :+ explode(array(pieces: _*)).as("e"): _*)
      .select(keys.map(col) :+ col("e.*"): _*)
    // a histogram counts non-null values; a null rendered value gets
    // no HLL register and sets no bloom bits
    val drops = on("hi")(Seq("hi" -> "vnum")) ++
      on("hl")(Seq("hl" -> "vstr")) ++ on("bl")(Seq("bl" -> "vstr"))
    val kept =
      if (drops.isEmpty) exploded
      else exploded.filter(drops.map { case (g, v) =>
        !(col("grain") === g && col(v).isNull) }.reduce(_ && _))
    // bloom bit from the carried position (named column: the SQL
    // shiftleft form takes an expression where the Scala helper only
    // takes a literal shift)
    val lf =
      if (!grains("bl")) kept
      else kept.withColumn("bit", when(col("grain") === "bl",
        expr("shiftleft(1L, int(pmod(vnum, 64)))")))
    val isSc = col("grain") === "sc"
    val aggs = Seq(count(lit(1)).as("cnt")) ++
      on("sc")(Seq(
        sum(when(col("vnum").isNull && col("vstr").isNull, 1L)
          .otherwise(0L)).as("nnull"),
        min("vnum").as("minn"), max("vnum").as("maxn"),
        // str_min/str_max: exact binary-ordered extrema that keep the
        // corpus-scale pass on (Object)HashAggregate — the built-in
        // string min/max would downgrade it to SortAggregate
        str_min(when(isSc, col("vstr"))).as("mins"),
        str_max(when(isSc, col("vstr"))).as("maxs"))) ++
      // sums and lengths feed only ColStats' scalar table, written by
      // the passes that profile the ColStats grains; guarded to the
      // scalar grain, so an ANSI session never raises on an
      // irrelevant overflow (the fp grain's raw 64-bit hashes)
      on("hl")(Seq(
        sum(when(isSc, col("vnum"))).as("sumn"),
        sum(when(isSc, length(col("vstr")).cast("long"))).as("sumlen"),
        max(when(isSc, length(col("vstr")).cast("long"))).as("maxlen"),
        max(col("rho")).as("maxrho"))) ++
      on("bl")(Seq(bit_or(col("bit")).as("orbits"))) ++
      on("fp")(Seq(bit_xor(when(col("grain") === "fp", col("vnum")))
        .as("xorv")))
    lf.groupBy((keys ++ Seq("grain", "col_name", "kind", "bucket"))
        .map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[ColStats]]' three tables (scalar, regs, hist) under `root`, from
    * a checkpointed [[aggregate]] over the ColStats grains — the file
    * key, if any, is grouped away. A num column's string stats and a
    * str column's numeric stats are null at the source (its grain
    * entries carry no such value).
    */
  private[operators] def colStatsWriters(agg: DataFrame,
      root: String): Seq[() => Unit] = {
    def write(df: DataFrame, sub: String): () => Unit =
      () => df.coalesce(1).write.mode("overwrite").parquet(s"$root/$sub")
    Seq(
      write(agg.filter(col("grain") === "sc").groupBy("col_name", "kind")
        .agg(sum("cnt").as("n_rows"), sum("nnull").as("n_nulls"),
          min("minn").as("min_num"), max("maxn").as("max_num"),
          sum("sumn").as("sum_num"),
          str_min(col("mins")).as("min_str"),
          str_max(col("maxs")).as("max_str"),
          sum("sumlen").as("sum_len"), max("maxlen").as("max_len")),
        "scalar"),
      write(agg.filter(col("grain") === "hl").groupBy("col_name", "bucket")
        .agg(max("maxrho").cast("int").as("register")), "regs"),
      write(agg.filter(col("grain") === "hi")
        .groupBy(col("col_name"), col("bucket").cast("int").as("bucket"))
        .agg(sum("cnt").as("cnt")), "hist"))
  }

  /** The per-file content-fingerprint partials of the `fp` grain:
    * file key → (xor of row hashes, row count).
    */
  private[operators] def fingerprints(
      agg: DataFrame): Map[String, (Long, Long)] =
    agg.filter(col("grain") === "fp")
      .select(col("file"), col("xorv"), col("cnt")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  /** [[ZoneMap]]'s three tables (stats, files, bloom) under `outDir`,
    * from a checkpointed per-file [[aggregate]] over the ZoneMap
    * grains of exactly `files`. Each stats row carries the file's
    * LENGTH (`flen`, joined from the driver's listing). The files
    * ledger is COMPLETE over `files` — a zero-row file contributes no
    * grain rows and gets the (0, 0) fingerprint identity — and is the
    * only place the READABLE uri is kept. The bloom table stays
    * present (reads union it unconditionally) with no bloom columns.
    */
  private[operators] def zoneMapWriters(agg: DataFrame,
      files: Seq[ZoneMap.FileEnt], fps: Map[String, (Long, Long)],
      nCols: Int, bloomWordsPerFile: Int, outDir: String,
      rowsPerFile: Long): Seq[() => Unit] = {
    val s = agg.sparkSession
    import s.implicits._
    val lens = files.map(f => (f.key, f.len)).toDF("file", "flen")
    def write(df: DataFrame, estPerFile: Long, sub: String): () => Unit =
      () => ZoneMap.writeArtifact(df, files.size.toLong * estPerFile,
        s"$outDir/$sub", rowsPerFile)
    Seq(
      write(agg.filter(col("grain") === "sc")
        .select(col("file"), col("col_name"), col("kind"),
          col("cnt").as("n_rows"), col("nnull").as("n_nulls"),
          col("minn").as("min_num"), col("maxn").as("max_num"),
          col("mins").as("min_str"), col("maxs").as("max_str"))
        .join(broadcast(lens), Seq("file")), nCols, "stats"),
      write(files.map { f =>
        val (cfp, cn) = fps.getOrElse(f.key, (0L, 0L))
        (f.key, f.uri, f.len, f.mtime, cfp, cn)
      }.toDF("file", "uri", "flen", "fmtime", "cfp", "cn"), 1L, "files"),
      write(
        if (bloomWordsPerFile == 0)
          agg.limit(0).select(lit("").as("file"),
            lit("").as("col_name"), lit(0).as("word"), lit(0L).as("bits"))
        else agg.filter(col("grain") === "bl")
          .select(col("file"), col("col_name"),
            col("bucket").cast("int").as("word"), col("orbits").as("bits")),
        bloomWordsPerFile, "bloom"))
  }
}
