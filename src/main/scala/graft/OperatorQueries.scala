package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IpFunctions._
import graft.functions.IpMath
import graft.operators.{AsOf, RangeLookup}

/** Declared queries that drive the custom annotation operators
  * (broadcast binary-search range lookup J1, keyed as-of snapshot
  * join J2) over the relational testdata, with DuckDB-oracle twins —
  * so the engine-specific physical paths are hash-checked, not just
  * unit-tested.
  */
object OperatorQueries {
  /** Long value encoded like a range-table bound. */
  private def enc(v: Long): Array[Byte] = {
    val b = graft.functions.IpOps.longToBin(v)
    b
  }

  /** q69/q73: left-join (ck, ip) facts to (lo, hi, range_tag) ranges
    * on containment of the binary IP, through the `merge`-hinted
    * shuffle range join.
    */
  private def mergeRangeJoin(facts: DataFrame, ranges: DataFrame): DataFrame = {
    val bin = ip_to_bin(col("ip"))
    facts.join(ranges.hint("merge"), bin >= col("lo") && bin <= col("hi"), "left")
      .select(col("ck"), col("ip"), col("range_tag"))
      .orderBy("ck")
  }

  /** q207/q209 share this persisted [[graft.operators.AggView]] over
    * lineitem — keys (rf, ls), exact-cent SUM measures
    * (fingerprint-reused on every later call).
    */
  private def lineFacts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
      round(col("l_quantity") * 100).cast("long").as("qty_c"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"))

  /** Deterministic per-dataset scratch dir for MUTATION-LIFECYCLE
    * queries (q180/q208/q211/q212): the lifecycle must replay from
    * scratch every run, so the dir is RESET here — but it is the same
    * path each run, so repeated bench passes never accumulate
    * orphaned temp directories.
    */
  private def lifecycleDir(tag: String, d: String): String = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft-$tag-${Integer.toHexString(d.hashCode)}")
    def del(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p,
          java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = java.nio.file.Files.list(p)
        try s.forEach(del(_)) finally s.close()
      }
      java.nio.file.Files.deleteIfExists(p)
      ()
    }
    if (java.nio.file.Files.exists(root)) del(root)
    root.toString
  }

  private def aggViewIdx(s: SparkSession, d: String): String = {
    import graft.operators.AggView
    val idx = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft-aggview-${Integer.toHexString(d.hashCode)}").toString
    AggView.buildIfAbsent(lineFacts(s, d), Seq("rf", "ls"),
      Seq(AggView.Measure("sum_qty_c", "qty_c"),
        AggView.Measure("sum_price_c", "price_c")),
      idx, kbParts = 8)
    idx
  }

  /** The q229-family view for the MATERIALIZED-VIEW REWRITE
    * ([[graft.plans.AggViewRewrite]]): declared directly over the
    * RAW lineitem table (keys and measure expressions in the base
    * table's own columns), so a plain SQL aggregate over that table
    * is rewrite-eligible. Fingerprint-reused across calls.
    */
  private def mvRewriteIdx(s: SparkSession, d: String): String = {
    import graft.operators.AggView
    val idx = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft-mvrw-${Integer.toHexString(d.hashCode)}").toString
    AggView.buildIfAbsent(Tables.lineitem(s, d),
      Seq("l_returnflag", "l_linestatus"),
      Seq(
        AggView.Measure("sum_qty_c",
          "CAST(round(l_quantity * 100) AS BIGINT)"),
        AggView.Measure("sum_price_c",
          "CAST(round(l_extendedprice * 100) AS BIGINT)"),
        // sum + null counter of the raw quantity: what lets the
        // rewrite serve count(l_quantity) and avg(l_quantity)
        AggView.Measure("sum_qty", "l_quantity"),
        AggView.Measure("nn_qty",
          "CASE WHEN l_quantity IS NULL THEN 0 ELSE 1 END")),
      idx, kbParts = 8)
    idx
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q7's semantics, but executed through the broadcast binary-search
    // RangeIndex instead of a BNLJ — same oracle as q07.
    "q25_range_lookup_expr" -> ((s, d) => {
      import s.implicits._
      val bins = Seq((0L, 9L, 0), (10L, 24L, 10), (25L, 50L, 25))
        .map { case (lo, hi, tag) => (enc(lo), enc(hi), tag) }
        .toDF("lo", "hi", "bin_lo")
      val facts = Tables.lineitem(s, d)
        .select(long_to_bin(col("l_quantity").cast("long")).as("qbin"))
      RangeLookup.lookup(s, facts, bins, col("qbin"))
        .groupBy(col("bin_lo").as("lo"))
        .agg(count(lit(1)).as("c"))
        .orderBy("lo")
    }),

    /** J1's over-broadcast escape hatch: the same containment
      * semantics as the broadcast probes (q25/q67), but the ranges
      * side carries a `merge` hint, so the planner strategy runs the
      * left join as [[graft.plans.ShuffleRangeJoinExec]] — fact keys
      * sampled for partition boundaries, each range shipped to every
      * partition it overlaps, one interval-tree probe per partition
      * (no broadcast of the range table, no BNLJ, no driver collect).
      * Both families run through the one join: v4 ranges
      * (10.n.0.0/16 per nation) and native-v6 ranges
      * (2001:db8:n::/48), probed with a covered/uncovered request
      * mix; the left join keeps misses with a NULL payload. (The
      * name predates the shuffle exec; results and bench history key
      * on it.)
      */
    "q69_bucketed_range_join" -> ((s, d) => {
      val n = col("n_nationkey")
      def cidr(c: org.apache.spark.sql.Column) = (cidr_lo(c), cidr_hi(c))
      val (v4lo, v4hi) = cidr(
        concat(lit("10."), n.cast("string"), lit(".0.0/16")))
      val (v6lo, v6hi) = cidr(
        concat(lit("2001:db8:"), lower(hex(n)), lit("::/48")))
      val ranges = Tables.nation(s, d)
        .select(v4lo.as("lo"), v4hi.as("hi"),
          concat(lit("R"), n.cast("string")).as("range_tag"))
        .unionByName(Tables.nation(s, d)
          .select(v6lo.as("lo"), v6hi.as("hi"),
            concat(lit("R6-"), n.cast("string")).as("range_tag")))
      val c = col("c_custkey")
      val ipExpr =
        when(c % 10 === 4,
          concat(lit("192.168."), (c % 200).cast("string"), lit(".9")))
          .when(c % 5 === 3, concat(lit("2001:db8:"),
            lower(hex(c % 25)), lit("::"), lower(hex(c))))
          .otherwise(concat(lit("10."), (c % 25).cast("string"), lit("."),
            (c % 256).cast("string"), lit(".7")))
      val facts = Tables.customer(s, d).filter(c < 300)
        .select(c.as("ck"), ipExpr.as("ip"))
      mergeRangeJoin(facts, ranges)
    }),

    /** The q69 twin with WIDE-span ranges: one v4 /8 per nation
      * ((100+n).0.0.0/8), through the same `merge`-hinted shuffle
      * join. Each /8 ships only to the partitions it overlaps, and
      * the per-partition interval tree stabs it in O(log n) however
      * wide it is.
      */
    "q73_bucketed_range_join_wide" -> ((s, d) => {
      val n = col("n_nationkey")
      val ranges = Tables.nation(s, d)
        .select(cidr_lo(concat((n + 100).cast("string"), lit(".0.0.0/8")))
            .as("lo"),
          cidr_hi(concat((n + 100).cast("string"), lit(".0.0.0/8")))
            .as("hi"),
          concat(lit("W"), n.cast("string")).as("range_tag"))
      val c = col("c_custkey")
      val ipExpr =
        when(c % 10 === 4,
          concat(lit("10.9."), (c % 200).cast("string"), lit(".1")))
          .otherwise(concat((c % 25 + 100).cast("string"), lit("."),
            (c % 256).cast("string"), lit(".3."), (c % 100).cast("string")))
      val facts = Tables.customer(s, d).filter(c < 300)
        .select(c.as("ck"), ipExpr.as("ip"))
      mergeRangeJoin(facts, ranges)
    }),

    /** J1 through [[graft.plans.ShuffleRangeJoinExec]] — the
      * range-partitioned interval join for range tables that
      * outgrow a broadcast: the ranges side's `merge` hint makes the
      * planner strategy take the shuffle path (fact keys sampled for
      * boundaries, each range shipped to every partition it
      * overlaps, per-partition interval-tree probe). Same oracle
      * semantics as q07; PlanInvariantSpec locks the exec node.
      */
    "q171_shuffle_range_join" -> ((s, d) => {
      import s.implicits._
      val bins = Seq((0, 10), (10, 25), (25, 51)).toDF("lo", "hi")
      Tables.lineitem(s, d)
        .join(bins.hint("merge"),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy("lo").agg(count(lit(1)).as("c"))
        .orderBy("lo")
    }),

    /** Record-linkage fuzzy join ([[graft.operators.Fuzzy]]): all
      * customer-name pairs within Levenshtein distance 2, candidates
      * via the positional q-gram count filter + length window (never
      * the all-pairs cross product), verified by the exact codegen
      * levenshtein. The oracle IS the cross product (sound at
      * sf-verify scale) — so the filter's losslessness is
      * hash-checked, not just spec'd. Name suffixes vary per key so
      * distances spread over 0..2, not just digit edits.
      */
    "q173_fuzzy_join" -> ((s, d) => {
      val strs = Tables.customer(s, d).filter(col("c_custkey") < 250)
        .select(col("c_custkey").as("sid"),
          concat(col("c_name"),
            expr("repeat('x', cast(c_custkey % 3 as int))")).as("sv"))
      graft.operators.Fuzzy.editDistanceJoin(strs, "sv", "sid",
          maxDist = 2)
        .orderBy("sid_a", "sid_b")
    }),

    /** Unicode normalization ([[graft.functions.TextNormFunctions]]):
      * decomposed text (base letter + combining mark, synthesized
      * arithmetically per key) NFC-composes to single codepoints,
      * then accent-folds to plain ASCII — the dedup-key
      * preprocessing a crawl corpus needs, since the same page
      * arrives in both forms. Codegen expressions over the JDK
      * normalizer; the oracle runs DuckDB's own nfc_normalize /
      * strip_accents on identically built strings, so the engines'
      * Unicode tables are compared, not assumed.
      */
    "q174_unicode_norm" -> ((s, d) => {
      import graft.functions.TextNormFunctions._
      val k = col("c_custkey")
      // combining acute/circumflex/tilde cycled per key over two
      // accented vowels + a tail word. NOTE: Spark's chr() is
      // ASCII-mod-256 (DuckDB's is codepoint), so the marks are
      // literals here and chr(769+i) on the oracle side
      val mark = element_at(
        typedLit(Seq("\u0301", "\u0302", "\u0303")),
        (pmod(k, lit(3)) + 1).cast("int"))
      val raw = concat(lit("cafe"), mark, lit(" nai"), mark,
        lit("ve k"), k.cast("string"))
      Tables.customer(s, d).filter(k < 400)
        .select(k.as("id"), raw.as("raw"))
        .select(col("id"),
          nfc_normalize(col("raw")).as("nfc_s"),
          strip_accents(nfc_normalize(col("raw"))).as("folded"),
          length(col("raw")).cast("long").as("n_raw"),
          length(nfc_normalize(col("raw"))).cast("long").as("n_nfc"))
        .orderBy("id")
    }),

    /** CDC apply / MERGE INTO semantics ([[graft.operators.Cdc]]):
      * a change stream with competing updates (last-writer-wins by
      * sequence), deletes, and inserts folds into the orders
      * snapshot — anti-join + union, never a full outer join. The
      * oracle constructs the expected POST-state directly, so a
      * wrong LWW winner, an undeleted row, or a lost insert all
      * land in the hash. Money as exact cents (the q155 rule).
      */
    "q175_cdc_apply" -> ((s, d) => {
      val t = Tables.orders(s, d).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      def ch(f: DataFrame => DataFrame, op: String, seq: Long) =
        f(t).withColumn("op", lit(op)).withColumn("seq", lit(seq))
      val stale = ch(_.filter(col("k") % 7 === 1)
        .withColumn("cents", col("cents") + 100000), "U", 1L)
      val winner = ch(_.filter(col("k") % 7 === 1)
        .withColumn("cents", col("cents") + 200000), "U", 2L)
      val dels = ch(_.filter(col("k") % 7 === 0), "D", 1L)
      val ins = ch(_.filter(col("k") % 97 === 0)
        .select((col("k") + 10000000L).as("k"), lit("N").as("st"),
          (col("k") * 100).as("cents")), "I", 1L)
      val changes = stale.unionByName(winner).unionByName(dels)
        .unionByName(ins)
      graft.operators.Cdc.applyChanges(t, changes, Seq("k"))
        .groupBy("st")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          sum("k").as("sum_keys"))
        .orderBy("st")
    }),

    /** Merge-on-read CDC ([[graft.operators.MergeOnRead]]): the
      * persisted base+delta layout end-to-end — create a bucketed
      * base, append three change batches (within-batch LWW, CROSS-
      * batch override where a later batch's lower seq beats an
      * earlier batch's higher seq, deletes, inserts), compact
      * mid-stream so the read spans a partially-rewritten base AND
      * post-compaction deltas. The base is never snapshot-rewritten
      * between batches (MorSpec asserts the write paths); the oracle
      * constructs the expected post-state directly, so a wrong
      * batch-order winner, a resurrected delete, or a bucket lost in
      * compaction all land in the hash.
      */
    "q180_merge_on_read" -> ((s, d) => {
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val dir = lifecycleDir("q180", d) + "/tbl"
      graft.operators.MergeOnRead.create(t, dir, Seq("k"),
        nBuckets = 16)
      def ch(f: DataFrame => DataFrame, op: String, seq: Long) =
        f(t).withColumn("op", lit(op)).withColumn("seq", lit(seq))
      // batch 0: stale (seq 1) vs within-batch winner (seq 2)
      graft.operators.MergeOnRead.append(
        ch(_.filter(col("k") % 7 === 1)
            .withColumn("cents", col("cents") + 100000), "U", 1L)
          .unionByName(ch(_.filter(col("k") % 7 === 1)
            .withColumn("cents", col("cents") + 200000), "U", 2L)),
        dir)
      // batch 1: deletes + a LOWER-seq update that must still beat
      // batch 0's seq-2 row (batch order dominates seq)
      graft.operators.MergeOnRead.append(
        ch(_.filter(col("k") % 7 === 0), "D", 1L)
          .unionByName(ch(_.filter(col("k") % 7 === 1)
            .withColumn("cents", col("cents") + 300000), "U", 1L)),
        dir)
      graft.operators.MergeOnRead.compact(s, dir)
      // batch 2 (post-compaction): update, delete, insert against
      // the partially-rewritten base
      graft.operators.MergeOnRead.append(
        ch(_.filter(col("k") % 7 === 2)
            .withColumn("cents", col("cents") + 50000), "U", 1L)
          .unionByName(ch(_.filter(col("k") % 7 === 3), "D", 1L))
          .unionByName(ch(_.filter(col("k") % 97 === 0)
            .select((col("k") + 10000000L).as("k"), lit("N").as("st"),
              (col("k") * 100).as("cents")), "I", 1L)),
        dir)
      graft.operators.MergeOnRead.read(s, dir)
        .groupBy("st")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          sum("k").as("sum_keys"))
        .orderBy("st")
    }),

    /** PURE-SQL serve of a [[graft.operators.MergeOnRead]] table
      * through the registered `mor` source
      * ([[graft.sources.MorSource]]): one lifecycle (create, one
      * mixed update/delete batch), then BOTH read shapes from SQL in
      * one query — the live view (base + pending deltas folded) and
      * the `version`-optioned time travel to the as-created manifest
      * (base buckets only, metadata-resolved). A delete outranking a
      * same-batch update by seq, an update leaking into the asof leg,
      * or a fold miss all land in the hash.
      */
    "q219_mor_sql" -> ((s, d) => {
      import graft.operators.MergeOnRead
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val dir = lifecycleDir("q219", d) + "/tbl"
      MergeOnRead.create(t.filter(col("k") % 4 =!= 0), dir, Seq("k"),
        nBuckets = 8)
      val v1 = MergeOnRead.versions(dir).max
      val base = t.filter(col("k") % 4 =!= 0)
      // seq 2 deletes outrank the seq 1 updates where both touch a key
      MergeOnRead.append(
        base.filter(col("k") % 7 === 0)
            .withColumn("cents", col("cents") + 100000)
            .withColumn("op", lit("U")).withColumn("seq", lit(1L))
          .unionByName(base.filter(col("k") % 5 === 0)
            .withColumn("op", lit("D")).withColumn("seq", lit(2L))),
        dir)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_q219_live " +
        s"USING mor OPTIONS (path '$dir')")
      s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_q219_asof " +
        s"USING mor OPTIONS (path '$dir', version '$v1')")
      s.sql("""SELECT src, st, count(*) AS n,
              |  CAST(sum(cents) AS BIGINT) AS sum_cents,
              |  CAST(sum(k) AS BIGINT) AS sum_keys
              |FROM (SELECT 'live' AS src, k, st, cents
              |        FROM graft_q219_live
              |      UNION ALL
              |      SELECT 'asof' AS src, k, st, cents
              |        FROM graft_q219_asof)
              |GROUP BY src, st ORDER BY src, st""".stripMargin)
    }),

    /** The MOR CHANGE FEED as a query
      * ([[graft.operators.MergeOnRead.changes]]): "what changed since
      * watermark B" at row grain, priced at the window — the plan
      * reads ONLY the window's batch directories, never the base.
      * Two legs: the full feed and the tail after the first batch;
      * a batch leaking across the watermark, a lost op/seq column,
      * or an insert misattributed to the wrong batch all land in the
      * hash.
      */
    "q220_mor_changes" -> ((s, d) => {
      import graft.operators.MergeOnRead
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val dir = lifecycleDir("q220", d) + "/tbl"
      MergeOnRead.create(t.filter(col("k") % 4 =!= 0), dir, Seq("k"),
        nBuckets = 8)
      val base = t.filter(col("k") % 4 =!= 0)
      val bA = MergeOnRead.append(
        base.filter(col("k") % 7 === 0)
          .withColumn("cents", col("cents") + 100000)
          .withColumn("op", lit("U")).withColumn("seq", lit(1L)), dir)
      MergeOnRead.append(
        base.filter(col("k") % 5 === 0)
            .withColumn("op", lit("D")).withColumn("seq", lit(1L))
          .unionByName(t.filter(col("k") % 97 === 0)
            .select((col("k") + 20000000L).as("k"), lit("N").as("st"),
              (col("k") * 100).as("cents"))
            .withColumn("op", lit("I")).withColumn("seq", lit(1L))),
        dir)
      val all = MergeOnRead.changes(s, dir)
        .select(lit("win_all").as("src"), col("op"), col("k"),
          col("cents"))
      val tail = MergeOnRead.changes(s, dir, afterBatch = bA)
        .select(lit("win_tail").as("src"), col("op"), col("k"),
          col("cents"))
      all.unionByName(tail)
        .groupBy("src", "op")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          sum("k").as("sum_keys"))
        .orderBy("src", "op")
    }),

    /** METADATA-ONLY aggregate serve
      * ([[graft.plans.ColStatsInjection.metadataAgg]]): a global
      * count/min/max/sum SQL aggregate over the registered orders
      * table is answered as a literal one-row plan straight from the
      * persisted profile — ZERO scan (PlanInvariantSpec pins no
      * FileScan in the plan). Exact by the profile's own algebra:
      * counts and integral extrema are exact, the sum is the same
      * wrapped 64-bit sum the direct query computes.
      */
    "q234_meta_agg" -> ((s, d) => {
      import graft.operators.ColStats
      val base = Tables.orders(s, d)
      val idx = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft-metaagg-${Integer.toHexString(d.hashCode)}").toString
      ColStats.buildIfAbsent(base,
        Seq("o_orderkey", "o_custkey"), Seq("o_orderstatus"), idx)
      base.createOrReplaceTempView("graft_q234_base")
      graft.plans.ColStatsInjection.injected(s, base, idx) {
        s.sql("""SELECT count(*) AS n,
                |  count(o_orderstatus) AS n_st,
                |  min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
                |  sum(o_custkey) AS sum_ck
                |FROM graft_q234_base""".stripMargin)
      }
    }),

    /** Zone-map BLOOM skipping ([[ZoneMap]] `bloomCols`): the table
      * copy is HASH-laid-out (8 files, keys interleave), so every
      * file's key [min,max] spans the whole domain and min/max zones
      * prune nothing — the per-file bloom is what rules files out
      * for the two-key IN probe. Scan ≡ the direct lookup; the
      * re-applied predicate keeps pruning honest.
      */
    "q228_zonemap_bloom" -> ((s, d) => {
      import graft.operators.ZoneMap
      import org.apache.spark.sql.sources.In
      val root = lifecycleDir("q228", d)
      val tableDir = s"$root/orders"
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      t.repartition(8, col("k")).write.mode("overwrite")
        .parquet(tableDir)
      val idx = s"$root/zm"
      ZoneMap.buildIfAbsent(s, tableDir, Seq("cents"), Seq("st"), idx,
        bloomCols = Seq("k"))
      val mm = t.agg(min("k"), max("k")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      ZoneMap.scan(s, idx,
          Seq(In("k", Array(Long.box(lo), Long.box(hi)))))
        .filter(col("k").isin(lo, hi))
        .select("k", "st", "cents").orderBy("k")
    }),

    /** Zone-map skipping for PLAIN parquet SQL
      * ([[graft.plans.ZoneMapScan]]): the table copy is range-laid-out
      * on `cents` (8 value-tight files), a [[ZoneMap]] is built and
      * REGISTERED against the plain parquet read, and a stock SQL
      * range query — no graft API in the query text — plans a scan of
      * only the surviving files (the optimizer rule substitutes the
      * pruned file list; the predicate re-evaluates above, so pruning
      * is never trusted). Oracle replays the aggregate directly;
      * PlanInvariantSpec pins that fewer-than-all files are scanned.
      */
    "q236_zonemap_plain" -> ((s, d) => {
      import graft.operators.ZoneMap
      import graft.plans.ZoneMapScan
      val root = lifecycleDir("q236", d)
      val tableDir = s"$root/orders"
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      t.repartitionByRange(8, col("cents")).write.mode("overwrite")
        .parquet(tableDir)
      val idx = s"$root/zm"
      ZoneMap.buildIfAbsent(s, tableDir, Seq("cents"), Seq("st"), idx)
      ZoneMapScan.install(s)
      val base = s.read.parquet(tableDir)
      ZoneMapScan.register(s, base, idx)
      base.createOrReplaceTempView("graft_q236_tbl")
      import org.apache.spark.sql.GraftBridge
      try GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
        s.sql("""SELECT st, count(*) AS cnt, sum(cents) AS sum_cents
                |FROM graft_q236_tbl
                |WHERE cents BETWEEN 1000000 AND 5000000
                |GROUP BY st ORDER BY st""".stripMargin)))
      finally ZoneMapScan.unregister(idx)
    }),

    /** O(DELTA) LIVE-MAINTAINED BRIDGES ([[graft.plans
      * .ColStatsInjection]] + [[graft.plans.AggViewRewrite]] with
      * per-file fingerprint partials): the stats profile and the view
      * each build with a per-file fingerprint ledger of their own;
      * each registration seeds its refresh partials from that ledger
      * SCAN-FREE; a fleet batch (the held-out quarter) lands on base
      * and artifacts; and
      * `refreshPins` re-verifies both pins by fingerprinting ONLY
      * the appended file (composition over stored partials — the
      * round-19 O(delta) contract, plan-pinned by ODeltaRefreshSpec).
      * The served result mixes both bridges: the grouped aggregate
      * rewrites onto the view, the `_ALL` row is the metadata-only
      * profile serve (zero scan). The oracle replays both directly
      * over the full orders table, so a stale pin, a mis-composed
      * fingerprint, or a wrong partial lands in the hash.
      */
    "q238_odelta_refresh" -> ((s, d) => {
      import graft.operators.{AggView, ColStats, Par}
      import graft.plans.{AggViewRewrite, ColStatsInjection}
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q238", d)
      val tableDir = s"$root/orders"
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      t.filter(col("k") % 4 =!= 0).repartition(4)
        .write.mode("overwrite").parquet(tableDir)
      def base = s.read.parquet(tableDir)
      // the stats profile and the view build over the same base into
      // disjoint dirs — overlapped, like the registrations, delta
      // landings and refreshes below (guide §2.6; orchestration only,
      // results unchanged)
      Par.inParallel(Seq(
        () => { ColStats.buildIfAbsent(base, Seq("k", "cents"),
          Seq("st"), s"$root/cs"); () },
        () => { AggView.buildIfAbsent(base, Seq("st"),
          Seq(AggView.Measure("sum_cents", "cents")),
          s"$root/view", kbParts = 4); () }))
      ColStatsInjection.install(s)
      AggViewRewrite.install(s)
      Par.inParallel(Seq(
        () => { ColStatsInjection.register(s, base, s"$root/cs",
          histograms = false); () },
        () => { AggViewRewrite.register(s, base, s"$root/view"); () }))
      try {
        // fleet batch: held-out quarter lands on base + both artifacts
        // (delta derives from the source table, so all three landings
        // are mutually independent)
        val delta = t.filter(col("k") % 4 === 0)
        Par.inParallel(Seq(
          () => delta.coalesce(1).write.mode("append").parquet(tableDir),
          () => { ColStats.append(delta, s"$root/cs"); () },
          () => { AggView.append(delta, s"$root/view"); () }))
        @volatile var rc: Array[org.apache.spark.sql.Row] = null
        @volatile var rv: Array[org.apache.spark.sql.Row] = null
        Par.inParallel(Seq(
          () => rc = ColStatsInjection.refreshPins(s).collect(),
          () => rv = AggViewRewrite.refreshPins(s).collect()))
        require(rc.forall(_.getBoolean(1)),
          "stats pin refresh refused: " +
            rc.map(_.getString(2)).mkString("; "))
        require(rv.forall(_.getBoolean(1)),
          "view pin refresh refused: " +
            rv.map(_.getString(2)).mkString("; "))
        base.createOrReplaceTempView("graft_q238_tbl")
        val grouped = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT st, count(*) AS n, sum(cents) AS sum_cents
                  |FROM graft_q238_tbl GROUP BY st""".stripMargin)))
        val total = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT '_ALL' AS st, count(*) AS n,
                  |  sum(cents) AS sum_cents
                  |FROM graft_q238_tbl""".stripMargin)))
        grouped.unionByName(total).orderBy("st")
      } finally {
        ColStatsInjection.unregister(s"$root/cs")
        AggViewRewrite.unregister(s"$root/view")
      }
    }),

    /** KEY-ZONE kb pruning for the MV rewrite ([[graft.plans
      * .AggViewRewrite]] with `keyZones = true`): a LIKE-prefix key
      * probe — which hash bucketing cannot enumerate — prunes the
      * rollup's kb partitions through per-kb key zones computed from
      * the PINNED view version itself (exact by construction: zones
      * recompute at every re-pin and rewrites only fire while the
      * pin is fresh; [[graft.operators.ZoneTests]] supplies the same
      * conservative byte-interval test the file zone maps use). The
      * oracle replays the filtered aggregate directly;
      * AggViewRewriteSpec pins the kb PartitionFilters.
      */
    "q241_mv_zone_probe" -> ((s, d) => {
      import graft.operators.AggView
      import graft.plans.AggViewRewrite
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q241", d)
      val tableDir = s"$root/orders"
      Tables.orders(s, d).select(
          col("o_orderpriority").as("pri"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartition(2).write.mode("overwrite").parquet(tableDir)
      val base = s.read.parquet(tableDir)
      AggView.buildIfAbsent(base, Seq("pri"),
        Seq(AggView.Measure("sum_cents", "cents")),
        s"$root/view", kbParts = 8)
      AggViewRewrite.install(s)
      AggViewRewrite.register(s, base, s"$root/view", keyZones = true)
      base.createOrReplaceTempView("graft_q241_tbl")
      try GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
        s.sql("""SELECT pri, count(*) AS n, sum(cents) AS sum_cents
                |FROM graft_q241_tbl
                |WHERE pri LIKE '2%'
                |GROUP BY pri ORDER BY pri""".stripMargin)))
      finally AggViewRewrite.unregister(s"$root/view")
    }),

    /** DATE-keyed kb pruning for the MV rewrite — the most common
      * dashboard shape (a time-keyed rollup probed by a date range):
      * a bounded `BETWEEN DATE … AND DATE …` ENUMERATES day-by-day
      * into kb buckets (DateType literals carry their day count, so
      * the driver-side hash replays the writer's), and an unbounded
      * `>= DATE …` tail prunes through the per-kb KEY ZONES (date
      * keys zone as days-since-epoch — [[graft.operators.AggView
      * .keyZones]]'s num path). Both legs rewrite onto the rollup
      * (AggViewRewriteSpec pins the kb PartitionFilters); the oracle
      * replays both filtered aggregates directly over orders.
      */
    "q242_mv_date_probe" -> ((s, d) => {
      import graft.operators.AggView
      import graft.plans.AggViewRewrite
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q242", d)
      val tableDir = s"$root/orders"
      Tables.orders(s, d).select(
          // the testdata column is TIMESTAMP_NTZ — cast to DATE so
          // the probe exercises the real date-key paths
          col("o_orderdate").cast("date").as("od"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartition(2).write.mode("overwrite").parquet(tableDir)
      val base = s.read.parquet(tableDir)
      AggView.buildIfAbsent(base, Seq("od"),
        Seq(AggView.Measure("sum_cents", "cents")),
        s"$root/view", kbParts = 8)
      AggViewRewrite.install(s)
      AggViewRewrite.register(s, base, s"$root/view", keyZones = true)
      base.createOrReplaceTempView("graft_q242_tbl")
      try {
        val between = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT 'between' AS src, od, count(*) AS n,
                  |  sum(cents) AS sum_cents
                  |FROM graft_q242_tbl
                  |WHERE od BETWEEN DATE '1995-03-01'
                  |  AND DATE '1995-03-05'
                  |GROUP BY od""".stripMargin)))
        val tail = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT 'tail' AS src, od, count(*) AS n,
                  |  sum(cents) AS sum_cents
                  |FROM graft_q242_tbl
                  |WHERE od >= DATE '2001-07-01'
                  |GROUP BY od""".stripMargin)))
        between.unionByName(tail).orderBy("src", "od")
      } finally AggViewRewrite.unregister(s"$root/view")
    }),

    /** Zone-map skipping over a PARTITIONED table
      * ([[graft.plans.ZoneMapScan]] + [[org.apache.spark.sql
      * .GraftPrunedFileIndex]]): the table copy is hive-partitioned
      * on order status AND range-laid-out on `cents` within each
      * partition; one zone map profiles all partitions' files; a
      * stock SQL query filtering on BOTH the partition column and
      * the data column plans a scan that partition-prunes (Spark's
      * own path, preserved by the delegating pruned index) and
      * file-skips (the killed-set subtraction) at once. The oracle
      * replays the aggregate directly; ZoneMapScanSpec pins the
      * plan shape (PartitionFilters + reduced file count).
      */
    "q240_zonemap_partitioned" -> ((s, d) => {
      import graft.operators.ZoneMap
      import graft.plans.ZoneMapScan
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q240", d)
      val tableDir = s"$root/orders"
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      t.repartitionByRange(4, col("cents"))
        .write.partitionBy("st").mode("overwrite").parquet(tableDir)
      val idx = s"$root/zm"
      ZoneMap.buildIfAbsent(s, tableDir, Seq("cents"), Seq(), idx)
      ZoneMapScan.install(s)
      val base = s.read.parquet(tableDir)
      ZoneMapScan.register(s, base, idx)
      base.createOrReplaceTempView("graft_q240_tbl")
      try GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
        s.sql("""SELECT count(*) AS cnt, sum(cents) AS sum_cents,
                |  sum(k) AS sum_k
                |FROM graft_q240_tbl
                |WHERE st = 'F' AND cents BETWEEN 1000000 AND 5000000
                |""".stripMargin)))
      finally ZoneMapScan.unregister(idx)
    }),

    /** FOLD-AWARE COLUMN STATISTICS over a [[MergeOnRead]] CDC base
      * ([[graft.plans.ColStatsInjection]] with a MOR pin): the table
      * is created with VERIFIED append-only tracking (key uniqueness
      * proven at create, fold-drops-nothing proven per compaction),
      * the profile registers against the LIVE mor-source read under
      * that proof, a stream batch lands on table and artifact, the
      * pin refuses while the batch is unfolded (unverified), the
      * compaction verifies and the refresh re-pins — and the served
      * result is a METADATA-ONLY global aggregate over the mor
      * relation (zero scan: count/min/max/sum answered from the
      * profile). The oracle replays the same aggregates directly
      * over the full orders projection (create ∪ inserts = all rows
      * — o_orderkey is unique, so the fold drops nothing), so a
      * profile that drifted from the fold lands in the hash.
      */
    "q239_mor_colstats" -> ((s, d) => {
      import graft.operators.{ColStats, MergeOnRead, Par}
      import graft.plans.ColStatsInjection
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q239", d)
      val dir = s"$root/tbl"
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      MergeOnRead.create(t.filter(col("k") % 4 =!= 0), dir, Seq("k"),
        nBuckets = 8, trackAppendOnly = true)
      def mor = s.read.format("mor").load(dir)
      ColStats.buildIfAbsent(mor, Seq("k", "cents"), Seq("st"),
        s"$root/cs")
      ColStatsInjection.install(s)
      ColStatsInjection.register(s, mor, s"$root/cs")
      try {
        val batch = t.filter(col("k") % 4 === 0)
          .withColumn("op", lit("I")).withColumn("seq", lit(1L))
        // the table batch and the artifact batch land in disjoint
        // dirs off the same source-derived frame — overlapped
        // (guide §2.6; orchestration only, the fold and the served
        // aggregate are unchanged)
        Par.inParallel(Seq(
          () => { MergeOnRead.streamAppend(batch, 0L, dir); () },
          () => { ColStats.applyBatch(batch, 0L, s"$root/cs"); () }))
        MergeOnRead.compact(s, dir)
        val r = ColStatsInjection.refreshPins(s).collect()
        require(r.forall(_.getBoolean(1)),
          "mor stats pin refresh refused: " +
            r.map(_.getString(2)).mkString("; "))
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_q239_mor " +
          s"USING mor OPTIONS (path '$dir')")
        GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT count(*) AS n, min(cents) AS min_c,
                  |  max(cents) AS max_c, sum(cents) AS sum_c,
                  |  count(st) AS n_st, min(k) AS min_k,
                  |  max(k) AS max_k
                  |FROM graft_q239_mor""".stripMargin)))
      } finally ColStatsInjection.unregister(s"$root/cs")
    }),

    /** ON-DEMAND fold verification for MOR column statistics
      * ([[graft.plans.ColStatsInjection.refreshPins]] with
      * `compactMor = true`): q239's lifecycle, but NO manual
      * compaction — the refresh hook itself folds the pending batch
      * (compaction is the verification point), verifies the
      * append-only proof + watermark + count equations, and re-pins,
      * so the metadata-only serve is restored the moment the batch
      * lands instead of at the next compaction cadence. The served
      * result is the same zero-scan global aggregate; the oracle
      * replays it directly over all of orders.
      */
    "q243_mor_ondemand" -> ((s, d) => {
      import graft.operators.{ColStats, MergeOnRead, Par}
      import graft.plans.ColStatsInjection
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q243", d)
      val dir = s"$root/tbl"
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      MergeOnRead.create(t.filter(col("k") % 4 =!= 0), dir, Seq("k"),
        nBuckets = 8, trackAppendOnly = true)
      def mor = s.read.format("mor").load(dir)
      ColStats.buildIfAbsent(mor, Seq("k", "cents"), Seq("st"),
        s"$root/cs")
      ColStatsInjection.install(s)
      ColStatsInjection.register(s, mor, s"$root/cs")
      try {
        val batch = t.filter(col("k") % 4 === 0)
          .withColumn("op", lit("I")).withColumn("seq", lit(1L))
        // disjoint-dir landings off the same source-derived frame —
        // overlapped (guide §2.6; orchestration only)
        Par.inParallel(Seq(
          () => { MergeOnRead.streamAppend(batch, 0L, dir); () },
          () => { ColStats.applyBatch(batch, 0L, s"$root/cs"); () }))
        // the sink hook — no manual compact anywhere in this query
        ColStatsInjection.refreshingSink(s, compactMor = true)(
          batch, 0L)
        val st = ColStatsInjection.status(s).collect().head
        require(st.getBoolean(st.fieldIndex("version_fresh")) &&
          st.getBoolean(st.fieldIndex("base_fresh")),
          "on-demand refresh left the pin stale")
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_q243_mor " +
          s"USING mor OPTIONS (path '$dir')")
        GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT count(*) AS n, min(cents) AS min_c,
                  |  max(cents) AS max_c, sum(cents) AS sum_c,
                  |  count(st) AS n_st, min(k) AS min_k,
                  |  max(k) AS max_k
                  |FROM graft_q243_mor""".stripMargin)))
      } finally ColStatsInjection.unregister(s"$root/cs")
    }),

    /** PARTITIONED parquet bases in the MV-rewrite and stats
      * bridges ([[graft.plans.AggViewRewrite]] +
      * [[graft.plans.ColStatsInjection]] over a hive-partitioned
      * table): the fact table is written `partitionBy(st)`, both
      * artifacts build over the native partitioned read (the
      * partition column is a VIEW KEY and a declared str column),
      * a fleet batch appends rows into existing partitions AND a
      * brand-new `st=Z` partition directory, and both pin refreshes
      * verify O(delta) — the delta scans read the appended leaf
      * files with `basePath`, so the partition column resolves from
      * the directory names. Served result: the grouped aggregate
      * rewrites onto the view; the `_ALL` row is the zero-scan
      * metadata serve. The oracle replays both directly.
      */
    "q244_mv_partitioned" -> ((s, d) => {
      import graft.operators.{AggView, ColStats, Par}
      import graft.plans.{AggViewRewrite, ColStatsInjection}
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q244", d)
      val tableDir = s"$root/orders"
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      t.filter(col("k") % 4 =!= 0).repartition(2)
        .write.partitionBy("st").mode("overwrite").parquet(tableDir)
      def base = s.read.parquet(tableDir)
      // the two artifacts build over the same base into disjoint
      // dirs — overlapped (guide §2.6); likewise the registrations,
      // the three delta landings, and the two pin refreshes below.
      // Pure orchestration: every step, and the served result, is
      // unchanged
      Par.inParallel(Seq(
        () => { ColStats.buildIfAbsent(base, Seq("k", "cents"),
          Seq("st"), s"$root/cs"); () },
        () => { AggView.buildIfAbsent(base, Seq("st"),
          Seq(AggView.Measure("sum_cents", "cents")),
          s"$root/view", kbParts = 4); () }))
      ColStatsInjection.install(s)
      AggViewRewrite.install(s)
      Par.inParallel(Seq(
        () => { ColStatsInjection.register(s, base, s"$root/cs",
          histograms = false); () },
        () => { AggViewRewrite.register(s, base, s"$root/view"); () }))
      try {
        // the fleet batch: the held-out quarter, with some rows
        // re-statused to 'Z' — a partition directory that did NOT
        // exist at registration time
        val delta = t.filter(col("k") % 4 === 0)
          .withColumn("st",
            when(col("k") % 8 === 0, lit("Z")).otherwise(col("st")))
        // delta derives from the SOURCE table, not from tableDir, so
        // the base-table append and the two artifact appends are
        // mutually independent
        Par.inParallel(Seq(
          () => delta.coalesce(1).write.partitionBy("st").mode("append")
            .parquet(tableDir),
          () => { ColStats.append(delta, s"$root/cs"); () },
          () => { AggView.append(delta, s"$root/view"); () }))
        @volatile var rc: Array[org.apache.spark.sql.Row] = null
        @volatile var rv: Array[org.apache.spark.sql.Row] = null
        Par.inParallel(Seq(
          () => rc = ColStatsInjection.refreshPins(s).collect(),
          () => rv = AggViewRewrite.refreshPins(s).collect()))
        require(rc.forall(_.getBoolean(1)),
          "partitioned stats pin refresh refused: " +
            rc.map(_.getString(2)).mkString("; "))
        require(rv.forall(_.getBoolean(1)),
          "partitioned view pin refresh refused: " +
            rv.map(_.getString(2)).mkString("; "))
        base.createOrReplaceTempView("graft_q244_tbl")
        val grouped = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT st, count(*) AS n, sum(cents) AS sum_cents
                  |FROM graft_q244_tbl GROUP BY st""".stripMargin)))
        val total = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT '_ALL' AS st, count(*) AS n,
                  |  sum(cents) AS sum_cents
                  |FROM graft_q244_tbl""".stripMargin)))
        // the query IS the partitioned-bridge demo — fail loudly if
        // the grouped leg fell back to scanning the base
        val roots = grouped.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources
              .LogicalRelation => l.relation match {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
        }.flatten
        require(roots.exists(_.contains(s"$root/view")) &&
          !roots.exists(_.contains(tableDir)),
          "q244: the partitioned-base rewrite fell back to the scan")
        grouped.unionByName(total).orderBy("st")
      } finally {
        ColStatsInjection.unregister(s"$root/cs")
        AggViewRewrite.unregister(s"$root/view")
      }
    }),

    /** JOIN-AWARE materialized view ([[graft.plans.AggViewRewrite
      * .registerStar]]): the rollup is declared over the STAR
      * `lineitem ⋈ part ⋈ supplier` (keys p_brand + s_nationkey —
      * one fact column never appears in the keys; measures exact
      * qty cents), and two plain SQL join aggregates — a key-subset
      * rollup by brand and a key-complete probe — plan onto the
      * view's files: neither the fact nor either dim is scanned
      * (StarViewSpec pins the plan shape; the probe kb-prunes). At
      * 100 TB this is the shape that matters: the expensive grouped
      * aggregates are over fact⋈dim joins, and the rewrite skips
      * both the corpus scan and the joins. The oracle replays both
      * legs' joins directly in DuckDB.
      */
    "q245_mv_star" -> ((s, d) => {
      import graft.operators.AggView
      import graft.plans.AggViewRewrite
      import org.apache.spark.sql.GraftBridge
      val fact = Tables.lineitem(s, d)
      val part = Tables.part(s, d)
      val supp = Tables.supplier(s, d)
      val idx = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft-mvstar-${Integer.toHexString(d.hashCode)}").toString
      val joined = fact
        .join(part, fact("l_partkey") === part("p_partkey"))
        .join(supp, fact("l_suppkey") === supp("s_suppkey"))
      AggView.buildIfAbsent(joined, Seq("p_brand", "s_nationkey"),
        Seq(AggView.Measure("sum_qty_c",
          "CAST(round(l_quantity * 100) AS BIGINT)")),
        idx, kbParts = 8)
      AggViewRewrite.install(s)
      AggViewRewrite.registerStar(s, fact,
        Seq(AggView.StarDim(part, Seq(("l_partkey", "p_partkey"))),
          AggView.StarDim(supp, Seq(("l_suppkey", "s_suppkey")))), idx)
      fact.createOrReplaceTempView("graft_q245_l")
      part.createOrReplaceTempView("graft_q245_p")
      supp.createOrReplaceTempView("graft_q245_s")
      val joinSql = """FROM graft_q245_l
                      |JOIN graft_q245_p ON l_partkey = p_partkey
                      |JOIN graft_q245_s ON l_suppkey = s_suppkey
                      |""".stripMargin
      try {
        val brand = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql(s"""SELECT p_brand, count(*) AS n,
                   |  sum(CAST(round(l_quantity * 100) AS BIGINT))
                   |    AS sum_qty_c
                   |$joinSql GROUP BY p_brand""".stripMargin)))
          .select(lit("brand").as("src"), col("p_brand"),
            lit(-1L).as("nk"), col("n"), col("sum_qty_c"))
        val probe = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql(s"""SELECT p_brand, s_nationkey, count(*) AS n,
                   |  sum(CAST(round(l_quantity * 100) AS BIGINT))
                   |    AS sum_qty_c
                   |$joinSql
                   |WHERE p_brand = 'Brand#23' AND s_nationkey = 3
                   |GROUP BY p_brand, s_nationkey""".stripMargin)))
          .select(lit("probe").as("src"), col("p_brand"),
            col("s_nationkey").cast("long").as("nk"), col("n"),
            col("sum_qty_c"))
        // the query IS the rewrite demo — fail loudly if either leg
        // fell back to scanning the fact or a dim
        def plansOntoView(df: DataFrame): Boolean = {
          val roots = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources
                .LogicalRelation => l.relation match {
              case h: org.apache.spark.sql.execution.datasources
                  .HadoopFsRelation =>
                h.location.rootPaths.map(_.toString)
              case _ => Nil
            }
          }.flatten
          roots.exists(_.contains(idx)) &&
            !roots.exists(_.contains("/testdata/"))
        }
        require(plansOntoView(brand) && plansOntoView(probe),
          "q245: a star leg fell back to the base join scan")
        brand.unionByName(probe).orderBy("src", "p_brand", "nk")
      } finally AggViewRewrite.unregister(idx)
    }),

    /** DATE-typed zone columns ([[graft.operators.ZoneMap]] +
      * [[graft.plans.ZoneMapScan]]): the table copy is range-laid-out
      * on the order DATE (8 value-tight files), the zone map profiles
      * the date column as days-since-epoch, and a stock SQL
      * date-range query over the plain parquet view plans a scan of
      * only the surviving files — date-range data skipping with zero
      * query changes (the commonest prune in any time-series lake).
      * The oracle replays the filtered aggregate directly.
      */
    "q246_zonemap_date" -> ((s, d) => {
      import graft.operators.ZoneMap
      import graft.plans.ZoneMapScan
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q246", d)
      val tableDir = s"$root/orders"
      Tables.orders(s, d).select(
          col("o_orderkey").cast("long").as("k"),
          col("o_orderdate").cast("date").as("od"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartitionByRange(8, col("od")).write.mode("overwrite")
        .parquet(tableDir)
      val idx = s"$root/zm"
      ZoneMap.buildIfAbsent(s, tableDir, Seq("od", "cents"), Seq(), idx)
      ZoneMapScan.install(s)
      val base = s.read.parquet(tableDir)
      ZoneMapScan.register(s, base, idx)
      base.createOrReplaceTempView("graft_q246_tbl")
      try GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
        s.sql("""SELECT count(*) AS cnt, sum(cents) AS sum_cents,
                |  sum(k) AS sum_k, min(od) AS min_od,
                |  max(od) AS max_od
                |FROM graft_q246_tbl
                |WHERE od BETWEEN DATE '1996-02-01' AND DATE '1996-04-30'
                |""".stripMargin)))
      finally ZoneMapScan.unregister(idx)
    }),

    /** APPEND-ONLY MIN/MAX measures in the materialized view
      * ([[graft.operators.AggView]] `Measure(kind = min/max)` +
      * [[graft.plans.AggViewRewrite]]): the rollup declares exact
      * cents extrema beside the signed sum, an insert-only fleet
      * batch folds in (min of partial mins), the pin re-verifies
      * O(delta), and a plain SQL `min/max/sum/count` aggregate —
      * grouped AND global — plans onto the view. Delete paths refuse
      * at the artifact (spec'd in AggViewSpec); the oracle replays
      * the grown table directly.
      */
    "q247_mv_minmax" -> ((s, d) => {
      import graft.operators.AggView
      import graft.plans.AggViewRewrite
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q247", d)
      val tableDir = s"$root/orders"
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      t.filter(col("k") % 4 =!= 0).repartition(3)
        .write.mode("overwrite").parquet(tableDir)
      def base = s.read.parquet(tableDir)
      AggView.buildIfAbsent(base, Seq("st"),
        Seq(AggView.Measure("sum_cents", "cents"),
          AggView.Measure("min_cents", "cents", kind = "min"),
          AggView.Measure("max_cents", "cents", kind = "max")),
        s"$root/view", kbParts = 4)
      AggViewRewrite.install(s)
      AggViewRewrite.register(s, base, s"$root/view")
      try {
        // insert-only fleet batch: extrema fold monotonically
        val delta = t.filter(col("k") % 4 === 0)
        delta.coalesce(1).write.mode("append").parquet(tableDir)
        AggView.append(delta, s"$root/view")
        val rv = AggViewRewrite.refreshPins(s).collect()
        require(rv.forall(_.getBoolean(1)),
          "minmax view pin refresh refused: " +
            rv.map(_.getString(2)).mkString("; "))
        base.createOrReplaceTempView("graft_q247_tbl")
        val grouped = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT st, count(*) AS n, sum(cents) AS sum_c,
                  |  min(cents) AS min_c, max(cents) AS max_c
                  |FROM graft_q247_tbl GROUP BY st""".stripMargin)))
        val total = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT '_ALL' AS st, count(*) AS n,
                  |  sum(cents) AS sum_c, min(cents) AS min_c,
                  |  max(cents) AS max_c
                  |FROM graft_q247_tbl""".stripMargin)))
        def plansOntoView(df: DataFrame): Boolean =
          df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources
                .LogicalRelation => l.relation match {
              case h: org.apache.spark.sql.execution.datasources
                  .HadoopFsRelation =>
                h.location.rootPaths.map(_.toString)
              case _ => Nil
            }
          }.flatten.exists(_.contains(s"$root/view"))
        require(plansOntoView(grouped) && plansOntoView(total),
          "q247: a min/max leg fell back to the base scan")
        grouped.unionByName(total).orderBy("st")
      } finally AggViewRewrite.unregister(s"$root/view")
    }),

    /** Hive-PARTITIONED star fact
      * ([[graft.operators.AggView.buildStarIfAbsent]] +
      * [[graft.plans.AggViewRewrite.registerStar]]): lineitem is
      * laid out partitioned by `rf` (the return flag), the star view
      * over fact ⋈ part rolls up by (p_brand, rf) with the partition
      * column as a VIEW KEY, and the build's one fingerprint pass
      * writes the per-FACT-file ledger that seeds the registration
      * scan-free. A fleet batch lands in a brand-new `rf=Z`
      * partition directory — the refresh joins only the appended
      * file (partition column resolved via basePath) — and the
      * grouped join aggregate over the grown table still plans onto
      * the view's files. At 100 TB facts are partitioned by
      * ingestion date essentially always; this is the star rewrite
      * on the layout real lakes have. The oracle replays the grown
      * join aggregate directly.
      */
    "q248_mv_star_part" -> ((s, d) => {
      import graft.operators.{AggView, Par}
      import graft.plans.AggViewRewrite
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q248", d)
      val factDir = s"$root/fact"
      val t = Tables.lineitem(s, d).select(
        col("l_orderkey").cast("long").as("fk"),
        col("l_partkey").cast("long").as("fpk"),
        round(col("l_quantity") * 100).cast("long").as("qc"),
        col("l_returnflag").as("rf"))
      val dim = Tables.part(s, d).select(
        col("p_partkey").cast("long").as("pk2"), col("p_brand"))
        .coalesce(1)
      val dimDir = s"$root/dim"
      // independent fixture writes from independent source tables —
      // overlapped (guide §2.6; orchestration only)
      Par.inParallel(Seq(
        () => t.repartition(2).write.mode("overwrite")
          .partitionBy("rf").parquet(factDir),
        () => dim.write.mode("overwrite").parquet(dimDir)))
      def fact = s.read.parquet(factDir)
      def dimDf = s.read.parquet(dimDir)
      def dims = Seq(AggView.StarDim(dimDf, Seq(("fpk", "pk2"))))
      AggView.buildStarIfAbsent(fact, dims, Seq("p_brand", "rf"),
        Seq(AggView.Measure("sum_qc", "qc")), s"$root/view",
        kbParts = 8)
      AggViewRewrite.install(s)
      AggViewRewrite.registerStar(s, fact, dims, s"$root/view")
      try {
        // fleet batch into a partition directory that did not exist
        // at registration: every 50th order's rows, reflagged 'Z'
        val delta = t.filter(col("fk") % 50 === 0)
          .withColumn("rf", lit("Z"))
        delta.coalesce(1).write.mode("append").partitionBy("rf")
          .parquet(factDir)
        val dd = dimDf
        AggView.append(delta.join(dd, delta("fpk") === dd("pk2")),
          s"$root/view")
        val rv = AggViewRewrite.refreshPins(s).collect()
        require(rv.forall(_.getBoolean(1)),
          "partitioned star refresh refused: " +
            rv.map(_.getString(2)).mkString("; "))
        fact.createOrReplaceTempView("graft_q248_f")
        dimDf.createOrReplaceTempView("graft_q248_p")
        val served = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT p_brand, rf, count(*) AS n,
                  |  sum(qc) AS sum_qc
                  |FROM graft_q248_f
                  |JOIN graft_q248_p ON fpk = pk2
                  |GROUP BY p_brand, rf""".stripMargin)))
        val roots = served.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources
              .LogicalRelation => l.relation match {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
        }.flatten
        require(roots.exists(_.contains(s"$root/view")) &&
          !roots.exists(_.contains(factDir)),
          "q248: the join aggregate fell back to the base scan")
        served.orderBy("p_brand", "rf")
      } finally AggViewRewrite.unregister(s"$root/view")
    }),

    /** PARTIAL-star matching under proven multiplicity-neutral dims
      * ([[graft.plans.AggViewRewrite.registerStar]]'s `proveDims`):
      * the star view rolls up lineitem ⋈ part ⋈ supplier, and the
      * registration PROVES both dims neutral (key unique + every
      * fact row matched — TPC-H referential integrity, verified at
      * register time, not assumed). Three legs then serve from the
      * ONE view: the full star, a PARTIAL query joining only `part`
      * (supplier's join is row-preserving, so leaving it out changes
      * no aggregate), and a FLAT fact aggregate joining nothing at
      * all. The oracle replays all three joins directly — a partial
      * serve that silently inherited the wrong multiplicity lands in
      * the hash.
      */
    "q249_mv_star_partial" -> ((s, d) => {
      import graft.operators.{AggView, Par}
      import graft.plans.AggViewRewrite
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q249", d)
      val t = Tables.lineitem(s, d).select(
        col("l_partkey").cast("long").as("fpk"),
        col("l_suppkey").cast("long").as("fsk"),
        round(col("l_quantity") * 100).cast("long").as("qc"))
      // three independent fixture writes from three source tables —
      // overlapped (guide §2.6; orchestration only)
      Par.inParallel(Seq(
        () => t.repartition(2).write.mode("overwrite")
          .parquet(s"$root/fact"),
        () => Tables.part(s, d).select(
            col("p_partkey").cast("long").as("pk2"), col("p_brand"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/d1"),
        () => Tables.supplier(s, d).select(
            col("s_suppkey").cast("long").as("sk2"),
            col("s_nationkey").cast("long").as("snat"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/d2")))
      def fact = s.read.parquet(s"$root/fact")
      def d1 = s.read.parquet(s"$root/d1")
      def d2 = s.read.parquet(s"$root/d2")
      def dims = Seq(AggView.StarDim(d1, Seq(("fpk", "pk2"))),
        AggView.StarDim(d2, Seq(("fsk", "sk2"))))
      AggView.buildStarIfAbsent(fact, dims, Seq("p_brand", "snat"),
        Seq(AggView.Measure("sum_qc", "qc")), s"$root/view",
        kbParts = 8)
      AggViewRewrite.install(s)
      AggViewRewrite.registerStar(s, fact, dims, s"$root/view",
        proveDims = true)
      try {
        fact.createOrReplaceTempView("graft_q249_f")
        d1.createOrReplaceTempView("graft_q249_p")
        d2.createOrReplaceTempView("graft_q249_s")
        val full = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT p_brand, snat, count(*) AS n,
                  |  sum(qc) AS sum_qc
                  |FROM graft_q249_f
                  |JOIN graft_q249_p ON fpk = pk2
                  |JOIN graft_q249_s ON fsk = sk2
                  |GROUP BY p_brand, snat""".stripMargin)))
          .select(lit("full").as("leg"), col("p_brand"),
            col("snat"), col("n"), col("sum_qc"))
        val partial = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT p_brand, count(*) AS n, sum(qc) AS sum_qc
                  |FROM graft_q249_f
                  |JOIN graft_q249_p ON fpk = pk2
                  |GROUP BY p_brand""".stripMargin)))
          .select(lit("partial").as("leg"), col("p_brand"),
            lit(-1L).as("snat"), col("n"), col("sum_qc"))
        val flat = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT count(*) AS n, sum(qc) AS sum_qc
                  |FROM graft_q249_f""".stripMargin)))
          .select(lit("flat").as("leg"), lit("_").as("p_brand"),
            lit(-1L).as("snat"), col("n"), col("sum_qc"))
        def plansOntoView(df: DataFrame): Boolean = {
          val roots = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources
                .LogicalRelation => l.relation match {
              case h: org.apache.spark.sql.execution.datasources
                  .HadoopFsRelation =>
                h.location.rootPaths.map(_.toString)
              case _ => Nil
            }
          }.flatten
          roots.exists(_.contains(s"$root/view")) &&
            !roots.exists(_.contains(s"$root/fact"))
        }
        require(plansOntoView(full) && plansOntoView(partial) &&
          plansOntoView(flat),
          "q249: a star leg fell back to the base join scan")
        full.unionByName(partial).unionByName(flat)
          .orderBy("leg", "p_brand", "snat")
      } finally AggViewRewrite.unregister(s"$root/view")
    }),

    /** LEFT-join star ([[graft.operators.AggView.StarDim]] with
      * `joinType = "left"`): the fact deliberately contains rows
      * whose part key matches nothing (negated keys) — the
      * enrichment-join shape where dropping facts is unacceptable —
      * and the view rolls up `fact ⟕ part`, null-extending the
      * misses into a NULL-brand group. Three legs from the one view:
      * the LEFT-join grouped aggregate (null group included), a FLAT
      * fact aggregate (a left dim with a PROVEN-unique key is
      * row-preserving by construction, so proveDims licenses flat
      * serving despite the unmatched rows — exactly what an inner
      * star could never do), and a brand probe written as the left
      * join + WHERE, which the optimizer converts to an inner join
      * and the matcher accepts because the brand equality
      * null-rejects on the dim. The oracle replays all three with
      * the same CASE'd fact in DuckDB.
      */
    "q250_mv_star_leftjoin" -> ((s, d) => {
      import graft.operators.{AggView, Par}
      import graft.plans.AggViewRewrite
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q250", d)
      val t = Tables.lineitem(s, d).select(
        when(col("l_orderkey") % 10 === 0,
            -col("l_partkey").cast("long"))
          .otherwise(col("l_partkey").cast("long")).as("fpk"),
        round(col("l_quantity") * 100).cast("long").as("qc"))
      // independent fixture writes from independent source tables —
      // overlapped (guide §2.6; orchestration only)
      Par.inParallel(Seq(
        () => t.repartition(2).write.mode("overwrite")
          .parquet(s"$root/fact"),
        () => Tables.part(s, d).select(
            col("p_partkey").cast("long").as("pk2"), col("p_brand"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/dim")))
      def fact = s.read.parquet(s"$root/fact")
      def dim = s.read.parquet(s"$root/dim")
      def dims = Seq(AggView.StarDim(dim, Seq(("fpk", "pk2")),
        joinType = "left"))
      AggView.buildStarIfAbsent(fact, dims, Seq("p_brand"),
        Seq(AggView.Measure("sum_qc", "qc")), s"$root/view",
        kbParts = 8)
      AggViewRewrite.install(s)
      AggViewRewrite.registerStar(s, fact, dims, s"$root/view",
        proveDims = true)
      try {
        fact.createOrReplaceTempView("graft_q250_f")
        dim.createOrReplaceTempView("graft_q250_p")
        val left = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT p_brand, count(*) AS n, sum(qc) AS sum_qc
                  |FROM graft_q250_f
                  |LEFT JOIN graft_q250_p ON fpk = pk2
                  |GROUP BY p_brand""".stripMargin)))
          .select(lit("left").as("leg"),
            coalesce(col("p_brand"), lit("_NULL_")).as("p_brand"),
            col("n"), col("sum_qc"))
        val flat = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT count(*) AS n, sum(qc) AS sum_qc
                  |FROM graft_q250_f""".stripMargin)))
          .select(lit("flat").as("leg"), lit("_").as("p_brand"),
            col("n"), col("sum_qc"))
        val probe = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT p_brand, count(*) AS n, sum(qc) AS sum_qc
                  |FROM graft_q250_f
                  |LEFT JOIN graft_q250_p ON fpk = pk2
                  |WHERE p_brand = 'Brand#23'
                  |GROUP BY p_brand""".stripMargin)))
          .select(lit("probe").as("leg"), col("p_brand"),
            col("n"), col("sum_qc"))
        def plansOntoView(df: DataFrame): Boolean = {
          val roots = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources
                .LogicalRelation => l.relation match {
              case h: org.apache.spark.sql.execution.datasources
                  .HadoopFsRelation =>
                h.location.rootPaths.map(_.toString)
              case _ => Nil
            }
          }.flatten
          roots.exists(_.contains(s"$root/view")) &&
            !roots.exists(_.contains(s"$root/fact"))
        }
        require(plansOntoView(left) && plansOntoView(flat) &&
          plansOntoView(probe),
          "q250: a left-star leg fell back to the base join scan")
        left.unionByName(flat).unionByName(probe)
          .orderBy("leg", "p_brand")
      } finally AggViewRewrite.unregister(s"$root/view")
    }),

    /** DERIVED-KEY rollups and DISTINCT-over-key aggregates from one
      * materialized view ([[graft.plans.AggViewRewrite]]): a
      * `(od DATE, pri)`-keyed rollup serves (1) a MONTH rollup —
      * `GROUP BY year(od), month(od)`, grouping by deterministic
      * expressions of the keys, the time-bucketed dashboard shape —
      * (2) per-priority `count(DISTINCT od)` (the view's key tuples
      * are exactly the live distinct fact tuples, so a DISTINCT
      * aggregate over keys forwards verbatim) mixed with a regular
      * measure sum in the same aggregate, (3) a grouped-by-
      * `substr(pri,1,1)` leg combining both, and (4) a yearly
      * rollup with `sum(cents) FILTER (WHERE pri = …)` — a FILTER
      * clause over keys is uniform within a key tuple, so it
      * commutes with the rollup and re-addresses to the view's
      * columns. Every leg asserts in-query that the plan scans the
      * VIEW, not the fact; the oracle replays all four directly
      * over `orders`.
      */
    "q251_mv_derived_group" -> ((s, d) => {
      import graft.operators.AggView
      import graft.plans.AggViewRewrite
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q251", d)
      val tableDir = s"$root/orders"
      Tables.orders(s, d).select(
          col("o_orderdate").cast("date").as("od"),
          col("o_orderpriority").as("pri"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartition(2).write.mode("overwrite").parquet(tableDir)
      def base = s.read.parquet(tableDir)
      AggView.buildIfAbsent(base, Seq("od", "pri"),
        Seq(AggView.Measure("sum_cents", "cents")),
        s"$root/view", kbParts = 8)
      AggViewRewrite.install(s)
      AggViewRewrite.register(s, base, s"$root/view")
      base.createOrReplaceTempView("graft_q251_tbl")
      try {
        val month = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT CAST(year(od) AS BIGINT) AS y,
                  |  CAST(month(od) AS BIGINT) AS m,
                  |  count(*) AS n, sum(cents) AS sum_cents
                  |FROM graft_q251_tbl
                  |GROUP BY year(od), month(od)""".stripMargin)))
          .select(lit("month").as("leg"), col("y"), col("m"),
            lit("_").as("g"), lit(-1L).as("days"), col("n"),
            col("sum_cents"))
        val days = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT pri, count(DISTINCT od) AS days,
                  |  sum(cents) AS sum_cents
                  |FROM graft_q251_tbl
                  |GROUP BY pri""".stripMargin)))
          .select(lit("days").as("leg"), lit(-1L).as("y"),
            lit(-1L).as("m"), col("pri").as("g"), col("days"),
            lit(-1L).as("n"), col("sum_cents"))
        val mix = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT substr(pri, 1, 1) AS pfx,
                  |  count(DISTINCT od) AS days, count(*) AS n
                  |FROM graft_q251_tbl
                  |GROUP BY substr(pri, 1, 1)""".stripMargin)))
          .select(lit("mix").as("leg"), lit(-1L).as("y"),
            lit(-1L).as("m"), col("pfx").as("g"), col("days"),
            col("n"), lit(-1L).as("sum_cents"))
        val filt = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT CAST(year(od) AS BIGINT) AS y,
                  |  sum(cents) FILTER (WHERE pri = '1-URGENT')
                  |    AS sum_cents,
                  |  count(*) AS n
                  |FROM graft_q251_tbl
                  |GROUP BY year(od)""".stripMargin)))
          .select(lit("filt").as("leg"), col("y"), lit(-1L).as("m"),
            lit("_").as("g"), lit(-1L).as("days"), col("n"),
            col("sum_cents"))
        def plansOntoView(df: DataFrame): Boolean = {
          val roots = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources
                .LogicalRelation => l.relation match {
              case h: org.apache.spark.sql.execution.datasources
                  .HadoopFsRelation =>
                h.location.rootPaths.map(_.toString)
              case _ => Nil
            }
          }.flatten
          roots.exists(_.contains(s"$root/view")) &&
            !roots.exists(_.contains(tableDir))
        }
        require(plansOntoView(month) && plansOntoView(days) &&
          plansOntoView(mix) && plansOntoView(filt),
          "q251: a derived-group/distinct leg fell back to the fact scan")
        month.unionByName(days).unionByName(mix).unionByName(filt)
          .orderBy("leg", "y", "m", "g")
      } finally AggViewRewrite.unregister(s"$root/view")
    }),

    /** ROLLUP / CUBE / GROUPING SETS served from one materialized
      * view ([[graft.plans.AggViewRewrite]] through the Expand plan
      * shape): a `(pri, st)`-keyed rollup serves (1) `GROUP BY
      * ROLLUP(pri, st)` with count + sum — grouping-set key slots
      * re-address to the view, the grouping-id literal forwards,
      * and the aggregates re-fold through appended carrier slots —
      * (2) a single-key CUBE with a `grouping(pri)` expression over
      * the gid slot, (3) explicit GROUPING SETS including the grand
      * total, (4) a DERIVED rollup key
      * (`ROLLUP(substr(pri,1,1))` — the computed projection below
      * the Expand inlines before matching), and (5) a ROLLUP over a
      * STAR join (`orders ⋈ priority-dim GROUP BY ROLLUP(band,
      * st)`) served from a star view — the Expand matcher composes
      * with [[graft.plans.AggViewRewrite.registerStar]]'s join
      * matching, so the plan skips the scan AND the join. NULL
      * group keys coalesce to sentinels outside the asserted plan
      * so both engines order identically. Every leg asserts
      * in-query that the plan scans the VIEW, not the fact.
      */
    "q252_mv_grouping_sets" -> ((s, d) => {
      import graft.operators.{AggView, Par}
      import graft.plans.AggViewRewrite
      import org.apache.spark.sql.GraftBridge
      val root = lifecycleDir("q252", d)
      val tableDir = s"$root/orders"
      Tables.orders(s, d).select(
          col("o_orderpriority").as("pri"),
          col("o_orderstatus").as("st"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartition(2).write.mode("overwrite").parquet(tableDir)
      def base = s.read.parquet(tableDir)
      def dim = s.read.parquet(s"$root/dim")
      def starDims = Seq(AggView.StarDim(dim, Seq(("pri", "pri2"))))
      // two independent build chains over the one written base: the
      // flat (pri, st) rollup, and the star chain (derive the tiny
      // priority dim, then its (band, st) rollup) — overlapped
      // (guide §2.6; orchestration only, both artifacts unchanged)
      Par.inParallel(Seq(
        () => { AggView.buildIfAbsent(base, Seq("pri", "st"),
          Seq(AggView.Measure("sum_cents", "cents")),
          s"$root/view", kbParts = 8); () },
        () => {
          // the star: a tiny priority dimension (pri2 -> band) joined
          // on the fact's pri, with its own (band, st)-keyed rollup
          base.select(col("pri").as("pri2")).distinct()
            .withColumn("band", substring(col("pri2"), 1, 1))
            .coalesce(1).write.mode("overwrite").parquet(s"$root/dim")
          AggView.buildStarIfAbsent(base, starDims, Seq("band", "st"),
            Seq(AggView.Measure("sum_cents", "cents")),
            s"$root/vstar", kbParts = 8)
          ()
        }))
      AggViewRewrite.install(s)
      Par.inParallel(Seq(
        () => { AggViewRewrite.register(s, base, s"$root/view"); () },
        () => { AggViewRewrite.registerStar(s, base, starDims,
          s"$root/vstar"); () }))
      base.createOrReplaceTempView("graft_q252_tbl")
      dim.createOrReplaceTempView("graft_q252_dim")
      def sentinel(c: org.apache.spark.sql.Column) =
        coalesce(c, lit("_T_"))
      try {
        val roll = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT pri, st, count(*) AS n,
                  |  sum(cents) AS sum_cents
                  |FROM graft_q252_tbl
                  |GROUP BY ROLLUP(pri, st)""".stripMargin)))
          .select(lit("roll").as("leg"), sentinel(col("pri")).as("pri"),
            sentinel(col("st")).as("st"), lit(-1L).as("gp"),
            col("n"), col("sum_cents"))
        val cube = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT pri, CAST(grouping(pri) AS BIGINT) AS gp,
                  |  sum(cents) AS sum_cents
                  |FROM graft_q252_tbl
                  |GROUP BY CUBE(pri)""".stripMargin)))
          .select(lit("cube").as("leg"), sentinel(col("pri")).as("pri"),
            lit("_").as("st"), col("gp"), lit(-1L).as("n"),
            col("sum_cents"))
        val sets = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT pri, st, sum(cents) AS sum_cents
                  |FROM graft_q252_tbl
                  |GROUP BY GROUPING SETS ((pri), (st), ())
                  |""".stripMargin)))
          .select(lit("sets").as("leg"), sentinel(col("pri")).as("pri"),
            sentinel(col("st")).as("st"), lit(-1L).as("gp"),
            lit(-1L).as("n"), col("sum_cents"))
        val drv = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT substr(pri, 1, 1) AS p1, count(*) AS n
                  |FROM graft_q252_tbl
                  |GROUP BY ROLLUP(substr(pri, 1, 1))""".stripMargin)))
          .select(lit("drv").as("leg"), sentinel(col("p1")).as("pri"),
            lit("_").as("st"), lit(-1L).as("gp"), col("n"),
            lit(-1L).as("sum_cents"))
        val star = GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
          s.sql("""SELECT band, st, count(*) AS n,
                  |  sum(cents) AS sum_cents
                  |FROM graft_q252_tbl
                  |JOIN graft_q252_dim ON pri = pri2
                  |GROUP BY ROLLUP(band, st)""".stripMargin)))
          .select(lit("star").as("leg"),
            sentinel(col("band")).as("pri"),
            sentinel(col("st")).as("st"), lit(-1L).as("gp"),
            col("n"), col("sum_cents"))
        def plansOnto(df: DataFrame, view: String): Boolean = {
          val roots = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources
                .LogicalRelation => l.relation match {
              case h: org.apache.spark.sql.execution.datasources
                  .HadoopFsRelation =>
                h.location.rootPaths.map(_.toString)
              case _ => Nil
            }
          }.flatten
          roots.exists(_.contains(view)) &&
            !roots.exists(_.contains(tableDir))
        }
        def plansOntoView(df: DataFrame): Boolean =
          plansOnto(df, s"$root/view")
        require(plansOntoView(roll) && plansOntoView(cube) &&
          plansOntoView(sets) && plansOntoView(drv) &&
          plansOnto(star, s"$root/vstar"),
          "q252: a grouping-sets leg fell back to the fact scan")
        roll.unionByName(cube).unionByName(sets).unionByName(drv)
          .unionByName(star)
          .orderBy("leg", "pri", "st", "gp")
      } finally {
        AggViewRewrite.unregister(s"$root/view")
        AggViewRewrite.unregister(s"$root/vstar")
      }
    }),

    /** Merge-on-read CLUSTERED COMPACTION + zone-map-pruned read
      * ([[MergeOnRead.compact]] with `clusterBy`, [[MergeOnRead
      * .readWhere]]): a CDC lifecycle (create on 3/4, one batch of
      * inserts + updates + seq-ordered deletes), compacted with
      * range clustering on `cents` so each bucket splits into
      * value-tight files, then read THROUGH the zone map with a
      * cents-range predicate — the base file list prunes on the
      * driver before the scan plans, and the predicate re-applies
      * above (pruning never trusted). The oracle replays the CDC
      * fold and the range aggregate directly — a pruned file whose
      * zone intersected, or a fold broken by the clustering rewrite,
      * lands in the hash.
      */
    "q227_mor_zonemap" -> ((s, d) => {
      import graft.operators.MergeOnRead
      import org.apache.spark.sql.sources.{GreaterThanOrEqual,
        LessThanOrEqual}
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val dir = lifecycleDir("q227", d) + "/tbl"
      MergeOnRead.create(t.filter(col("k") % 4 =!= 0), dir, Seq("k"),
        nBuckets = 8)
      MergeOnRead.append(
        t.filter(col("k") % 4 === 0)
          .withColumn("op", lit("I")).withColumn("seq", lit(1L))
          .unionByName(t.filter(col("k") % 10 === 1)
            .withColumn("cents", col("cents") + 77L)
            .withColumn("op", lit("U")).withColumn("seq", lit(1L)))
          .unionByName(t.filter(col("k") % 13 === 0)
            .withColumn("op", lit("D")).withColumn("seq", lit(2L))),
        dir)
      MergeOnRead.compact(s, dir, clusterBy = Seq("cents"),
        filesPerBucket = 4)
      MergeOnRead.buildZoneMap(s, dir, Seq("cents", "k"), Seq("st"))
      val fs = Seq(GreaterThanOrEqual("cents", 5000000L),
        LessThanOrEqual("cents", 15000000L))
      MergeOnRead.readWhere(s, dir, fs)
        .filter(col("cents").between(5000000L, 15000000L))
        .groupBy("st")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          sum("k").as("sum_k"))
        .orderBy("st")
    }),

    /** Both profile artifacts of one table ([[graft.operators.ColStats]]
      * and [[graft.operators.ZoneMap]], each from its own builder,
      * overlapped), then BOTH serve into one result — the merged
      * per-column profile rows plus one synthetic row counting a
      * zone-map-pruned range scan. The oracle replays the profile per
      * column and the range count directly, so a profile that diverged
      * from the direct SQL, or a wrong prune, lands in the hash. The
      * name predates the split into two builders and stays for oracle
      * continuity.
      */
    "q237_fused_profile" -> ((s, d) => {
      import graft.operators.{ColStats, Par, ZoneMap}
      import org.apache.spark.sql.sources.{GreaterThanOrEqual,
        LessThanOrEqual}
      val root = lifecycleDir("q237", d)
      val tableDir = s"$root/orders"
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        when(col("o_orderkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("o_orderkey") % 100).as("bucketv"),
        col("o_orderstatus").as("st"))
      t.repartitionByRange(4, col("cents")).write.mode("overwrite")
        .parquet(tableDir)
      val num = Seq("k", "cents", "bucketv")
      Par.inParallel(Seq(
        () => { ColStats.buildIfAbsent(s.read.parquet(tableDir), num,
          Seq("st"), s"$root/cs"); () },
        () => { ZoneMap.buildIfAbsent(s, tableDir, num, Seq("st"),
          s"$root/zm", bloomCols = Seq("st")); () }))
      val stats = ColStats.stats(s, s"$root/cs")
      val zoneRow = ZoneMap.scan(s, s"$root/zm",
          Seq(GreaterThanOrEqual("cents", 1000000L),
            LessThanOrEqual("cents", 5000000L)))
        .filter(col("cents").between(1000000L, 5000000L))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("zone:cents_range").as("col_name"),
          lit("zone").as("kind"), col("n_rows"),
          lit(null).cast("long").as("n_nulls"),
          lit(null).cast("long").as("min_num"),
          lit(null).cast("long").as("max_num"),
          lit(null).cast("long").as("sum_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"),
          lit(null).cast("long").as("sum_len"),
          lit(null).cast("long").as("max_len"))
      stats.unionByName(zoneRow).orderBy("col_name")
    }),

    /** Persisted COLUMN STATISTICS ([[graft.operators.ColStats]]) —
      * the lakehouse stats layer as an incrementally-maintained
      * artifact: build the per-column profile on 3/4 of orders,
      * append the held-out quarter (O(batch): counts/sums are sums,
      * min/max/HLL merge monotonically), serve. The oracle computes
      * each column's profile directly over ALL of orders, so a
      * partial that didn't fold, a null miscounted, or a string
      * extremum lost in the merge lands in the hash. `bucketv` is
      * nullable by construction (NULL on k%11=0) to exercise the
      * null ledger.
      */
    "q222_colstats" -> ((s, d) => {
      import graft.operators.ColStats
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        when(col("o_orderkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("o_orderkey") % 100).as("bucketv"),
        col("o_orderstatus").as("st"))
      val idx = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft-colstats-${Integer.toHexString(d.hashCode)}").toString
      ColStats.buildIfAbsent(t.filter(col("k") % 4 =!= 0),
        Seq("k", "cents", "bucketv"), Seq("st"), idx)
      ColStats.append(t.filter(col("k") % 4 === 0), idx)
      ColStats.stats(s, idx).orderBy("col_name")
    }),

    /** The same artifact's HLL REGISTERS (m=64, md5-60 — the q86
      * arithmetic per column over the RENDERED value): the oracle
      * replays every register for the `k` and `st` columns, pinning
      * the distinct-count state the ndv estimate derives from —
      * including that the append's register merge was a per-bucket
      * max, never a sum.
      */
    "q223_colstats_regs" -> ((s, d) => {
      import graft.operators.ColStats
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        when(col("o_orderkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("o_orderkey") % 100).as("bucketv"),
        col("o_orderstatus").as("st"))
      val idx = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft-colstats-${Integer.toHexString(d.hashCode)}").toString
      ColStats.buildIfAbsent(t.filter(col("k") % 4 =!= 0),
        Seq("k", "cents", "bucketv"), Seq("st"), idx)
      ColStats.append(t.filter(col("k") % 4 === 0), idx)
      ColStats.registers(s, idx)
        .filter(col("col_name").isin("k", "st"))
        .orderBy("col_name", "bucket")
    }),

    /** The same artifact family's signed-log₂ VALUE HISTOGRAM
      * ([[graft.operators.ColStats.hist]]): pure integer bucket
      * arithmetic (0 → 0, v>0 → bit-length(v), v<0 → −bit-length(−v))
      * that both engines replay bit-for-bit, and pure-sum counts that
      * fold exactly across the build + append. `bal` is signed by
      * construction so the mirrored negative buckets are exercised.
      * The quantile serve derives from this table (float midpoints —
      * spec territory; the oracle pins every bucket count).
      */
    "q226_colstats_hist" -> ((s, d) => {
      import graft.operators.ColStats
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        (round(col("o_totalprice") * 100).cast("long") - 15000000L)
          .as("bal"))
      val idx = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft-colstatshist-${Integer.toHexString(d.hashCode)}")
        .toString
      ColStats.buildIfAbsent(t.filter(col("k") % 4 =!= 0),
        Seq("k", "bal"), Nil, idx)
      ColStats.append(t.filter(col("k") % 4 === 0), idx)
      ColStats.hist(s, idx).orderBy("col_name", "bucket")
    }),

    /** Per-file ZONE MAPS ([[graft.operators.ZoneMap]]) — the
      * lakehouse data-skipping layer: cluster orders into 8 files by
      * key range, build the per-file min/max profile, then SCAN
      * through the zone map with a key-range predicate — the pruned
      * file list (here 8 → ~1) is decided on the driver from the
      * metadata-scale stats table, and the predicate re-applies above
      * the scan (pruning is never trusted). The oracle runs the same
      * range aggregate over ALL of orders — a zone map that pruned a
      * file whose range intersects lands in the hash.
      */
    "q224_zonemap_scan" -> ((s, d) => {
      import graft.operators.ZoneMap
      import org.apache.spark.sql.sources.{GreaterThanOrEqual,
        LessThanOrEqual}
      val root = lifecycleDir("q224", d)
      val tableDir = s"$root/orders"
      Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("ck"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartitionByRange(8, col("k"))
        .write.mode("overwrite").parquet(tableDir)
      val idx = s"$root/zm"
      ZoneMap.buildIfAbsent(s, tableDir, Seq("k", "ck", "cents"),
        Seq("st"), idx)
      val fs = Seq(GreaterThanOrEqual("k", 100L),
        LessThanOrEqual("k", 2000L))
      ZoneMap.scan(s, idx, fs)
        .filter(col("k") >= 100 && col("k") <= 2000)
        .groupBy("st")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"),
          min("ck").as("min_ck"), max("ck").as("max_ck"))
        .orderBy("st")
    }),

    /** The zonemap SQL SOURCE over a grown table: build on 2/3 of
      * orders, land the held-out third as new files, [[ZoneMap
      * .refresh]] (profiles ONLY the new files, commits a delta),
      * then query through `USING zonemap` with a WHERE — the pushed
      * filters prune the file list transparently; SQL gets data
      * skipping with zero query changes. The oracle aggregates ALL
      * of orders under the same predicate, so a refresh that missed
      * or double-profiled a file lands in the hash.
      */
    "q225_zonemap_sql" -> ((s, d) => {
      import graft.operators.ZoneMap
      val root = lifecycleDir("q225", d)
      val tableDir = s"$root/orders"
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      t.filter(col("k") % 3 =!= 0).repartitionByRange(6, col("k"))
        .write.mode("append").parquet(tableDir)
      val idx = s"$root/zm"
      ZoneMap.buildIfAbsent(s, tableDir, Seq("k", "cents"), Seq("st"),
        idx)
      t.filter(col("k") % 3 === 0).repartitionByRange(2, col("k"))
        .write.mode("append").parquet(tableDir)
      ZoneMap.refresh(s, idx)
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW zm_orders " +
        s"USING zonemap OPTIONS (path '$idx')")
      s.sql("""SELECT st, count(*) AS n, sum(cents) AS sum_cents,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM zm_orders WHERE k <= 1500
        |GROUP BY st ORDER BY st""".stripMargin)
    }),

    // Keyed as-of: each event picks the user's latest order date ≤ ts,
    // clamped to the user's earliest order when none precede. The
    // merge shape (AsOf.asOfMerge, q08's scale path) with the clamp
    // resolved by one extra unbounded first() over the same window
    // sort — no join, no per-key interval table, one shuffle.
    "q26_asof_snapshot" -> ((s, d) => {
      val snaps = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"))
      val events = Tables.events(s, d)
        .select(col("event_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("user_id").as("o_custkey"))
      AsOf.asOfMerge(events, snaps, col("ts"), "o_orderdate",
          keyCols = Seq("o_custkey"), joinType = "inner", clamp = true)
        .select(col("event_id"), col("o_orderdate").as("snap"))
        .orderBy("event_id")
        .limit(100)
    }),

    // Cross-document repeated-substring removal (Lee et al. 2022):
    // every token covered by a duplicated 6-token window is dropped
    // except in the window's first (min doc, pos) occurrence; the
    // oracle pins per-doc token counts AND the md5 of the cleaned
    // text, so the rewrite itself is hash-checked, not just counts.
    "q183_substring_dedup" -> ((s, d) =>
      graft.operators.Dedup.dropRepeatedSpans(
          Tables.documents(s, d), "text", "doc_id", 6)
        .select(col("doc_id"), col("n_tokens"), col("n_dropped"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")),

    // Rendezvous (HRW) shard routing: deterministic doc -> shard
    // placement as pure column algebra — no routing table, 1/n
    // redistribution on shard loss. Per-shard count + id sum pin
    // every row's placement through the hash aggregate.
    "q184_rendezvous_shards" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), graft.operators.Sampling.rendezvousShard(
          col("doc_id"), (0 until 5).map(i => s"shard$i")).as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"))
        .orderBy("shard")),

    /** Persisted incrementally-maintained aggregate view
      * ([[graft.operators.AggView]]): the fact rollup paid once into
      * a kb-bucketed artifact, served without touching the facts —
      * exact-cent SUM measures + count per (returnflag, linestatus)
      * group, oracle = the direct GROUP BY.
      */
    "q207_aggview" -> ((s, d) =>
      graft.operators.AggView.read(s, aggViewIdx(s, d))
        .orderBy("rf", "ls")),

    /** The full CDC maintenance lifecycle on a fresh view: build on
      * 3/4 of orders, apply ONE mixed insert/delete micro-batch
      * (inserts = the held-out quarter, deletes = the %7 rows of the
      * built base), REPLAY the same batch id (must skip —
      * exactly-once in-query), compact, read. The oracle constructs
      * the expected post-state directly, so a double-applied batch, a
      * lost delete, or a compaction error all land in the hash.
      */
    "q208_aggview_cdc" -> ((s, d) => {
      import graft.operators.AggView
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val dir = lifecycleDir("q208", d) + "/view"
      AggView.buildIfAbsent(t.filter(col("k") % 4 =!= 0), Seq("st"),
        Seq(AggView.Measure("sum_cents", "cents"),
          AggView.Measure("sum_keys", "k")),
        dir, kbParts = 4)
      val b0 = t.filter(col("k") % 4 === 0).withColumn("op", lit("I"))
        .unionByName(t.filter(col("k") % 7 === 0 && col("k") % 4 =!= 0)
          .withColumn("op", lit("D")))
      AggView.applyBatch(b0, 0L, dir)
      AggView.applyBatch(b0, 0L, dir) // replay: must skip
      AggView.compactDeltas(s, dir)
      AggView.read(s, dir).orderBy("st")
    }),

    /** The view's PROBE serve: groups matching a filter read only
      * their kb partitions of the q207 artifact (static
      * PartitionFilters, probe side broadcast) — the dashboard-filter
      * shape at 100 TB. Same oracle, WHERE'd.
      */
    "q209_aggview_lookup" -> ((s, d) => {
      import graft.operators.AggView
      val probe = lineFacts(s, d).filter(col("rf") === "R")
        .select("rf", "ls")
      AggView.lookup(s, aggViewIdx(s, d), probe).orderBy("rf", "ls")
    }),

    /** PURE-SQL serve of the q207 artifact through the registered
      * `aggview` source ([[graft.sources.AggViewSource]]): the view
      * is created and queried with SQL only, and the key-complete
      * WHERE routes through the same kb-pruned lookup plan as q209 —
      * the artifact state is a table to a SQL user.
      */
    "q213_aggview_sql" -> ((s, d) => {
      val idx = aggViewIdx(s, d)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_q213_rollup " +
        s"USING aggview OPTIONS (path '$idx')")
      s.sql("""SELECT rf, ls, cnt, sum_qty_c, sum_price_c
              |FROM graft_q213_rollup
              |WHERE rf = 'R' AND ls = 'F'
              |ORDER BY rf, ls""".stripMargin)
    }),

    /** MATERIALIZED-VIEW REWRITE ([[graft.plans.AggViewRewrite]]):
      * the user's SQL aggregates the BASE lineitem table; the
      * optimizer recognizes the registered view (listing + manifest
      * pins fresh, keys/measures match on canonical form) and serves
      * the ≤ |groups|-row rollup instead of the corpus scan. The
      * oracle runs the same SQL over the base table in DuckDB, so a
      * rewrite that changed ANY value lands in the hash;
      * PlanInvariantSpec pins that the rewrite actually fired (the
      * plan scans the artifact, not lineitem).
      */
    "q229_mv_rewrite" -> ((s, d) => {
      val idx = mvRewriteIdx(s, d)
      val base = Tables.lineitem(s, d)
      base.createOrReplaceTempView("graft_q229_base")
      graft.plans.AggViewRewrite.rewritten(s, base, idx) {
        s.sql("""SELECT l_returnflag AS rf, l_linestatus AS ls,
                |  count(*) AS cnt,
                |  sum(CAST(round(l_quantity * 100) AS BIGINT))
                |    AS sum_qty_c,
                |  sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                |    AS sum_price_c
                |FROM graft_q229_base
                |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      }
    }),

    /** Rewrite with ROLLUP: the query groups by a strict SUBSET of
      * the view keys, so the rewrite re-aggregates the rollup (sum
      * of partial sums) — one registered view serves the whole cube
      * below its key set.
      */
    "q230_mv_rollup" -> ((s, d) => {
      val idx = mvRewriteIdx(s, d)
      val base = Tables.lineitem(s, d)
      base.createOrReplaceTempView("graft_q230_base")
      graft.plans.AggViewRewrite.rewritten(s, base, idx) {
        s.sql("""SELECT l_returnflag AS rf, count(*) AS cnt,
                |  sum(CAST(round(l_quantity * 100) AS BIGINT))
                |    AS sum_qty_c
                |FROM graft_q230_base
                |GROUP BY 1 ORDER BY 1""".stripMargin)
      }
    }),

    /** Rewrite with a KEY-COMPLETE equality WHERE: the rule computes
      * the key-hash bucket driver-side and emits the kb-pruned read
      * — the q209 dashboard-probe plan (static PartitionFilters, one
      * bucket of the view) from plain SQL over the base table.
      */
    "q231_mv_probe" -> ((s, d) => {
      val idx = mvRewriteIdx(s, d)
      val base = Tables.lineitem(s, d)
      base.createOrReplaceTempView("graft_q231_base")
      graft.plans.AggViewRewrite.rewritten(s, base, idx) {
        s.sql("""SELECT l_returnflag AS rf, l_linestatus AS ls,
                |  count(*) AS cnt,
                |  sum(CAST(round(l_quantity * 100) AS BIGINT))
                |    AS sum_qty_c
                |FROM graft_q231_base
                |WHERE l_returnflag = 'R' AND l_linestatus = 'F'
                |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      }
    }),

    /** Rewrite of count(col) and avg(col) through the view's
      * declared NULL-COUNTER measure (`CASE WHEN e IS NULL THEN 0
      * ELSE 1 END`): null-skipping count is the counter's sum, avg
      * is sum-measure / counter (divisor NULL'd at 0 — ANSI-safe,
      * all-null groups stay null). l_quantity is integral-valued, so
      * the double sums are exact and the averages replay bit-equal.
      */
    "q233_mv_avg" -> ((s, d) => {
      val idx = mvRewriteIdx(s, d)
      val base = Tables.lineitem(s, d)
      base.createOrReplaceTempView("graft_q233_base")
      graft.plans.AggViewRewrite.rewritten(s, base, idx) {
        s.sql("""SELECT l_returnflag AS rf,
                |  count(l_quantity) AS cnt_qty,
                |  avg(l_quantity) AS avg_qty
                |FROM graft_q233_base
                |GROUP BY 1 ORDER BY 1""".stripMargin)
      }
    }),

    /** Rewrite of a GLOBAL (ungrouped) aggregate: count(*) coalesces
      * to 0 over an empty view, sums roll all groups up — the
      * table-stats probe every dashboard opens with.
      */
    "q232_mv_global" -> ((s, d) => {
      val idx = mvRewriteIdx(s, d)
      val base = Tables.lineitem(s, d)
      base.createOrReplaceTempView("graft_q232_base")
      graft.plans.AggViewRewrite.rewritten(s, base, idx) {
        s.sql("""SELECT count(*) AS cnt,
                |  sum(CAST(round(l_quantity * 100) AS BIGINT))
                |    AS sum_qty_c,
                |  sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                |    AS sum_price_c
                |FROM graft_q232_base""".stripMargin)
      }
    }),

    /** MOR-BACKED materialized-view rewrite with FLEET-DRIVEN pin
      * refresh ([[graft.plans.AggViewRewrite]] over a
      * [[graft.operators.MergeOnRead]] base): the view is built from
      * the live `mor`-source read and registered (pinned by the
      * table's manifest STATE, not a file listing), one CDC changelog
      * batch (inserts + full-row deletes) applies to BOTH table and
      * view, `refreshPins` verifies the watermarks and re-pins, and
      * the plain SQL aggregate over the mor source then rewrites onto
      * the view — the always-fresh-view loop end to end. The oracle
      * replays the CDC fold directly; PlanInvariantSpec pins that the
      * served plan reads the ≤ |groups|-row artifact, not the table.
      */
    "q235_mv_mor" -> ((s, d) => {
      import graft.operators.{AggView, MergeOnRead, Par}
      import graft.plans.AggViewRewrite
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = lifecycleDir("q235", d)
      val dir = s"$root/tbl"
      val viewDir = s"$root/view"
      MergeOnRead.create(t.filter(col("k") % 4 =!= 0), dir, Seq("k"),
        nBuckets = 8)
      def morDf = s.read.format("mor").load(dir)
      AggView.buildIfAbsent(morDf, Seq("st"),
        Seq(AggView.Measure("sum_cents", "cents"),
          AggView.Measure("sum_keys", "k")), viewDir, kbParts = 4)
      AggViewRewrite.install(s)
      AggViewRewrite.register(s, morDf, viewDir)
      val batch = t.filter(col("k") % 4 === 0)
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
        .unionByName(
          t.filter(col("k") % 7 === 0 && col("k") % 4 =!= 0)
            .withColumn("op", lit("D")).withColumn("seq", lit(2L)))
      // disjoint-dir landings off the same source-derived batch —
      // overlapped (guide §2.6; orchestration only)
      Par.inParallel(Seq(
        () => { MergeOnRead.streamAppend(batch, 0L, dir); () },
        () => { AggView.applyBatch(batch, 0L, viewDir); () }))
      AggViewRewrite.refreshPins(s).collect()
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_q235_mor " +
        s"USING mor OPTIONS (path '$dir')")
      import org.apache.spark.sql.GraftBridge
      try GraftBridge.ofRows(s, GraftBridge.optimizedPlan(
        s.sql("""SELECT st, count(*) AS cnt,
                |  sum(cents) AS sum_cents, sum(k) AS sum_keys
                |FROM graft_q235_mor
                |GROUP BY st ORDER BY st""".stripMargin)))
      finally AggViewRewrite.unregister(viewDir)
    }),

    /** TIME-TRAVEL serve over the versioned manifests
      * ([[graft.operators.AggView.readAsOf]]): build on 3/4 of
      * orders, then append the held-out quarter AND retract the %7
      * rows — three retained versions sharing their files — and serve
      * the PRE-APPEND version. The oracle is the rollup over the
      * build subset only, so a readAsOf that leaked any live state
      * (the append or the delete) lands in the hash.
      */
    "q211_aggview_asof" -> ((s, d) => {
      import graft.operators.AggView
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val dir = lifecycleDir("q211", d) + "/view"
      AggView.buildIfAbsent(t.filter(col("k") % 4 =!= 0), Seq("st"),
        Seq(AggView.Measure("sum_cents", "cents"),
          AggView.Measure("sum_keys", "k")), dir, kbParts = 4)
      val asBuilt = AggView.versions(dir).max
      AggView.append(t.filter(col("k") % 4 === 0), dir)
      AggView.delete(
        t.filter(col("k") % 7 === 0 && col("k") % 4 =!= 0), dir)
      AggView.readAsOf(s, dir, asBuilt).orderBy("st")
    }),

    /** O(delta) VERSION DIFF ([[graft.operators.AggView.diff]]):
      * "what did this batch change" priced at the batch — the two
      * versions share every file except the append's one delta dir,
      * so the diff plan scans ONLY it (AggViewSpec pins the 1-scan
      * plan). Oracle = the rollup over the appended quarter alone;
      * the spurious-cancellation case (a delete between the
      * versions) rides the same query via the second diff leg.
      */
    "q212_aggview_diff" -> ((s, d) => {
      import graft.operators.AggView
      val t = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val dir = lifecycleDir("q212", d) + "/view"
      AggView.buildIfAbsent(t.filter(col("k") % 4 =!= 0), Seq("st"),
        Seq(AggView.Measure("sum_cents", "cents"),
          AggView.Measure("sum_keys", "k")), dir, kbParts = 4)
      val v1 = AggView.versions(dir).max
      AggView.append(t.filter(col("k") % 4 === 0), dir)
      val v2 = AggView.versions(dir).max
      AggView.delete(
        t.filter(col("k") % 7 === 0 && col("k") % 4 =!= 0), dir)
      val v3 = AggView.versions(dir).max
      // both legs in one result: the append's diff and the delete's
      // (negated retraction), tagged — any leaked or lost file lands
      // in the hash
      AggView.diff(s, dir, v1, v2).withColumn("leg", lit("append"))
        .unionByName(
          AggView.diff(s, dir, v2, v3).withColumn("leg", lit("delete")))
        .orderBy("leg", "st")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // the served view must equal the direct grouped sums over the
    // facts — exact integer cents, so the hash compares values
    "q207_aggview" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
        |    AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_price_c
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // expected post-state of build(k%4<>0) + one mixed batch
    // (insert k%4=0, delete k%7=0∧k%4<>0) applied exactly once:
    // survivors = NOT(k%7=0 ∧ k%4<>0)
    "q208_aggview_cdc" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT * FROM t WHERE NOT (k % 7 = 0 AND k % 4 <> 0))
        |SELECT st, count(*) AS cnt,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(k) AS BIGINT) AS sum_keys
        |FROM f GROUP BY st ORDER BY st""".stripMargin,
    // append leg = +rollup over the appended quarter; delete leg =
    // -rollup over the retracted %7 rows of the build subset
    "q212_aggview_diff" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |a AS (SELECT 'append' AS leg, st, count(*) AS cnt_delta,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents_delta,
        |    CAST(sum(k) AS BIGINT) AS sum_keys_delta
        |  FROM t WHERE k % 4 = 0 GROUP BY st),
        |d AS (SELECT 'delete' AS leg, st, -count(*) AS cnt_delta,
        |    CAST(sum(-cents) AS BIGINT) AS sum_cents_delta,
        |    CAST(sum(-k) AS BIGINT) AS sum_keys_delta
        |  FROM t WHERE k % 7 = 0 AND k % 4 <> 0 GROUP BY st)
        |SELECT st, cnt_delta, sum_cents_delta, sum_keys_delta, leg
        |FROM (SELECT * FROM a UNION ALL SELECT * FROM d)
        |ORDER BY leg, st""".stripMargin,
    // the pre-append version = the rollup over the build subset only
    "q211_aggview_asof" ->
      """SELECT o_orderstatus AS st, count(*) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(sum(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS sum_keys
        |FROM orders WHERE CAST(o_orderkey AS BIGINT) % 4 <> 0
        |GROUP BY st ORDER BY st""".stripMargin,
    // the SQL-served view WHERE'd to one (rf, ls) group
    "q213_aggview_sql" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
        |    AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_price_c
        |FROM lineitem WHERE l_returnflag = 'R' AND l_linestatus = 'F'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q207's rollup WHERE'd to the probed group
    "q209_aggview_lookup" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
        |    AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_price_c
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the rewritten aggregate must equal the SAME SQL over the base
    // table — the defining contract of a materialized-view rewrite
    "q229_mv_rewrite" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
        |    AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_price_c
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // rollup to a subset of the view keys
    "q230_mv_rollup" ->
      """SELECT l_returnflag AS rf, count(*) AS cnt,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
        |    AS BIGINT) AS sum_qty_c
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // key-complete equality probe
    "q231_mv_probe" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
        |    AS BIGINT) AS sum_qty_c
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_linestatus = 'F'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the zone-pruned rewritten probe must equal the direct filtered
    // aggregate — a kb partition wrongly pruned loses its groups and
    // lands in the hash
    "q241_mv_zone_probe" ->
      """WITH t AS (SELECT o_orderpriority AS pri,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT pri, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t WHERE pri LIKE '2%'
        |GROUP BY pri ORDER BY pri""".stripMargin,
    // both date-probed legs (enumerated BETWEEN, zone-pruned tail)
    // must equal the direct filtered aggregates — a kb partition
    // wrongly pruned on either path loses its days and lands here
    "q242_mv_date_probe" ->
      """WITH t AS (SELECT CAST(o_orderdate AS DATE) AS od,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT 'between' AS src, od, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t
        |WHERE od BETWEEN DATE '1995-03-01' AND DATE '1995-03-05'
        |GROUP BY od
        |UNION ALL
        |SELECT 'tail' AS src, od, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t WHERE od >= DATE '2001-07-01'
        |GROUP BY od
        |ORDER BY src, od""".stripMargin,
    // the partition-pruned + zone-skipped scan must equal the direct
    // filtered aggregate — a dropped file that still matched (or a
    // partition wrongly pruned) lands in the hash
    "q240_zonemap_partitioned" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT count(*) AS cnt, CAST(sum(cents) AS BIGINT)
        |  AS sum_cents, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM t
        |WHERE st = 'F' AND cents BETWEEN 1000000 AND 5000000""".stripMargin,
    // the metadata-served aggregates over the verified append-only
    // mor table must equal the direct ones over ALL of orders
    // (create ∪ inserts; o_orderkey unique ⇒ the fold drops nothing)
    "q239_mor_colstats" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT count(*) AS n, min(cents) AS min_c,
        |  max(cents) AS max_c, CAST(sum(cents) AS BIGINT) AS sum_c,
        |  count(st) AS n_st, min(k) AS min_k, max(k) AS max_k
        |FROM t""".stripMargin,
    // the date-zone-pruned plain-SQL scan must equal the direct
    // date-range aggregate — a file pruned whose day range
    // intersected lands here
    "q246_zonemap_date" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_orderdate AS DATE) AS od,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT count(*) AS cnt, CAST(sum(cents) AS BIGINT)
        |  AS sum_cents, CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(od) AS min_od, max(od) AS max_od
        |FROM t
        |WHERE od BETWEEN DATE '1996-02-01' AND DATE '1996-04-30'
        |""".stripMargin,
    // the min/max-measured view must serve exactly the grown table's
    // grouped and global extrema — a stale fold or a min that crept
    // up lands in the hash
    "q247_mv_minmax" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT st, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_c,
        |  min(cents) AS min_c, max(cents) AS max_c
        |FROM t GROUP BY st
        |UNION ALL
        |SELECT '_ALL' AS st, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_c,
        |  min(cents) AS min_c, max(cents) AS max_c
        |FROM t
        |ORDER BY st""".stripMargin,
    // the partitioned star must serve the GROWN fact (create
    // partitions ∪ the new rf='Z' batch) joined with the dim — a
    // refresh that missed the new partition directory, or a view
    // that lost the join, lands in the hash
    "q248_mv_star_part" ->
      """WITH f AS (SELECT l_partkey AS fpk,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |    l_returnflag AS rf
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_partkey,
        |    CAST(round(l_quantity * 100) AS BIGINT), 'Z'
        |  FROM lineitem WHERE l_orderkey % 50 = 0)
        |SELECT p_brand, rf, count(*) AS n,
        |  CAST(sum(qc) AS BIGINT) AS sum_qc
        |FROM f JOIN part ON fpk = p_partkey
        |GROUP BY p_brand, rf
        |ORDER BY p_brand, rf""".stripMargin,
    // all three legs — full star, partial (part only), flat (no
    // join) — replay directly; a partial serve with the wrong
    // multiplicity (a dim that dropped or duplicated fact rows)
    // diverges from the replayed join and lands in the hash
    "q249_mv_star_partial" ->
      """WITH f AS (SELECT l_partkey AS fpk, l_suppkey AS fsk,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc
        |  FROM lineitem)
        |SELECT 'full' AS leg, p_brand,
        |  CAST(s_nationkey AS BIGINT) AS snat, count(*) AS n,
        |  CAST(sum(qc) AS BIGINT) AS sum_qc
        |FROM f JOIN part ON fpk = p_partkey
        |JOIN supplier ON fsk = s_suppkey
        |GROUP BY p_brand, s_nationkey
        |UNION ALL
        |SELECT 'partial' AS leg, p_brand, CAST(-1 AS BIGINT) AS snat,
        |  count(*) AS n, CAST(sum(qc) AS BIGINT) AS sum_qc
        |FROM f JOIN part ON fpk = p_partkey
        |GROUP BY p_brand
        |UNION ALL
        |SELECT 'flat' AS leg, '_' AS p_brand, CAST(-1 AS BIGINT) AS snat,
        |  count(*) AS n, CAST(sum(qc) AS BIGINT) AS sum_qc
        |FROM f
        |ORDER BY leg, p_brand, snat""".stripMargin,
    // the left-join star's three legs replay with the same CASE'd
    // fact: a view that dropped the unmatched rows (inner
    // multiplicity), or a flat serve that miscounted them, lands in
    // the hash — the NULL-brand group is part of the compare
    "q250_mv_star_leftjoin" ->
      """WITH f AS (SELECT
        |    CASE WHEN l_orderkey % 10 = 0 THEN -l_partkey
        |         ELSE l_partkey END AS fpk,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc
        |  FROM lineitem)
        |SELECT 'left' AS leg, coalesce(p_brand, '_NULL_') AS p_brand,
        |  count(*) AS n, CAST(sum(qc) AS BIGINT) AS sum_qc
        |FROM f LEFT JOIN part ON fpk = p_partkey
        |GROUP BY coalesce(p_brand, '_NULL_')
        |UNION ALL
        |SELECT 'flat' AS leg, '_' AS p_brand, count(*) AS n,
        |  CAST(sum(qc) AS BIGINT) AS sum_qc
        |FROM f
        |UNION ALL
        |SELECT 'probe' AS leg, p_brand, count(*) AS n,
        |  CAST(sum(qc) AS BIGINT) AS sum_qc
        |FROM f LEFT JOIN part ON fpk = p_partkey
        |WHERE p_brand = 'Brand#23'
        |GROUP BY p_brand
        |ORDER BY leg, p_brand""".stripMargin,
    // all three derived/distinct legs replay directly over orders:
    // a coarser-grouped serve that re-folded wrong (or a distinct
    // forwarded over a column with residual multiplicity) lands in
    // the hash
    "q251_mv_derived_group" ->
      """WITH t AS (SELECT CAST(o_orderdate AS DATE) AS od,
        |    o_orderpriority AS pri,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT 'month' AS leg, CAST(year(od) AS BIGINT) AS y,
        |  CAST(month(od) AS BIGINT) AS m, '_' AS g,
        |  CAST(-1 AS BIGINT) AS days, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t GROUP BY year(od), month(od)
        |UNION ALL
        |SELECT 'days' AS leg, CAST(-1 AS BIGINT) AS y,
        |  CAST(-1 AS BIGINT) AS m, pri AS g,
        |  count(DISTINCT od) AS days, CAST(-1 AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t GROUP BY pri
        |UNION ALL
        |SELECT 'mix' AS leg, CAST(-1 AS BIGINT) AS y,
        |  CAST(-1 AS BIGINT) AS m, substr(pri, 1, 1) AS g,
        |  count(DISTINCT od) AS days, count(*) AS n,
        |  CAST(-1 AS BIGINT) AS sum_cents
        |FROM t GROUP BY substr(pri, 1, 1)
        |UNION ALL
        |SELECT 'filt' AS leg, CAST(year(od) AS BIGINT) AS y,
        |  CAST(-1 AS BIGINT) AS m, '_' AS g,
        |  CAST(-1 AS BIGINT) AS days, count(*) AS n,
        |  CAST(sum(cents) FILTER (WHERE pri = '1-URGENT') AS BIGINT)
        |    AS sum_cents
        |FROM t GROUP BY year(od)
        |ORDER BY leg, y, m, g""".stripMargin,
    // every grouping-set leg replays directly: a grouping set served
    // with the wrong slot mapping (a nulled key leaking a value, a
    // mis-forwarded grouping id, a carrier miscount) lands in the
    // hash
    "q252_mv_grouping_sets" ->
      """WITH t AS (SELECT o_orderpriority AS pri,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT 'roll' AS leg, coalesce(pri, '_T_') AS pri,
        |  coalesce(st, '_T_') AS st, CAST(-1 AS BIGINT) AS gp,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t GROUP BY ROLLUP(pri, st)
        |UNION ALL
        |SELECT 'cube' AS leg, coalesce(pri, '_T_') AS pri,
        |  '_' AS st, CAST(grouping(pri) AS BIGINT) AS gp,
        |  CAST(-1 AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t GROUP BY CUBE(pri)
        |UNION ALL
        |SELECT 'sets' AS leg, coalesce(pri, '_T_') AS pri,
        |  coalesce(st, '_T_') AS st, CAST(-1 AS BIGINT) AS gp,
        |  CAST(-1 AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t GROUP BY GROUPING SETS ((pri), (st), ())
        |UNION ALL
        |SELECT 'drv' AS leg, coalesce(substr(pri, 1, 1), '_T_')
        |    AS pri,
        |  '_' AS st, CAST(-1 AS BIGINT) AS gp, count(*) AS n,
        |  CAST(-1 AS BIGINT) AS sum_cents
        |FROM t GROUP BY ROLLUP(substr(pri, 1, 1))
        |UNION ALL
        |SELECT 'star' AS leg, coalesce(band, '_T_') AS pri,
        |  coalesce(st, '_T_') AS st, CAST(-1 AS BIGINT) AS gp,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t JOIN (SELECT DISTINCT o_orderpriority AS pri2,
        |    substr(o_orderpriority, 1, 1) AS band FROM orders) d
        |  ON pri = pri2
        |GROUP BY ROLLUP(band, st)
        |ORDER BY leg, pri, st, gp""".stripMargin,
    // both star legs must equal the direct join aggregates — a
    // rollup serving from a stale or mis-joined view loses its join
    // multiplicity and lands in the hash
    "q245_mv_star" ->
      """WITH j AS (SELECT p_brand, s_nationkey,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey)
        |SELECT 'brand' AS src, p_brand, CAST(-1 AS BIGINT) AS nk,
        |  count(*) AS n, CAST(sum(qc) AS BIGINT) AS sum_qty_c
        |FROM j GROUP BY p_brand
        |UNION ALL
        |SELECT 'probe' AS src, p_brand,
        |  CAST(s_nationkey AS BIGINT) AS nk,
        |  count(*) AS n, CAST(sum(qc) AS BIGINT) AS sum_qty_c
        |FROM j WHERE p_brand = 'Brand#23' AND s_nationkey = 3
        |GROUP BY p_brand, s_nationkey
        |ORDER BY src, p_brand, nk""".stripMargin,
    // the partitioned-base bridges must serve exactly the grown
    // table (create partitions ∪ appended rows incl. the new 'Z'
    // partition): grouped rewrite + the _ALL metadata row both
    // replay directly
    "q244_mv_partitioned" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |u AS (SELECT k, st, cents FROM t WHERE k % 4 <> 0
        |      UNION ALL
        |      SELECT k,
        |        CASE WHEN k % 8 = 0 THEN 'Z' ELSE st END AS st,
        |        cents
        |      FROM t WHERE k % 4 = 0)
        |SELECT st, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM u GROUP BY st
        |UNION ALL
        |SELECT '_ALL' AS st, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM u
        |ORDER BY st""".stripMargin,
    // q239's contract under the ON-DEMAND fold: the hook-compacted,
    // hook-verified serve must equal the direct aggregates too
    "q243_mor_ondemand" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT count(*) AS n, min(cents) AS min_c,
        |  max(cents) AS max_c, CAST(sum(cents) AS BIGINT) AS sum_c,
        |  count(st) AS n_st, min(k) AS min_k, max(k) AS max_k
        |FROM t""".stripMargin,
    // the O(delta)-refreshed bridges must serve exactly the full
    // table: grouped agg (view rewrite) + the _ALL row (metadata
    // serve) both replay directly over orders
    "q238_odelta_refresh" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT st, count(*) AS n, CAST(sum(cents) AS BIGINT)
        |  AS sum_cents
        |FROM t GROUP BY st
        |UNION ALL
        |SELECT '_ALL' AS st, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t
        |ORDER BY st""".stripMargin,
    // the zone-map-pruned plain-SQL scan must equal the direct range
    // aggregate — a pruned file whose zone intersected lands here
    "q236_zonemap_plain" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT st, count(*) AS cnt,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t WHERE cents BETWEEN 1000000 AND 5000000
        |GROUP BY st ORDER BY st""".stripMargin,
    // the rewritten-over-mor aggregate must equal the CDC fold:
    // create(k%4<>0) + one changelog batch (insert k%4=0, delete
    // k%7=0∧k%4<>0) ⇒ survivors = NOT(k%7=0 ∧ k%4<>0)
    "q235_mv_mor" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT * FROM t WHERE NOT (k % 7 = 0 AND k % 4 <> 0))
        |SELECT st, count(*) AS cnt,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(k) AS BIGINT) AS sum_keys
        |FROM f GROUP BY st ORDER BY st""".stripMargin,
    // the metadata-served global aggregate must equal the direct one
    "q234_meta_agg" ->
      """SELECT count(*) AS n,
        |  count(o_orderstatus) AS n_st,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_k,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_k,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_ck
        |FROM orders""".stripMargin,
    // null-skipping count and avg through the declared null counter
    "q233_mv_avg" ->
      """SELECT l_returnflag AS rf,
        |  count(l_quantity) AS cnt_qty,
        |  avg(l_quantity) AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // global (ungrouped) aggregate
    "q232_mv_global" ->
      """SELECT count(*) AS cnt,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
        |    AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_price_c
        |FROM lineitem""".stripMargin,
    "q184_rendezvous_shards" ->
      """WITH r AS (SELECT doc_id, list_max([
        |{'w': CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard0'), 1, 15) AS BIGINT), 's': 'shard0'},
        |{'w': CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard1'), 1, 15) AS BIGINT), 's': 'shard1'},
        |{'w': CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard2'), 1, 15) AS BIGINT), 's': 'shard2'},
        |{'w': CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard3'), 1, 15) AS BIGINT), 's': 'shard3'},
        |{'w': CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard4'), 1, 15) AS BIGINT), 's': 'shard4'}
        |]).s AS shard FROM documents)
        |SELECT shard, count(*) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM r GROUP BY shard ORDER BY shard""".stripMargin,
    "q183_substring_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'),
        |      x -> len(x) > 0) AS ts FROM documents),
        |g AS (SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
        |    array_to_string(list_slice(ts, CAST(t.i AS INT) + 1,
        |      CAST(t.i AS INT) + 6), ' ') AS gram,
        |    CAST(doc_id AS BIGINT) * 1048576 + CAST(t.i AS BIGINT) AS ck
        |  FROM d, unnest(range(CAST(len(ts) AS BIGINT) - 5)) AS t(i)
        |  WHERE len(ts) >= 6),
        |canon AS (SELECT gram, min(ck) AS canon FROM g
        |  GROUP BY gram HAVING count(*) > 1),
        |dup AS (SELECT g.doc_id, g.pos FROM g
        |  JOIN canon c ON g.gram = c.gram AND g.ck != c.canon),
        |m AS (SELECT DISTINCT doc_id, pos + o.o AS ti
        |  FROM dup, unnest(range(6)) AS o(o)),
        |tok AS (SELECT doc_id, CAST(t.i AS BIGINT) AS ti,
        |    ts[CAST(t.i AS INT) + 1] AS tok
        |  FROM d, unnest(range(CAST(len(ts) AS BIGINT))) AS t(i)),
        |kept AS (SELECT t.doc_id, t.ti, t.tok FROM tok t
        |  LEFT JOIN m ON t.doc_id = m.doc_id AND t.ti = m.ti
        |  WHERE m.doc_id IS NULL),
        |agg AS (SELECT doc_id,
        |    array_to_string(list(tok ORDER BY ti), ' ') AS clean_text
        |  FROM kept GROUP BY doc_id),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dropped
        |  FROM m GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.ts) AS BIGINT) AS n_tokens,
        |  COALESCE(c.n_dropped, 0) AS n_dropped,
        |  md5(COALESCE(a.clean_text, '')) AS clean_md5
        |FROM d LEFT JOIN cnt c ON d.doc_id = c.doc_id
        |LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q25_range_lookup_expr" ->
      """SELECT b.lo, count(*) AS c FROM lineitem l JOIN
        |(SELECT 0 AS lo, 10 AS hi UNION ALL SELECT 10, 25
        | UNION ALL SELECT 25, 51) b
        |ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
        |GROUP BY b.lo ORDER BY b.lo""".stripMargin,
    "q69_bucketed_range_join" ->
      """SELECT c_custkey AS ck,
        |  CASE WHEN c_custkey % 10 = 4
        |      THEN '192.168.' || (c_custkey % 200) || '.9'
        |    WHEN c_custkey % 5 = 3 THEN '2001:db8:' ||
        |      lower(hex(c_custkey % 25)) || '::' || lower(hex(c_custkey))
        |    ELSE '10.' || (c_custkey % 25) || '.' ||
        |      (c_custkey % 256) || '.7' END AS ip,
        |  CASE WHEN c_custkey % 10 = 4 THEN NULL
        |    WHEN c_custkey % 5 = 3 THEN 'R6-' || (c_custkey % 25)
        |    ELSE 'R' || (c_custkey % 25) END AS range_tag
        |FROM customer WHERE c_custkey < 300 ORDER BY ck""".stripMargin,
    "q73_bucketed_range_join_wide" ->
      """SELECT c_custkey AS ck,
        |  CASE WHEN c_custkey % 10 = 4
        |      THEN '10.9.' || (c_custkey % 200) || '.1'
        |    ELSE (c_custkey % 25 + 100) || '.' || (c_custkey % 256) ||
        |      '.3.' || (c_custkey % 100) END AS ip,
        |  CASE WHEN c_custkey % 10 = 4 THEN NULL
        |    ELSE 'W' || (c_custkey % 25) END AS range_tag
        |FROM customer WHERE c_custkey < 300 ORDER BY ck""".stripMargin,
    "q171_shuffle_range_join" ->
      """SELECT b.lo, count(*) AS c FROM lineitem l JOIN
        |(SELECT 0 AS lo, 10 AS hi UNION ALL SELECT 10, 25
        | UNION ALL SELECT 25, 51) b
        |ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
        |GROUP BY b.lo ORDER BY b.lo""".stripMargin,
    // the oracle builds the expected post-MERGE state directly:
    // kept = untouched keys, upd = the seq-2 winner, ins = new keys
    "q175_cdc_apply" ->
      """WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |kept AS (SELECT k, st, cents FROM t
        |  WHERE k % 7 <> 0 AND k % 7 <> 1),
        |upd AS (SELECT k, st, cents + 200000 AS cents FROM t
        |  WHERE k % 7 = 1),
        |ins AS (SELECT k + 10000000 AS k, 'N' AS st, k * 100 AS cents
        |  FROM t WHERE k % 97 = 0),
        |f AS (SELECT * FROM kept UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT st, count(*) AS n, CAST(sum(cents) AS BIGINT)
        |    AS sum_cents, CAST(sum(k) AS BIGINT) AS sum_keys
        |FROM f GROUP BY st ORDER BY st""".stripMargin,
    // expected post-state across all three batches + compaction:
    // k%7=0 deleted (b1), k%7=1 → +300000 (b1 beats b0 by batch
    // order), k%7=2 → +50000 (b2), k%7=3 deleted (b2), inserts from
    // b2; everything else untouched
    "q180_merge_on_read" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |kept AS (SELECT k, st, cents FROM t
        |  WHERE k % 7 NOT IN (0, 1, 2, 3)),
        |u1 AS (SELECT k, st, cents + 300000 AS cents FROM t
        |  WHERE k % 7 = 1),
        |u2 AS (SELECT k, st, cents + 50000 AS cents FROM t
        |  WHERE k % 7 = 2),
        |ins AS (SELECT k + 10000000 AS k, 'N' AS st, k * 100 AS cents
        |  FROM t WHERE k % 97 = 0),
        |f AS (SELECT * FROM kept UNION ALL SELECT * FROM u1
        |  UNION ALL SELECT * FROM u2 UNION ALL SELECT * FROM ins)
        |SELECT st, count(*) AS n, CAST(sum(cents) AS BIGINT)
        |    AS sum_cents, CAST(sum(k) AS BIGINT) AS sum_keys
        |FROM f GROUP BY st ORDER BY st""".stripMargin,
    // live = base with the seq-2 deletes applied and the surviving
    // seq-1 updates folded; asof = the as-created base, untouched
    "q219_mor_sql" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |base AS (SELECT k, st, cents FROM t WHERE k % 4 <> 0),
        |live AS (SELECT k, st,
        |    CASE WHEN k % 7 = 0 THEN cents + 100000 ELSE cents END
        |      AS cents
        |  FROM base WHERE k % 5 <> 0),
        |u AS (SELECT 'live' AS src, * FROM live
        |  UNION ALL SELECT 'asof' AS src, * FROM base)
        |SELECT src, st, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(k) AS BIGINT) AS sum_keys
        |FROM u GROUP BY src, st ORDER BY src, st""".stripMargin,
    // the two builds must serve the same profile the direct SQL
    // computes, plus the zone-pruned range count (re-filtered above
    // the pruned scan, so a wrong prune changes the count)
    "q237_fused_profile" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |      ELSE CAST(o_orderkey % 100 AS BIGINT) END AS bucketv,
        |    o_orderstatus AS st
        |  FROM orders)
        |SELECT 'bucketv' AS col_name, 'num' AS kind,
        |  count(*) AS n_rows,
        |  count(*) FILTER (WHERE bucketv IS NULL) AS n_nulls,
        |  min(bucketv) AS min_num, max(bucketv) AS max_num,
        |  CAST(sum(bucketv) AS BIGINT) AS sum_num,
        |  CAST(NULL AS VARCHAR) AS min_str,
        |  CAST(NULL AS VARCHAR) AS max_str,
        |  CAST(NULL AS BIGINT) AS sum_len,
        |  CAST(NULL AS BIGINT) AS max_len
        |FROM t
        |UNION ALL SELECT 'cents', 'num', count(*),
        |  CAST(0 AS BIGINT), min(cents), max(cents),
        |  CAST(sum(cents) AS BIGINT), NULL, NULL, NULL, NULL FROM t
        |UNION ALL SELECT 'k', 'num', count(*),
        |  CAST(0 AS BIGINT), min(k), max(k),
        |  CAST(sum(k) AS BIGINT), NULL, NULL, NULL, NULL FROM t
        |UNION ALL SELECT 'st', 'str', count(*),
        |  CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  min(st), max(st),
        |  CAST(sum(length(st)) AS BIGINT),
        |  CAST(max(length(st)) AS BIGINT) FROM t
        |UNION ALL SELECT 'zone:cents_range', 'zone',
        |  count(*) FILTER (WHERE cents BETWEEN 1000000 AND 5000000),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  NULL, NULL, NULL, NULL FROM t
        |ORDER BY col_name""".stripMargin,
    // each column's profile computed directly over ALL of orders
    // (build subset ∪ appended quarter); num rows carry NULL string
    // extrema and vice versa, exactly as the artifact serves them
    "q222_colstats" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |      ELSE CAST(o_orderkey % 100 AS BIGINT) END AS bucketv,
        |    o_orderstatus AS st
        |  FROM orders)
        |SELECT 'bucketv' AS col_name, 'num' AS kind,
        |  count(*) AS n_rows,
        |  count(*) FILTER (WHERE bucketv IS NULL) AS n_nulls,
        |  min(bucketv) AS min_num, max(bucketv) AS max_num,
        |  CAST(sum(bucketv) AS BIGINT) AS sum_num,
        |  CAST(NULL AS VARCHAR) AS min_str,
        |  CAST(NULL AS VARCHAR) AS max_str,
        |  CAST(NULL AS BIGINT) AS sum_len,
        |  CAST(NULL AS BIGINT) AS max_len
        |FROM t
        |UNION ALL SELECT 'cents', 'num', count(*),
        |  CAST(0 AS BIGINT), min(cents), max(cents),
        |  CAST(sum(cents) AS BIGINT), NULL, NULL, NULL, NULL FROM t
        |UNION ALL SELECT 'k', 'num', count(*),
        |  CAST(0 AS BIGINT), min(k), max(k),
        |  CAST(sum(k) AS BIGINT), NULL, NULL, NULL, NULL FROM t
        |UNION ALL SELECT 'st', 'str', count(*),
        |  CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  min(st), max(st),
        |  CAST(sum(length(st)) AS BIGINT),
        |  CAST(max(length(st)) AS BIGINT) FROM t
        |ORDER BY col_name""".stripMargin,
    // replays every m=64 register per column: md5-60 of
    // 'hll:' || rendered value, bucket = low 6 bits, rho = 55 - the
    // msb-length of the remaining 54-bit word (the q86 arithmetic),
    // dense via a per-column spine
    "q223_colstats_regs" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st FROM orders),
        |vals AS (SELECT 'k' AS col_name, CAST(k AS VARCHAR) AS v
        |    FROM t
        |  UNION ALL SELECT 'st', st FROM t),
        |h AS (SELECT col_name,
        |    CAST('0x' || substr(md5('hll:' || v), 1, 15) AS BIGINT)
        |      AS h
        |  FROM vals WHERE v IS NOT NULL),
        |r AS (SELECT col_name, h & 63 AS bucket,
        |  CASE WHEN (h >> 6) = 0 THEN 55
        |    ELSE 55 - CAST(length(bin(h >> 6)) AS INT) END AS rho
        |  FROM h),
        |regs AS (SELECT col_name, bucket, max(rho) AS register
        |  FROM r GROUP BY col_name, bucket),
        |spine AS (SELECT c.col_name, CAST(b.b AS BIGINT) AS bucket
        |  FROM (SELECT 'k' AS col_name UNION ALL SELECT 'st') c,
        |    (SELECT unnest(range(64)) AS b) b)
        |SELECT s.col_name, s.bucket,
        |  CAST(coalesce(register, 0) AS INT) AS register
        |FROM spine s LEFT JOIN regs
        |  ON s.col_name = regs.col_name AND s.bucket = regs.bucket
        |ORDER BY s.col_name, s.bucket""".stripMargin,
    // the bloom-pruned two-key lookup must equal the direct lookup
    "q228_zonemap_bloom" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT k, st, cents FROM t
        |WHERE k = (SELECT min(k) FROM t)
        |   OR k = (SELECT max(k) FROM t)
        |ORDER BY k""".stripMargin,
    // replays the CDC fold (deletes win by seq over same-batch
    // inserts) and the range aggregate the zone-map read must equal
    "q227_mor_zonemap" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT k, st,
        |    CASE WHEN k % 10 = 1 THEN cents + 77 ELSE cents END
        |      AS cents
        |  FROM t WHERE k % 13 <> 0)
        |SELECT st, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM f WHERE cents BETWEEN 5000000 AND 15000000
        |GROUP BY st ORDER BY st""".stripMargin,
    // replays the signed-log2 bucket arithmetic over ALL of orders:
    // an append that double-counted a bucket, or a sign mishandled
    // in the mirror, lands in the hash
    "q226_colstats_hist" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) - 15000000
        |      AS bal
        |  FROM orders),
        |v AS (SELECT 'k' AS col_name, k AS v FROM t
        |  UNION ALL SELECT 'bal', bal FROM t)
        |SELECT col_name,
        |  CASE WHEN v = 0 THEN 0
        |    WHEN v > 0 THEN CAST(length(bin(v)) AS INT)
        |    ELSE -CAST(length(bin(-v)) AS INT) END AS bucket,
        |  count(*) AS cnt
        |FROM v WHERE v IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the zone-map scan is a pure prune: its result must equal the
    // unpruned range aggregate over all of orders
    "q224_zonemap_scan" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS ck,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT st, count(*) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(ck) AS min_ck, max(ck) AS max_ck
        |FROM t WHERE k BETWEEN 100 AND 2000
        |GROUP BY st ORDER BY st""".stripMargin,
    // build ∪ refreshed delta must cover exactly ALL of orders once
    "q225_zonemap_sql" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT st, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM t WHERE k <= 1500
        |GROUP BY st ORDER BY st""".stripMargin,
    // the feed's rows per window: batch A = the k%7 updates, batch
    // B = the k%5 deletes + the k%97 inserts; win_all = A ∪ B,
    // win_tail = B only
    "q220_mor_changes" ->
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |a AS (SELECT 'U' AS op, k, cents + 100000 AS cents FROM t
        |  WHERE k % 4 <> 0 AND k % 7 = 0),
        |b AS (SELECT 'D' AS op, k, cents FROM t
        |    WHERE k % 4 <> 0 AND k % 5 = 0
        |  UNION ALL
        |  SELECT 'I' AS op, k + 20000000 AS k, k * 100 AS cents
        |    FROM t WHERE k % 97 = 0),
        |u AS (SELECT 'win_all' AS src, * FROM a
        |  UNION ALL SELECT 'win_all' AS src, * FROM b
        |  UNION ALL SELECT 'win_tail' AS src, * FROM b)
        |SELECT src, op, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(k) AS BIGINT) AS sum_keys
        |FROM u GROUP BY src, op ORDER BY src, op""".stripMargin,
    // both engines build the same decomposed string and run their
    // OWN normalizer — the Unicode tables are what the hash compares
    "q174_unicode_norm" ->
      """WITH s AS (SELECT c_custkey AS id,
        |    'cafe' || chr(769 + CAST(c_custkey % 3 AS INTEGER)) ||
        |    ' nai' || chr(769 + CAST(c_custkey % 3 AS INTEGER)) ||
        |    've k' || CAST(c_custkey AS VARCHAR) AS raw
        |  FROM customer WHERE c_custkey < 400)
        |SELECT id, nfc_normalize(raw) AS nfc_s,
        |  strip_accents(nfc_normalize(raw)) AS folded,
        |  CAST(length(raw) AS BIGINT) AS n_raw,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_nfc
        |FROM s ORDER BY id""".stripMargin,
    // the oracle is the naive cross product: losslessness of the
    // q-gram candidate filter is exactly what the hash compares
    "q173_fuzzy_join" ->
      """WITH s AS (SELECT c_custkey AS sid,
        |    c_name || repeat('x', CAST(c_custkey % 3 AS INTEGER)) AS sv
        |  FROM customer WHERE c_custkey < 250)
        |SELECT a.sid AS sid_a, b.sid AS sid_b,
        |  CAST(levenshtein(a.sv, b.sv) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.sid < b.sid
        |WHERE levenshtein(a.sv, b.sv) <= 2
        |ORDER BY sid_a, sid_b""".stripMargin,
    "q26_asof_snapshot" ->
      """SELECT e.event_id, coalesce(
        |  (SELECT max(o.o_orderdate) FROM orders o
        |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts),
        |  (SELECT min(o.o_orderdate) FROM orders o
        |   WHERE o.o_custkey = e.user_id)) AS snap
        |FROM events e
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = e.user_id)
        |ORDER BY e.event_id LIMIT 100""".stripMargin
  )
}
