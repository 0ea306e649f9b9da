package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Text analysis for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, and winnowing-style
  * document fingerprints. Everything here is built from codegen'd
  * Spark SQL functions (no UDFs) so it runs inside whole-stage
  * codegen over a 100 TB `documents` scan.
  */
object TextAnalysis {

  /** Whitespace-collapsed lowercase normalization — THE content
    * normalization shared by dedup digests, gram builders, and
    * fingerprints (every DuckDB oracle mirrors it as
    * `lower(regexp_replace(text, '\s+', ' ', 'g'))`).
    */
  def normText(text: Column): Column =
    lower(regexp_replace(text, "\\s+", " "))

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column =
    graft.functions.TokenFunctions.token_stats(text).getField("n_tokens")

  /** BPE merge training (Sennrich et al. 2016): learn the first
    * `nMerges` byte-pair merges of the corpus — returned as
    * (left, right, pairCount) in merge order — tokenizer-vocabulary
    * construction as a distributed op.
    *
    * Plan shape at 100 TB: the working set is the WORD-FREQUENCY
    * table (one corpus tokenize + hash aggregate — map-side combined;
    * vocabulary-scale thereafter, the classic BPE trick), symbols
    * start as character lists, and each round is (a) adjacent-pair
    * explode + weighted count + a TakeOrdered-1 argmax — never a
    * global sort — and (b) one higher-order-function fold applying
    * the merge leftmost-non-overlapping per word. Only the 1-row
    * argmax is collected per round (this builder is EAGER: it runs
    * nMerges bounded vocabulary-scale jobs). Merge strings ride
    * `lit()` columns, never spliced into SQL text, so words with
    * quotes/backslashes can't break the plan.
    *
    * Ties break (count desc, left asc, right asc) — deterministic
    * cross-engine.
    */
  def bpeMerges(corpus: DataFrame, textCol: String,
      nMerges: Int): Seq[(String, String, Long)] = {
    require(nMerges >= 1, s"invalid merge count: $nMerges")
    var syms = corpus
      .select(explode(tokens(lower(col(textCol)))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cnt"))
      .select(col("__cnt"), expr(
        "transform(sequence(1, length(__w)), i -> substring(__w, i, 1))")
        .as("__s"))
      .localCheckpoint(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 0 until nMerges) {
      // sequence(1, 0) DESCENDS — single-symbol words must yield no
      // pairs, not a reversed index range
      val top = syms.select(col("__cnt"), explode(expr(
          """transform(
            |  CASE WHEN size(__s) >= 2 THEN sequence(1, size(__s) - 1)
            |       ELSE CAST(array() AS array<int>) END,
            |  j -> struct(element_at(__s, j) AS l,
            |    element_at(__s, j + 1) AS r))""".stripMargin)).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum("__cnt").as("c"))
        .orderBy(desc("c"), col("l"), col("r")).limit(1)
        .collect()
      if (top.isEmpty) return out.toSeq // no adjacent pairs remain
      val (l, r, c) =
        (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      out += ((l, r, c))
      // re-materialize per round: the next round's pair count and
      // fold both reuse this, and lineage would otherwise re-run
      // every earlier fold per job
      syms = syms.withColumn("__s", applyMerge(col("__s"), l, r))
        .localCheckpoint(false)
    }
    out.toSeq
  }

  /** Leftmost-non-overlapping application of ONE learned merge (l, r)
    * → l+r to a symbol array, as a pure column fold: accumulator
    * starts as the first symbol, each next symbol either fuses with
    * the accumulator's tail (tail == l ∧ next == r) or appends.
    * "Leftmost" because the fold scans left→right and a fused symbol
    * (l+r ≠ l) can't re-fuse with the following r — the standard BPE
    * application rule, shared verbatim by training ([[bpeMerges]])
    * and encoding ([[bpeEncodeStats]]). Merge strings ride `lit()`
    * columns, never spliced into SQL text.
    */
  private def applyMerge(s: Column, l: String, r: String): Column = {
    val (lC, rC, mC) = (lit(l), lit(r), lit(l + r))
    val folded = aggregate(
      slice(s, lit(2), size(s) - 1),
      slice(s, lit(1), lit(1)),
      (acc, x) =>
        when(element_at(acc, -1) === lC && x === rC,
          concat(slice(acc, lit(1), size(acc) - 1), array(mC)))
        .otherwise(concat(acc, array(x))))
    when(size(s) <= 1, s).otherwise(folded)
  }

  /** BPE ENCODING with an already-learned merge table — the apply
    * half of the tokenizer loop ([[bpeMerges]] trains; this counts
    * what the trained vocab does to real documents, the number that
    * feeds sequence packing and per-doc token budgets). Per doc:
    * n_words, n_chars (sum of word lengths), n_tokens (symbols after
    * applying every merge in order, leftmost-non-overlapping per
    * word).
    *
    * One codegen'd projection per row, no explode, no shuffle, no
    * state — and ONE plan node regardless of the merge budget: the
    * ranked merge table rides [[graft.functions.BpeTokenCount]] as a
    * runtime reference object, so a real tokenizer's 32k–50k merges
    * plan exactly like a toy table (the composed per-merge expression
    * fold, kept below as [[bpeEncodeStatsComposed]] for the parity
    * lock, blows codegen limits past a few hundred merges).
    */
  def bpeEncodeStats(text: Column,
      merges: Seq[(String, String)]): Column = {
    val words = tokens(lower(text))
    struct(
      size(words).cast("long").as("n_words"),
      aggregate(words, lit(0L), (a, w) => a + length(w)).as("n_chars"),
      graft.functions.BpeFunctions.bpe_token_count(words, merges)
        .as("n_tokens"))
  }

  /** The composed Column-algebra encoder — one [[applyMerge]] fold
    * layer per merge inside a `transform`. Kept as the bit-parity
    * reference for [[bpeEncodeStats]]'s runtime codec (the
    * [[graft.functions.TokenOps]] composed-reference discipline);
    * only plannable at small merge budgets.
    */
  private[graft] def bpeEncodeStatsComposed(text: Column,
      merges: Seq[(String, String)]): Column = {
    val words = tokens(lower(text))
    val encLen = transform(words, w => {
      val chars = transform(sequence(lit(1), length(w)),
        i => w.substr(i, lit(1)))
      size(merges.foldLeft(chars) { case (acc, (l, r)) =>
        applyMerge(acc, l, r) })
    })
    struct(
      size(words).cast("long").as("n_words"),
      aggregate(words, lit(0L), (a, w) => a + length(w)).as("n_chars"),
      aggregate(encLen, lit(0L), (a, n) => a + n).as("n_tokens"))
  }

  /** Trigram stupid-backoff LM scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation") — the classic
    * perplexity-style quality filter: score each document by the mean
    * ln S of its trigrams under counts from `train`, where
    *
    *   S(w3|w1,w2) = tri(w1w2w3)/bi(w1w2)   trigram seen in train
    *               = α · bi(w2w3)/uni(w2)   else, suffix bigram seen
    *               = α² · uni(w3)/N         else, w3 in-vocab
    *               = α² · 1/N               else (OOV floor)
    *
    * (no normalization — stupid backoff's defining shortcut, which is
    * what makes the counts trivially distributable).
    *
    * Plan shape at 100 TB: the three count tables are plain n-gram
    * hash aggregates over the train scan (map-side combined); scoring
    * explodes each scored doc once and LEFT-joins the count tables on
    * n-gram string keys — shuffle equi-joins that AQE broadcasts when
    * the LM side is small. The token-count scalar N rides a 1-row
    * broadcast. Nothing is ever quadratic and no window touches the
    * exploded stream.
    *
    * Output: idCol, `n_tri` (trigram count), `score` (round-4 mean
    * ln S; NULL when the doc has fewer than 3 tokens).
    */
  def stupidBackoff(train: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, alpha: Double = 0.4): DataFrame =
    stupidBackoffFrom(lmCounts(train, textCol), docs, idCol, textCol,
      alpha)

  /** The LM state of [[stupidBackoff]], factored out so it can be
    * persisted and incrementally merged ([[LmIndex]]): three n-gram
    * count tables. Counts are PURE SUMS, so shards/batches compose by
    * `groupBy(gram).sum` — the property the persisted artifact's
    * O(delta) appends and count-negating deletes ride on.
    */
  final case class LmCounts(uni: DataFrame, bi: DataFrame,
      tri: DataFrame)

  // guarded index sequences: sequence(0, n) DESCENDS for n < 0, so
  // short docs must yield an empty gram list, not a reversed one
  private[operators] def lmGrams(n: Int, body: String) =
    s"""transform(
       |  CASE WHEN size(__a) >= $n THEN sequence(0, size(__a) - $n)
       |       ELSE CAST(array() AS array<int>) END, i -> $body)"""
      .stripMargin

  private def lmToks(df: DataFrame, textCol: String, keep: Seq[Column]) =
    df.select(keep :+ tokens(lower(col(textCol))).as("__a"): _*)

  /** The three count hash-aggregates over the train scan (map-side
    * combined): uni(__w, __cu), bi(__b, __cb), tri(__t3, __ct).
    */
  def lmCounts(train: DataFrame, textCol: String): LmCounts = {
    val (u, b, t) = lmGramStreams(train, textCol)
    LmCounts(
      u.groupBy("__w").agg(count(lit(1)).as("__cu")),
      b.groupBy("__b").agg(count(lit(1)).as("__cb")),
      t.groupBy("__t3").agg(count(lit(1)).as("__ct")))
  }

  /** The raw uni/bi/tri gram STREAMS of `df` (one string-key column
    * each: __w / __b / __t3) — [[lmCounts]]' pre-aggregation form,
    * exposed so a pruning reader ([[LmIndex.score]]) can compute
    * which gram-hash buckets a scored batch touches with exactly the
    * key construction the count writer used.
    */
  def lmGramStreams(df: DataFrame, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val toks = lmToks(df, textCol, Nil)
    (toks.select(explode(col("__a")).as("__w")),
      toks.select(explode(expr(
        lmGrams(2, "concat(__a[i], ' ', __a[i+1])"))).as("__b")),
      toks.select(explode(expr(
        lmGrams(3, "concat(__a[i], ' ', __a[i+1], ' ', __a[i+2])")))
        .as("__t3")))
  }

  /** [[stupidBackoff]] scoring against pre-built (possibly loaded —
    * [[LmIndex.score]]) count tables. The token-count scalar N is
    * `sum(uni counts)` — a 1-row agg over the unigram table, not a
    * second train scan — unless the caller already KNOWS it
    * (`totalTokens`: the persisted artifact carries it as a manifest
    * sum), in which case it rides as a literal and the plan has no
    * unigram-total aggregate or 1-row cross at all.
    */
  def stupidBackoffFrom(counts: LmCounts, docs: DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.4,
      totalTokens: Option[Long] = None): DataFrame = {
    def toks(df: DataFrame, keep: Seq[Column]) =
      lmToks(df, textCol, keep)
    def grams(n: Int, body: String) = lmGrams(n, body)
    val uni = counts.uni
    val bi = counts.bi
    val tri = counts.tri
    val nTot = uni.agg(sum(col("__cu")).cast("double").as("__N"))
    val docTris = toks(docs, Seq(col(idCol)))
      .select(col(idCol), explode(expr(grams(3,
        "struct(__a[i] AS w1, __a[i+1] AS w2, __a[i+2] AS w3)"))).as("__t"))
      .select(col(idCol), col("__t.w1").as("__w1"),
        col("__t.w2").as("__w2"), col("__t.w3").as("__w3"))
      .withColumn("__bp", concat(col("__w1"), lit(" "), col("__w2")))
      .withColumn("__bs", concat(col("__w2"), lit(" "), col("__w3")))
      .withColumn("__t3",
        concat(col("__w1"), lit(" "), col("__w2"), lit(" "), col("__w3")))
    val scored0 = docTris
      .join(tri, Seq("__t3"), "left")
      .join(bi.withColumnRenamed("__b", "__bp")
        .withColumnRenamed("__cb", "__cbp"), Seq("__bp"), "left")
      .join(bi.withColumnRenamed("__b", "__bs")
        .withColumnRenamed("__cb", "__cbs"), Seq("__bs"), "left")
      .join(uni.withColumnRenamed("__w", "__w2")
        .withColumnRenamed("__cu", "__cu2"), Seq("__w2"), "left")
      .join(uni.withColumnRenamed("__w", "__w3")
        .withColumnRenamed("__cu", "__cu3"), Seq("__w3"), "left")
    val withN = totalTokens match {
      case Some(n) => scored0.withColumn("__N", lit(n.toDouble))
      case None => scored0.crossJoin(broadcast(nTot))
    }
    val scored = withN
      // a seen trigram implies its prefix bigram is seen, so the
      // first branch never divides by NULL
      .withColumn("__p",
        when(col("__ct").isNotNull,
          col("__ct").cast("double") / col("__cbp"))
        .when(col("__cbs").isNotNull,
          lit(alpha) * col("__cbs").cast("double") / col("__cu2"))
        .when(col("__cu3").isNotNull,
          lit(alpha) * lit(alpha) * col("__cu3").cast("double") / col("__N"))
        .otherwise(lit(alpha) * lit(alpha) / col("__N")))
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tri"), round(avg(log(col("__p"))), 4)
        .as("score"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        col("score"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split
    * each group's scored docs into head / middle / tail thirds by LM
    * score — the standard "keep the head, maybe the middle, drop the
    * tail" quality-mixture gate — WITHOUT a global per-group sort.
    *
    * Cutoffs come from a bounded histogram, not a rank window over
    * docs: scores land in 0.1-wide ln-bins (`floor(score·10)` — exact
    * integers, since [[stupidBackoff]] scores are 4dp), the per-group
    * bin table is aggregated map-side (≤ a few hundred rows per group
    * whatever the corpus size), and the two cumulative-count cutoffs
    * (`ceil(n/3)`, `ceil(2n/3)`) are computed by a window over THAT
    * bin table only — the [[LogHist]] sketch rationale. Whole bins
    * are assigned to buckets (a bin straddling a cutoff goes to the
    * better bucket), so assignment is a broadcast equi-join back on
    * (group, bin): one corpus scan, one bounded window, no doc-level
    * sort anywhere.
    *
    * Input must carry `grpCol` and a non-null `scoreCol`; output is
    * the input plus a `bucket` column ('head' | 'middle' | 'tail').
    */
  def perplexityBuckets(scored: DataFrame, grpCol: String,
      scoreCol: String): DataFrame = {
    // materialized once: both the threshold derivation and the final
    // assignment read the scored stream, and scoring is typically the
    // expensive upstream (an LM join pipeline) — without this the
    // whole scoring subtree executes twice (verified in the q99
    // post-AQE plan)
    val chk = scored.localCheckpoint(false)
    bucketByThresholds(chk, histThresholds(binned(chk, scoreCol), grpCol),
      grpCol, scoreCol)
  }

  /** The calibration half of [[perplexityBuckets]], exposed for
    * streaming gates: derive each group's two bucket thresholds
    * (`head_min_bin`, `middle_min_bin` — nullable when a bucket is
    * empty) from a scored calibration corpus. Bucket bins are
    * contiguous top-down by construction (the cumulative count is
    * monotone over descending bins), so the bins-per-group cutoff
    * table collapses losslessly to one row per group — the static
    * side input a long-running gate broadcasts per micro-batch.
    */
  def perplexityThresholds(scored: DataFrame, grpCol: String,
      scoreCol: String): DataFrame =
    histThresholds(binned(scored, scoreCol), grpCol)

  /** Assign head/middle/tail by comparing each doc's score bin to its
    * group's [[perplexityThresholds]] row (broadcast LEFT join):
    * unlike a bin equi-join, a doc whose bin never occurred in the
    * calibration corpus still gates correctly (better than every
    * calibration bin → head, worse → tail). Docs in groups absent
    * from the thresholds get a NULL bucket — uncalibrated, the
    * caller's policy decision.
    */
  def bucketByThresholds(scored: DataFrame, thresholds: DataFrame,
      grpCol: String, scoreCol: String): DataFrame =
    binned(scored, scoreCol)
      .join(broadcast(thresholds), Seq(grpCol), "left")
      .withColumn("bucket",
        when(col("__bin") >= col("head_min_bin"), lit("head"))
        .when(col("middle_min_bin").isNotNull &&
          col("__bin") >= col("middle_min_bin"), lit("middle"))
        .when(col("head_min_bin").isNotNull, lit("tail")))
      .drop("__bin", "head_min_bin", "middle_min_bin")

  /** 0.1-wide ln-bins — exact integers since scores are 4dp. */
  private def binned(scored: DataFrame, scoreCol: String): DataFrame =
    scored.withColumn("__bin", floor(col(scoreCol) * 10).cast("long"))

  private def histThresholds(binnedDf: DataFrame,
      grpCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = binnedDf.groupBy(col(grpCol), col("__bin"))
      .agg(count(lit(1)).as("__c"))
    val desc1 = Window.partitionBy(grpCol).orderBy(desc("__bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy(grpCol)
    hist
      .withColumn("__prev", coalesce(sum("__c").over(desc1), lit(0L)))
      .withColumn("__n", sum("__c").over(whole))
      // integer ceils via exact double floor (counts ≪ 2^52)
      .withColumn("__t1", floor((col("__n") + 2).cast("double") / 3))
      .withColumn("__t2", floor((col("__n") * 2 + 2).cast("double") / 3))
      .withColumn("__bucket",
        when(col("__prev") < col("__t1"), lit("head"))
        .when(col("__prev") < col("__t2"), lit("middle"))
        .otherwise(lit("tail")))
      .groupBy(col(grpCol))
      .agg(
        min(when(col("__bucket") === "head", col("__bin")))
          .as("head_min_bin"),
        min(when(col("__bucket") === "middle", col("__bin")))
          .as("middle_min_bin"))
  }

  /** Composed reference for [[tokenCount]] (parity spec). */
  private[operators] def tokenCountComposed(text: Column): Column =
    size(tokens(text))

  /** Ratio of tokens found in `words`, 0.0 for empty docs. */
  def wordHitRatio(text: Column, words: Seq[String]): Column = {
    val st = graft.functions.TokenFunctions.token_stats(lower(text), words)
    val n = st.getField("n_tokens")
    when(n > 0, st.getField("hits").cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Composed reference for [[wordHitRatio]] (parity spec). */
  private[operators] def wordHitRatioComposed(text: Column,
      words: Seq[String]): Column = {
    val toks = tokens(lower(text))
    val hits = size(filter(toks, t => t.isin(words.map(lit(_)): _*)))
    when(size(toks) > 0, hits.cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  val EnStopwords: Seq[String] = Seq("the", "a", "an", "of", "and", "to",
    "in", "is", "it", "that", "for", "on", "with", "as", "this")

  def stopwordRatio(text: Column): Column = wordHitRatio(text, EnStopwords)

  /** Punctuation characters per character, 0.0 for empty docs. */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    val stripped = length(regexp_replace(text, "[\\p{Punct}]", ""))
    when(n > 0, (n - stripped).cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean whitespace-token length, 0.0 for empty docs. */
  def meanTokenLen(text: Column): Column = {
    val st = graft.functions.TokenFunctions.token_stats(text)
    val n = st.getField("n_tokens")
    when(n > 0, st.getField("sum_chars").cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Composed reference for [[meanTokenLen]] (parity spec). */
  private[operators] def meanTokenLenComposed(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Composite quality score in [0, 1]: rewards reasonable length
    * and word shape, penalizes punctuation soup. Deterministic and
    * SQL-expressible (oracle-checkable).
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(100.0), lit(1.0))
    val punctPenalty = lit(1.0) - least(punctRatio(text) * 4, lit(1.0))
    val shapeScore = when(
      meanTokenLen(text).between(3.0, 10.0), 1.0).otherwise(0.5)
    round((lenScore * 0.4 + punctPenalty * 0.3 + shapeScore * 0.3), 4)
  }

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Real pipelines swap in fastText-style
    * models; the *operator shape* (score per language → argmax) is
    * what the engine provides.
    */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for",
      "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu",
      "mit", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour", "que", "dans",
      "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "por", "que", "con",
      "para"))

  /** Language ID from a pre-tokenized lowercase token array: argmax
    * of per-language stopword hit ratios; "und" (undetermined) when
    * nothing scores. Compiles to the single-pass codegen expression
    * [[graft.functions.LangIdTokens]] — one hash lookup per token
    * scoring ALL profiles at once, rather than one array rescan per
    * language. Bit-identical to [[langIdFromTokensComposed]]
    * (property-locked in TextExpressionsSpec).
    */
  def langIdFromTokens(toks: Column): Column =
    graft.functions.TextFunctions.lang_id_tokens(toks)

  /** The Column-algebra reference formulation the expression must
    * match (kept for the parity spec): one `filter` pass per
    * language, `array_max` over (score, lang) structs.
    */
  def langIdFromTokensComposed(toks: Column): Column = {
    val n = size(toks)
    val scored = array(LangProfiles.toSeq.sortBy(_._1).map {
      case (lang, words) =>
        val hits = size(filter(toks, t => t.isin(words.map(lit(_)): _*)))
        struct(
          when(n > 0, hits.cast("double") / n.cast("double"))
            .otherwise(lit(0.0)).as("score"),
          lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    when(best.getField("score") > 0, best.getField("lang")).otherwise("und")
  }

  /** Language ID straight from text. NOTE: inlines the tokenizer into
    * every per-language score, so Catalyst may evaluate the regex
    * split several times per row. For hot paths, materialize
    * `tokens(lower(text))` in a projection and call
    * [[langIdFromTokens]] — a Project boundary is not collapsed into
    * the consuming Aggregate, so the split runs once per row.
    */
  def langId(text: Column): Column = langIdFromTokens(tokens(lower(text)))

  /** Occurrences of the most frequent (lowercased) word over total
    * words, 0.0 for empty docs — the boilerplate/repetition signal
    * used by quality-filter stacks. Pure array algebra per row (no
    * shuffle): O(distinct × tokens) per doc, the right trade for
    * typical document lengths; corpora with pathological single docs
    * should explode + groupBy instead.
    */
  def topWordFraction(text: Column): Column =
    topWordFractionFromTokens(tokens(lower(text)))

  /** [[topWordFraction]] over a pre-tokenized lowercase array — use
    * with a materialized token column when computing several signals
    * per row (the [[langIdFromTokens]] pattern).
    */
  def topWordFractionFromTokens(toks: Column): Column =
    graft.functions.TokenFunctions.top_token_fraction(toks)

  /** Composed reference for [[topWordFractionFromTokens]] — the
    * O(distinct × tokens) per-row shape the expression replaces
    * (parity spec).
    */
  private[operators] def topWordFractionFromTokensComposed(
      toks: Column): Column = {
    val counts = transform(array_distinct(toks),
      w => size(filter(toks, t => t === w)))
    when(size(toks) > 0,
      array_max(counts).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Fraction of word n-grams that repeat an earlier n-gram in the
    * same doc (1 − distinct/total), 0.0 when the doc has no complete
    * n-gram. Gopher-style duplicate-n-gram repetition filter.
    */
  def dupNgramFraction(text: Column, n: Int): Column =
    dupNgramFractionFromTokens(tokens(lower(text)), n)

  /** [[dupNgramFraction]] over a pre-tokenized lowercase array. */
  def dupNgramFractionFromTokens(toks: Column, n: Int): Column =
    graft.functions.TokenFunctions.dup_ngram_fraction(toks, n)

  /** Composed reference for [[dupNgramFractionFromTokens]] (parity
    * spec).
    */
  private[operators] def dupNgramFractionFromTokensComposed(
      toks: Column, n: Int): Column = {
    val m = size(toks) - (n - 1)
    // greatest(…, 1) keeps the sequence ascending when m ≤ 0 (Spark
    // sequence(1, 0) would count DOWN); the `when` guard discards
    // that placeholder gram
    val grams = transform(sequence(lit(1), greatest(m, lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    when(m > 0,
      (size(grams) - size(array_distinct(grams))).cast("double") /
        size(grams).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Shannon entropy (bits/token) of the within-doc token
    * distribution — templated/repetitive docs score low, diverse
    * text high; the statistical quality signal next to the
    * ratio-based ones. Same per-row array-algebra shape as
    * [[topWordFraction]]. Distinct tokens are SORTED before the
    * fold and log2 is spelled ln(x)/ln(2), so an external oracle
    * summing the same terms in the same order reproduces the double
    * bit-for-bit (float addition is order-sensitive).
    */
  def tokenEntropy(text: Column): Column =
    graft.functions.TokenFunctions.token_entropy(tokens(lower(text)))

  /** Composed reference for [[tokenEntropy]] (parity spec). */
  private[operators] def tokenEntropyComposed(text: Column): Column = {
    val toks = tokens(lower(text))
    val n = size(toks).cast("double")
    val terms = transform(array_sort(array_distinct(toks)), w => {
      val p = size(filter(toks, t => t === w)).cast("double") / n
      p * (log(p) / log(lit(2.0)))
    })
    when(size(toks) > 0,
      lit(0.0) - aggregate(terms, lit(0.0), (acc, t) => acc + t))
      .otherwise(lit(0.0))
  }

  /** PII patterns applied in order by [[redactPii]]/[[piiStats]]:
    * (name, pattern, replacement). SSN runs before the generic phone
    * pattern (which would otherwise consume digit-dash runs), and
    * every pattern stays inside the RE2-compatible subset (no
    * lookaround, no backreferences) so an external RE2-based engine
    * evaluates the same regexes identically — and the hot path stays
    * inside codegen'd `RegExpReplace`.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "[SSN]"),
    ("ipv4", "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "[IP]"),
    ("phone", "\\+?[0-9][0-9 ()-]{7,}[0-9]", "[PHONE]"))

  /** Redact PII in-place: each pattern class is replaced by its
    * bracketed tag, applied in [[PiiPatterns]] order so earlier
    * (more specific) classes win overlapping text.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Per-class PII match counts as a struct (n_email, n_ssn, n_ipv4,
    * n_phone). Counts follow the same progressive-redaction order as
    * [[redactPii]], so a span only ever counts toward the first class
    * that matches it.
    */
  def piiStats(text: Column): Column = {
    val (_, counts) = PiiPatterns.foldLeft((text, Seq.empty[Column])) {
      case ((c, acc), (name, pat, repl)) =>
        val n = size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
        (regexp_replace(c, pat, repl), acc :+ n.as("n_" + name))
    }
    struct(counts: _*)
  }

  /** Split documents into fixed-token-count chunks with overlap —
    * the context-window preprocessing step (RAG indexing,
    * pretraining example packing). Pure array algebra over the
    * token array: chunk i covers tokens [i·stride, i·stride+size).
    * Output: one row per chunk with (id, chunk_idx, chunk_text,
    * n_chunk_tokens). Empty docs produce no rows.
    */
  def chunkByTokens(df: DataFrame, textCol: String, idCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"invalid chunking: size=$chunkSize stride=$stride")
    val toks = tokens(col(textCol))
    val n = size(toks)
    // chunks per doc: ceil(max(n - size, 0) / stride) + 1 for any
    // non-empty doc — the last chunk may be short
    val nChunks = when(n <= 0, lit(0)).otherwise(
      ceil((greatest(n - chunkSize, lit(0))).cast("double") / stride)
        .cast("int") + 1)
    df.select(col(idCol), toks.as("__toks"), nChunks.as("__nc"))
      .filter(col("__nc") > 0) // BEFORE explode: sequence(0,-1) descends
      .withColumn("chunk_idx", explode(sequence(lit(0), col("__nc") - 1)))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("__toks"),
          col("chunk_idx").cast("int") * stride + 1, lit(chunkSize)), " ")
          .as("chunk_text"),
        least(lit(chunkSize),
          size(col("__toks")) - col("chunk_idx").cast("int") * stride)
          .cast("long").as("n_chunk_tokens"))
  }

  /** Per-doc unigram language-model score: the corpus-frequency
    * log-probability of each token, summed per doc — the classic
    * cheap "LM quality" signal (docs full of rare/garbage tokens
    * score low). Two aggregations: corpus term frequencies (one
    * shuffle, map-side combined), then a join back and a per-doc
    * sum. Log-probs are quantized to integer MICRO-log-probs
    * (round(ln p × 1e6)) before summing — integer sums are exact and
    * order-free, where summing raw doubles would make the result
    * depend on partitioning.
    *
    * The vocab side of the re-join is BROADCAST by default: the term
    * table is vocabulary-sized (millions of rows, not corpus-sized)
    * while the probe side is the full exploded token stream — and the
    * token VALUE is a Zipf-skewed key ("the" alone would be one hot
    * shuffle partition at corpus scale), so shuffling the stream on
    * it is the one plan shape this operator must never pick. The
    * token stream is scanned twice (once to build the vocab, once to
    * probe) — at 100 TB re-reading a columnar scan is far cheaper
    * than shuffling its explosion. Set `broadcastVocab = false` only
    * when the vocabulary itself outgrows executor memory; the
    * fallback shuffle join leans on AQE skew splitting.
    *
    * Output: (id, n_toks, micro_logprob_sum).
    */
  def unigramLogProbScore(df: DataFrame, textCol: String,
      idCol: String, broadcastVocab: Boolean = true): DataFrame = {
    val toks = df.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
    val total = vocab.agg(sum("tf").as("n_total"))
    toks.join(if (broadcastVocab) broadcast(vocab) else vocab, "tok")
      .crossJoin(broadcast(total))
      .withColumn("__mlp",
        round(log(col("tf").cast("double") / col("n_total").cast("double"))
          * 1e6).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"), sum("__mlp").as("micro_logprob_sum"))
  }

  /** Word → document frequency (number of distinct docs containing
    * the word). Per-doc `array_distinct` BEFORE the explode means a
    * doc contributes each word once, so a plain count IS the
    * distinct-doc count — one shuffle with map-side partial
    * aggregation, no `countDistinct` (which would need doc_id on
    * every exploded row and a two-phase distinct at 100 TB).
    */
  def docFrequency(df: DataFrame, textCol: String): DataFrame =
    df.select(
        explode(array_distinct(tokens(lower(col(textCol))))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("df"))

  /** BM25 relevance of every document against a small fixed term set
    * (Robertson/Sparck-Jones with the Lucene `+1` IDF, so IDF stays
    * positive even for terms in most docs) — the retrieval-side
    * quality scorer of a curation pipeline ("rank the corpus against
    * a probe query", "mine docs matching a topic").
    *
    * Scale shape: the token array materializes ONCE per doc; query
    * terms are filtered out of it BEFORE the explode, so the per-term
    * shuffle carries only |docs| × |terms-hit| rows, never the full
    * token stream. Corpus stats (N, avgdl) are a 1-row cross-joined
    * broadcast; per-term document frequencies are a ≤|terms|-row
    * broadcast. Two scans of the text column total (token stream +
    * corpus stats), both pruned to (id, text).
    *
    * Output: (idCol, bm25 DOUBLE rounded to 4dp) for docs containing
    * at least one query term.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val base = df
      .select(col(idCol), tokens(lower(col(textCol))).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("__dl"),
        filter(col("__toks"), t => t.isin(terms: _*)).as("__q"))
    val stats = base.agg(count(lit(1)).as("__n"), avg(col("__dl")).as("__avgdl"))
    val tf = base
      .select(col(idCol), col("__dl"), explode(col("__q")).as("__t"))
      .groupBy(col(idCol), col("__t"), col("__dl"))
      .agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dfreq), "__t")
      .crossJoin(broadcast(stats))
      .withColumn("__s",
        log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1) *
          (col("__tf") * (k1 + 1)) /
          (col("__tf") +
            lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy(col(idCol))
      .agg(round(sum(col("__s")), 4).as("bm25"))
  }

  /** Vocabulary-coverage curve: rank words by corpus frequency
    * (count desc, word asc) and mark the smallest prefix covering
    * `shareNum/shareDen` of all token occurrences — tokenizer-
    * vocabulary construction ("which words make the 95 % vocab") and
    * OOV-rate budgeting.
    *
    * The cumulative sum is TWO-LEVEL, not one global window: level 1
    * runs over the distinct-count table (bounded by the number of
    * distinct frequency VALUES, ≪ vocabulary — thousands at 100 TB),
    * where a same-sort full frame also yields the grand total with no
    * extra scan and no 1-row cross join; level 2 ranks words only
    * WITHIN their count band (`cum = band_offset + cnt × rank`), so
    * the token stream is never globally sorted.
    *
    * The cnt=1 tail band would otherwise be ONE window partition; at
    * extreme scale pass `tailSubShards > 1` and every NON-boundary
    * band (entirely inside or entirely outside the budget — in/out is
    * constant there, so within-band order cannot change any
    * `in_vocab`) ranks in word-hash sub-shards: rank = words in
    * earlier shards of the band (a bounded bands×shards broadcast) +
    * rank within the shard. Only the ONE band straddling the budget
    * keeps the exact word-asc order. `cum_cnt` stays a valid exact
    * cumulative sum (the value SET per band is rank-assignment-
    * independent: band_off + cnt×{1..K}); word↔cum_cnt pairing inside
    * sharded bands follows the sharded order instead of word-asc.
    *
    * Output: (word, cnt, cum_cnt, in_vocab) — the cutoff compares
    * `cum_cnt × shareDen ≤ total × shareNum` in exact integers, no
    * float knife-edge.
    */
  def vocabCoverage(df: DataFrame, textCol: String,
      shareNum: Int = 95, shareDen: Int = 100,
      tailSubShards: Int = 0): DataFrame = {
    require(shareDen > 0 && shareNum >= 0 && shareNum <= shareDen)
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val bands = counts.groupBy("cnt").agg(sum(col("cnt")).as("band_sum"))
    val wPrior = Window.orderBy(desc("cnt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(desc("cnt"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = bands
      .withColumn("band_off", coalesce(sum(col("band_sum")).over(wPrior),
        lit(0L)))
      .withColumn("total", sum(col("band_sum")).over(wAll))
    val wWithin = Window.partitionBy("cnt").orderBy("word")
    val joined = counts.join(broadcast(
      offsets.select("cnt", "band_off", "band_sum", "total")), "cnt")
    def finish(ranked: DataFrame): DataFrame = ranked
      .select(col("word"), col("cnt"), col("cum_cnt"),
        (col("cum_cnt") * shareDen <= col("total") * shareNum)
          .as("in_vocab"))
    if (tailSubShards <= 1) {
      finish(joined.withColumn("cum_cnt",
        col("band_off") + col("cnt") * row_number().over(wWithin)))
    } else {
      // a band is boundary iff the budget cutoff falls strictly
      // inside it: its first word could be in AND its last word out
      val allIn =
        (col("band_off") + col("band_sum")) * shareDen <=
          col("total") * shareNum
      val allOut =
        (col("band_off") + col("cnt")) * shareDen > col("total") * shareNum
      val tagged = joined.withColumn("__boundary", !allIn && !allOut)
      val boundary = tagged.filter(col("__boundary"))
        .withColumn("cum_cnt",
          col("band_off") + col("cnt") * row_number().over(wWithin))
      val sharded = tagged.filter(!col("__boundary"))
        .withColumn("__shard",
          pmod(xxhash64(col("word")), lit(tailSubShards.toLong)))
      // words per (band, shard) → earlier-shard word offsets; bounded
      // by bands × shards, broadcast back
      val wShardPrior = Window.partitionBy("cnt").orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      val shardOff = sharded.groupBy("cnt", "__shard")
        .agg(count(lit(1)).as("__sw"))
        .withColumn("__soff",
          coalesce(sum(col("__sw")).over(wShardPrior), lit(0L)))
        .select("cnt", "__shard", "__soff")
      val wInShard = Window.partitionBy("cnt", "__shard").orderBy("word")
      val nonBoundary = sharded
        .join(broadcast(shardOff), Seq("cnt", "__shard"))
        .withColumn("cum_cnt", col("band_off") + col("cnt") *
          (col("__soff") + row_number().over(wInShard)))
      finish(boundary.unionByName(
        nonBoundary.drop("__shard", "__soff")))
    }
  }

  /** Winnowing-style fingerprints: hash every k-char gram, then keep
    * the minimum hash of each sliding window of `w` gram hashes;
    * distinct mins form the document sketch (rolling-hash document
    * fingerprinting). Built entirely from array functions.
    */
  def fingerprints(text: Column, k: Int = 5, w: Int = 8): Column = {
    val grams = transform(
      TextFunctions.char_ngrams(normText(text), k),
      g => xxhash64(g))
    val nWin = greatest(size(grams) - (w - 1), lit(1))
    array_sort(array_distinct(transform(
      sequence(lit(1), nWin),
      i => array_min(slice(grams, i, lit(w))))))
  }

  /** Deflate compression ratio — the Gopher-class quality signal
    * (natural text compresses ~2-4x; boilerplate and repetition
    * compress far more; random noise barely at all). zlib output
    * depends on the deflater implementation, so this is NOT
    * oracle-comparable cross-engine: the contract is deterministic
    * WITHIN the JVM (same bytes -> same level-6 stream, pinned by a
    * plain-Scala replay in the spec), and the declared query is
    * rows-only checked. mapPartitions so each task allocates ONE
    * Deflater and reuses it per row — the per-partition codec-init
    * pattern the media decoders use.
    *
    * Output: idCol, raw_bytes, deflate_bytes, ratio (round-4
    * raw/deflate, NULL for empty text).
    */
  def compressionRatio(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val out = df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val raw = Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          (id, raw.length.toLong, n)
        }
      }
    out.toDF(idCol, "raw_bytes", "deflate_bytes")
      .withColumn("ratio",
        when(col("raw_bytes") > 0,
          round(col("raw_bytes").cast("double") /
            col("deflate_bytes"), 4)))
  }
}
