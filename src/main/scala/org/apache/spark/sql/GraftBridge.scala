package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Spark 4 internals the library needs:
  * Column ↔ Expression conversion (for the custom Catalyst
  * expression family) and the session's FunctionRegistry.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    classic.ClassicConversions.castToImpl(spark)
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Register a table-valued function (`SELECT * FROM name(...)`):
    * the builder maps the call's argument expressions to the logical
    * plan the FROM clause resolves to.
    */
  def registerTableFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => catalyst.plans.logical.LogicalPlan): Unit =
    classic.ClassicConversions.castToImpl(spark)
      .sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Inject a planner strategy into a live session (tried before the
    * built-in strategies). Session-creation-time alternative:
    * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
    */
  def addStrategy(spark: SparkSession,
      s: execution.SparkStrategy): Unit = {
    val exp = classic.ClassicConversions.castToImpl(spark).experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** Inject an optimizer rule into a live session (runs in the
    * "User Provided Optimizers" batch). Session-creation-time
    * alternative: `SparkSessionExtensions.injectOptimizerRule`.
    */
  def addOptimization(spark: SparkSession,
      r: catalyst.rules.Rule[catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = classic.ClassicConversions.castToImpl(spark).experimental
    if (!exp.extraOptimizations.contains(r))
      exp.extraOptimizations = exp.extraOptimizations :+ r
  }

  /** Wrap a (resolved) logical plan as a DataFrame on this session. */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      classic.ClassicConversions.castToImpl(spark), plan)

  /** Wrap an already-resolved plan as a DataFrame without running the
    * analyzer over it: the plan is marked analyzed first.
    */
  def ofAnalyzed(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }

  /** `row` of `schema` as one JSON document, written by the generator
    * `to_json` uses (`JacksonGenerator` with default `JSONOptions`):
    * its key escaping, number format and NULL-field omission
    * (`spark.sql.jsonGenerator.ignoreNullFields`). Lets a driver-side
    * renderer write Catalyst rows without a `to_json` projection.
    */
  def toJson(schema: types.StructType, row: catalyst.InternalRow,
      timeZoneId: String): String = {
    val out = new java.io.CharArrayWriter
    val gen = new catalyst.json.JacksonGenerator(schema, out,
      new catalyst.json.JSONOptions(Map.empty[String, String], timeZoneId))
    gen.write(row)
    gen.flush()
    out.toString
  }

  /** The ANALYZED logical plan of a DataFrame. */
  def analyzedPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The OPTIMIZED logical plan of a DataFrame. */
  def optimizedPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan

  /** Run the session analyzer on a standalone plan fragment. */
  def analyze(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan)
      : catalyst.plans.logical.LogicalPlan =
    classic.ClassicConversions.castToImpl(spark)
      .sessionState.analyzer.execute(plan)

  /** Run the session optimizer on a standalone ANALYZED plan
    * fragment (used to bring an expression to the same normal form —
    * constant folding, cast simplification — the optimizer gives the
    * query side before a canonicalized comparison).
    */
  def optimize(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan)
      : catalyst.plans.logical.LogicalPlan =
    classic.ClassicConversions.castToImpl(spark)
      .sessionState.optimizer.execute(plan)

  def parseExpression(spark: SparkSession, sql: String): Expression =
    classic.ClassicConversions.castToImpl(spark)
      .sessionState.sqlParser.parseExpression(sql)

  /** A NEW session on the same SparkContext with `f` applied to a
    * fresh [[SparkSessionExtensions]] — the config-time
    * `spark.sql.extensions` injection altitude (operator-batch
    * optimizer rules run BEFORE the CBO join-reorder batch there),
    * constructible without tearing down an existing session. Lets a
    * spec prove the pre-CBO behavior the
    * [[graft.plans.ColStatsInjection.install]] doc points users to.
    */
  def sessionWithExtensions(spark: SparkSession,
      f: SparkSessionExtensions => Unit): SparkSession = {
    // getOrCreate returns the active session unless none is set:
    // clear both refs, build a sibling session on the SAME context
    // through the public withExtensions hook, restore the originals
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try SparkSession.builder().withExtensions(f).getOrCreate()
    finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  /** Catalyst predicate → data-source [[sources.Filter]], via Spark's
    * own translator (the one the file-source strategy uses for
    * pushdown) — what lets an optimizer rule consult a source-Filter
    * API ([[graft.operators.ZoneMap.pruneKilled]]) from a logical
    * plan. Untranslatable predicates return None (callers stay
    * conservative).
    */
  def translateFilter(predicate: Expression): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy
      .translateFilter(predicate, supportNestedPredicatePushdown = true)
}
