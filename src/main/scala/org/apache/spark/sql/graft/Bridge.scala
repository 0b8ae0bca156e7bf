package org.apache.spark.sql.graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark APIs that became `private[sql]` in Spark 4
  * (Column⇄Expression conversion, temp-function registration). Living
  * under `org.apache.spark.sql` is the established pattern for engine
  * extensions that provide their own Catalyst expressions; everything
  * referenced is Apache Spark public source, just package-scoped.
  */
object Bridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` went
    * `private[sql]` in Spark 4).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Exact single-part column reference. `Expressions.column` PARSES
    * the name (a dot produces a nested reference), and the non-parsing
    * `FieldReference` factories are `private[sql]` — this is the
    * public seam for connector columns whose names may contain dots.
    */
  def fieldReference(name: String)
      : org.apache.spark.sql.connector.expressions.NamedReference =
    org.apache.spark.sql.connector.expressions.FieldReference(Seq(name))

  /** Unload every loaded streaming state-store provider (the JVM-wide
    * `StateStore.loadedProviders` map — `private[sql]`). Providers of
    * STOPPED queries stay loaded, every in-memory state version
    * included, until an unload or provider-id reuse; a harness that
    * runs many short streaming jobs (Bench's four passes × 8 queries,
    * each on a fresh checkpoint dir) must drop them between passes or
    * they accumulate against the heap (VERDICT r9 #3).
    */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Drop the pinned RDD blocks behind a `localCheckpoint()`ed
    * Dataset. `df.unpersist()` only talks to the CacheManager — a local
    * checkpoint's blocks are an RDD-level persist on the INTERNAL
    * checkpointed RDD (reachable through the `LogicalRDD` the
    * checkpoint returned; `df.rdd` would wrap a fresh deserializing
    * RDD whose unpersist frees nothing). Iterative drivers that
    * checkpoint per round (label propagation, star contraction) call
    * this on superseded rounds so re-running the construction doesn't
    * accumulate one block chain per run.
    *
    * Accepts ONLY a frame whose analyzed plan IS a bare `LogicalRDD`
    * leaf — i.e. the direct result of `localCheckpoint()` (ADVICE
    * r11): the earlier tree-walking form unpersisted the RDD of ANY
    * `LogicalRDD` found anywhere in the plan, which would silently
    * free shared blocks if ever handed a derived plan embedding
    * someone else's checkpointed frame. A future caller passing a
    * derived frame now fails loudly instead of corrupting a shared
    * cache.
    */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        "unpersistLocalCheckpoint expects the direct result of " +
          "localCheckpoint() (a bare LogicalRDD leaf); got a derived " +
          s"plan rooted at ${other.nodeName} — unpersisting LogicalRDDs " +
          "inside a derived plan could free blocks shared with other " +
          "frames")
    }

  /** Blocks until every event posted so far has been delivered to
    * every listener (`SparkContext.listenerBus` is `private[spark]`).
    * A listener's counters read after this include every job that
    * finished before the call. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Set each of `defaults` on `conf`, unless the key is already set
    * there. `conf` defaults to the active SparkContext's own conf
    * (`SparkContext.getActive` and `sc.conf` are `private[spark]`); with
    * no active context this does nothing.
    *
    * A session extension runs after the SparkContext exists but before
    * the session's conf is cloned from it, so the defaults reach that
    * session and every session later built from the context. The
    * generated-class cache is a JVM-wide static sized once, from the
    * session conf of the first query that generates code, so its size
    * default only takes effect when the extension is installed before
    * the JVM's first codegen.
    */
  def confDefaults(defaults: Map[String, String],
      conf: Option[SparkConf] = SparkContext.getActive.map(_.conf)): Unit =
    conf.foreach(c => defaults.foreach { case (k, v) => c.setIfMissing(k, v) })

  /** Janino compiles so far in this JVM, and their total time in ns.
    * Both counters only grow, so deltas around a query are exact.
    */
  def codegenCompiles(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def registerTempFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
