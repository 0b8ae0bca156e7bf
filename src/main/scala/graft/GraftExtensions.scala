package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.GraftFunctions
import graft.sources.gsheets.GSheetsExtensions

/** Whole-engine session extension: the gsheets URL replacement-scan
  * rule plus the native SQL functions, and a larger default for Spark's
  * generated-class cache. Install with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.graft.Bridge.codegenCacheDefault(
      GraftExtensions.CodegenCacheEntries)
    new GSheetsExtensions()(extensions)
    GraftFunctions.functions.foreach { case (name, info, builder) =>
      extensions.injectFunction((FunctionIdentifier(name), info, builder))
    }
    extensions.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
  }
}

object GraftExtensions {
  /** Default for `spark.sql.codegen.cache.maxEntries` (Spark's is 100).
    * The cache is a Guava cache split into 4 segments, so 100 entries
    * hold about 25 classes a segment: q60 and q130 alone generate 95
    * distinct classes, and when they alternate each run evicts the
    * other's classes, so every warm run recompiles and re-JITs them.
    * One pass over the whole registry generates about 3,000 distinct
    * classes; 4096 holds them with about a third to spare.
    */
  val CodegenCacheEntries = 4096
}
