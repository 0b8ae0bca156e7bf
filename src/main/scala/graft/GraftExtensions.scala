package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

import graft.functions.GraftFunctions
import graft.sources.gsheets.GSheetsExtensions

/** Whole-engine session extension: the gsheets URL replacement-scan
  * rule plus the native SQL functions, and the conf defaults in
  * [[GraftExtensions.SessionDefaults]]. Install with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.graft.Bridge.confDefaults(GraftExtensions.SessionDefaults)
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

  /** The conf defaults the extension sets on the SparkContext's conf,
    * each only where that conf lacks the key, so a value the user sets
    * wins. Every session, and every `newSession()` or streaming clone
    * of one, builds its SQL conf from the context's conf and so
    * inherits them.
    *
    *  - `spark.sql.codegen.cache.maxEntries`: [[CodegenCacheEntries]].
    *  - `spark.sql.artifact.isolation.enabled`: false. Spark keys
    *    generated classes by (class loader, code), and with isolation
    *    on, executors give each session its own class loader. Each
    *    `writeStream.start()` clones its session, so every streaming
    *    start missed the cache and recompiled its task classes (10 a
    *    start for a gsheets tail group-by). Isolation only guards the
    *    jars and REPL classes a session adds with `addArtifact`, which
    *    nothing in this engine calls.
    */
  val SessionDefaults: Map[String, String] = Map(
    StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key -> CodegenCacheEntries.toString,
    SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false")
}
