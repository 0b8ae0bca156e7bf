package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.scalatest.funsuite.AnyFunSuite

import graft.gsheets.Fixtures

/** The conf defaults that `GraftExtensions` applies. Only the conf is
  * checked: the codegen cache is a JVM-wide static sized by whichever
  * session generates code first, so compile counts in this shared test
  * JVM say nothing about its size (`StreamRecompileSpec` checks what
  * the isolation default buys).
  */
class CodegenCacheDefaultSpec extends AnyFunSuite {

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
  private val isolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  test("sets the cache size when the conf lacks it") {
    val conf = new SparkConf(false)
    Bridge.confDefaults(Map(key -> "1000"), Some(conf))
    assert(conf.get(key) == "1000")
  }

  test("leaves a user-set cache size alone") {
    val conf = new SparkConf(false).set(key, "64")
    Bridge.confDefaults(Map(key -> "1000"), Some(conf))
    assert(conf.get(key) == "64")
  }

  test("is a no-op with no active context") {
    Bridge.confDefaults(GraftExtensions.SessionDefaults, None)
  }

  test("a session built with GraftExtensions carries the default") {
    val spark = Fixtures.spark
    val want = GraftExtensions.CodegenCacheEntries.toString
    assert(spark.sparkContext.getConf.get(key) == want)
    assert(spark.conf.get(key) == want)
  }

  test("turns artifact isolation off when the conf lacks it") {
    val conf = new SparkConf(false)
    Bridge.confDefaults(GraftExtensions.SessionDefaults, Some(conf))
    assert(conf.get(isolation) == "false")
  }

  test("leaves a user-set artifact isolation alone") {
    val conf = new SparkConf(false).set(isolation, "true")
    Bridge.confDefaults(GraftExtensions.SessionDefaults, Some(conf))
    assert(conf.get(isolation) == "true")
  }

  test("a session built with GraftExtensions, and a newSession() of it, run without isolation") {
    val spark = Fixtures.spark
    assert(spark.conf.get(isolation) == "false")
    assert(spark.newSession().conf.get(isolation) == "false")
  }
}
