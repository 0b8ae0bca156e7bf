package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.gsheets.Fixtures

/** The generated-class cache default that `GraftExtensions` applies.
  * Only the conf is checked: the cache itself is a JVM-wide static sized
  * by whichever session generates code first, so compile counts in this
  * shared test JVM say nothing about one suite.
  */
class CodegenCacheDefaultSpec extends AnyFunSuite {

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  test("sets the cache size when the conf lacks it") {
    val conf = new SparkConf(false)
    Bridge.codegenCacheDefault(1000, Some(conf))
    assert(conf.get(key) == "1000")
  }

  test("leaves a user-set cache size alone") {
    val conf = new SparkConf(false).set(key, "64")
    Bridge.codegenCacheDefault(1000, Some(conf))
    assert(conf.get(key) == "64")
  }

  test("is a no-op with no active context") {
    Bridge.codegenCacheDefault(1000, None)
  }

  test("a session built with GraftExtensions carries the default") {
    val spark = Fixtures.spark
    val want = GraftExtensions.CodegenCacheEntries.toString
    assert(spark.sparkContext.getConf.get(key) == want)
    assert(spark.conf.get(key) == want)
  }
}
