package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The JVM-wide cache of compiled generated classes that [[Sessions.tuned]]
  * sizes: the test session carries the recipe's size, and a class stays
  * cached while more than Spark's default 100 others are generated after
  * it. Each test fails if the session recipe drops the entry. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the test session sizes the codegen cache as the session recipe does") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key).toInt ==
      Sessions.CodegenCacheMaxEntries)
  }

  test("a generated class is still cached after 300 others are generated") {
    spark // built first: CodeGenerator sizes its cache from the active conf
    // a long literal is inlined into the generated source, so every value
    // is a distinct class; the base keeps them apart from other suites'
    def projectionClass(i: Int): Class[_] =
      GenerateUnsafeProjection.generate(Seq(Literal(7300000000L + i))).getClass
    val first = projectionClass(0)
    // Guava splits the cache into 4 segments that evict on their own: 300
    // classes overflow every segment of a 100-entry cache (25 each)
    (1 to 300).foreach(projectionClass)
    // a recompile loads a new Class; a cache hit returns the same one
    assert(projectionClass(0) eq first)
  }
}
