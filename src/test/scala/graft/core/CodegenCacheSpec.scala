package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache is sized by a STATIC conf
  * (`spark.sql.codegen.cache.maxEntries`): `CodeGenerator`'s initializer
  * reads it once per JVM, from whatever conf is active on the first thread
  * that generates code. Pins that the size [[GraftSession.local]] sets is
  * the one in effect: a query shape repeated after more distinct shapes
  * than Spark's default of 100 entries is served from the cache, not
  * compiled again. */
class CodegenCacheSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated query shape is not recompiled after 150 distinct shapes") {
    // shape i sums i + 1 copies of the id column: the generated code differs
    // by expression shape, not by an inlined literal value
    def shape(i: Int): Long =
      spark.range(4).select((0 to i).map(_ => col("id")).reduce(_ + _).as("s"))
        .collect().map(_.getLong(0)).sum
    assert(shape(0) == 6L)
    val sweepStart = compiles
    (1 to 150).foreach(i => assert(shape(i) == 6L * (i + 1)))
    val swept = compiles - sweepStart
    assert(swept > 100, s"the sweep compiled only $swept classes: it must overflow 100 entries")
    val before = compiles
    assert(shape(0) == 6L)
    assert(compiles == before,
      s"shape 0 compiled ${compiles - before} class(es) again: the codegen cache was " +
        "sized below one sweep — CodeGenerator initialized without the session's conf?")
  }
}
