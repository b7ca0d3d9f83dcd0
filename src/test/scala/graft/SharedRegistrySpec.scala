package graft

import graft.ops.Shared
import org.apache.spark.sql.SparkSession

/** The shared-structure registry ([[graft.ops.Shared]]): stopped sessions'
  * entries are evicted, a prewarmed session's queries add no entry, and a
  * hit is the stored instance. The first test stops every session in the
  * suites' shared JVM; the next `getOrCreate` (this suite's `spark`, or
  * the next suite's) builds a fresh one. */
class SharedRegistrySpec extends SparkSpec {

  test("entries of stopped sessions are evicted") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    (1 to 3).foreach { i =>
      val s = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false").getOrCreate()
      try {
        Shared.value(Tables(s, "sf"), "spec_probe", i)(new Object)
        assert(Shared.size == 1)
      } finally s.stop()
    }
    assert(Shared.size == 0)
  }

  test("after prewarm, q37 and q226 add no entry") {
    Shared.prewarm(sf0001)
    val n = Shared.size
    Seq("q37_dedup_components", "q226_news_pipeline_gate").foreach { q =>
      SparkEntry.queries(q)(spark, sf0001.sfDir).write.format("noop")
        .mode("overwrite").save()
    }
    assert(Shared.size == n)
  }

  test("two calls with the same key return the same instance") {
    val a = Shared.frame(sf0001, "spec_frame", 3)(spark.range(3).toDF())
    val b = Shared.frame(sf0001, "spec_frame", 3)(spark.range(5).toDF())
    assert(a eq b)
    assert(b.count() == 3)
    val v = Shared.value(sf0001, "spec_value", 1)(new Object)
    assert(Shared.value(sf0001, "spec_value", 1)(new Object) eq v)
    assert(Shared.value(sf0001, "spec_value", 2)(new Object) ne v)
  }
}
