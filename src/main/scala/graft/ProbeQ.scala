package graft

/** Dev tool: split named queries' warm time into DataFrame construction
  * and action — `runMain graft.ProbeQ q95 q132` on BenchOne's session
  * (`$SPARK_GRAFT_SF_DIR`, `$SPARK_GRAFT_CPUS`). */
object ProbeQ {
  def main(args: Array[String]): Unit = BenchOne.withSession { (spark, sfDir) =>
    args.foreach { qname =>
      val fn = SparkEntry.queries(qname)
      // warm
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (1 to 2).foreach { rep =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        System.err.println(f"[probe] $qname rep$rep construct ${(t1-t0)/1e9}%.2f s action ${(t2-t1)/1e9}%.2f s")
      }
    }
  }
}
