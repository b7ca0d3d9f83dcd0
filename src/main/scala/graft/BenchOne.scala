package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: time individual queries by name (same session config and
  * noop-sink methodology as Bench) — `runMain graft.BenchOne q64 q37`.
  * Each query runs REPS times (default 2; override SPARK_GRAFT_REPS) so
  * the second rep shows the warm figure the full bench approximates. */
object BenchOne {
  /** Run `body` on the dev tools' session and scale factor
    * (`$SPARK_GRAFT_SF_DIR`, `$SPARK_GRAFT_CPUS`), stopping it after. */
  private[graft] def withSession(body: (SparkSession, String) => Unit): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC") // parity with Bench/Verify (ADVICE r8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark, sfDir) finally spark.stop()
  }

  def main(args: Array[String]): Unit = withSession { (spark, sfDir) =>
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // SPARK_GRAFT_CLEARCACHE=1 reproduces the full bench's timed-pass
    // methodology exactly: plan/codegen warm but .cache()'d intermediates
    // dropped before each rep, so rep2+ pays its own caching work the way
    // the driver's post-clearCache timed loop does. Without it, rep2 keeps
    // caches hot and UNDERSTATES cache-heavy queries (q50/q115) vs BENCH_r*.
    val clearCache = sys.env.get("SPARK_GRAFT_CLEARCACHE").contains("1")
    val wanted = args.toSet
    // Bench's timed pass prewarms the shared session structures after its
    // one clearCache() (VERDICT r12 item 1) — mirror that here so rep
    // figures stay comparable to BENCH_r*.
    def prewarm(): Unit =
      try graft.ops.Shared.prewarm(Tables(spark, sfDir)) catch { case e: Throwable =>
        System.err.println(s"[benchone] prewarm FAILED: ${e.getMessage}")
      }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => wanted.exists(name.startsWith) }
      .foreach { case (name, fn) =>
        (1 to reps).foreach { rep =>
          if (clearCache) { spark.catalog.clearCache(); prewarm() }
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          println(f"[benchone] $name rep$rep ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      }
  }
}
