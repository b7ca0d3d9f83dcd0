package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}

/** One benchmark run of one workload in one JVM, as a closed loop with one
  * client: each op is one `SparkEntry.queries` call materialised through
  * the `noop` sink, and the next op starts when the previous one returns.
  *
  * A run is: one set-up, timed from JVM start to the first op (session
  * build, first touch of the `--tables` through [[graft.Tables]], and the
  * `prewarmShared` hooks of the `--hooks` modules, which build the
  * session's shared structures), one cold first pass, an untimed
  * output-check pass, `--passes` warm passes, and the q01 ambient probe.
  * The check writes each oracled op's result and its oracle SQL for
  * `tools/check_oracle.py`, and evaluates each rows-only op twice.
  *
  * With `--trace 1` the warm passes run as untraced, traced, traced,
  * untraced, ... (whole groups of four), so that the tracing overhead is
  * measured against passes of the same run. Only a traced pass carries the
  * tracing: [[JobRecorder]] is registered for that pass alone, and each
  * Spark job is tagged with its op and phase
  * (`pb:<pass>:<op>:construct|exec`) through the job group. Nothing in the
  * engine changes: spans are taken around the calls into it.
  *
  * Everything measured is written as one JSON record to `--out`;
  * perfbench/run.py turns it into the benchmark's metrics.
  *
  *   graft.perfbench.Driver --ops q226:Pipeline,... --hooks Dedup
  *     --tables documents,... --data <dir> --passes 2 --trace 0|1
  *     --check <dir> --out <file>
  */
object Driver {
  private val hooks: Map[String, Tables => Seq[(String, Double)]] = Map(
    "Dedup" -> graft.ops.Dedup.prewarmShared,
    "TextAnalysis" -> graft.ops.TextAnalysis.prewarmShared)

  // span clock: epoch milliseconds at nanoTime resolution, comparable with
  // the listener's job times
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class OpSpan(op: String, module: String, start: Double,
      constructEnd: Double, end: Double, error: String)
  final case class PassSpan(index: Int, traced: Boolean, start: Double,
      end: Double, ops: Seq[OpSpan])

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val fns = SparkEntry.queries
    val ops = opt("ops").split(",").toSeq.map { s =>
      val Array(short, module) = s.split(":")
      val full = fns.keys.filter(_.startsWith(short + "_")).toSeq
      require(full.size == 1, s"op $short matches ${full.mkString(",")}")
      (full.head, module)
    }
    val hookNames = opt("hooks").split(",").toSeq.filter(_.nonEmpty)
    val tables = opt("tables").split(",").toSeq
    val data = opt("data")
    val traceRun = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val checkDir = opt("check")

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // ---- set-up, from JVM start to the first op
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = Tables(spark, data)
    val touch: Map[String, Tables => DataFrame] = Map(
      "region" -> (_.region), "nation" -> (_.nation), "customer" -> (_.customer),
      "supplier" -> (_.supplier), "part" -> (_.part), "orders" -> (_.orders),
      "lineitem" -> (_.lineitem), "events" -> (_.events),
      "documents" -> (_.documents), "embeddings" -> (_.embeddings))
    tables.foreach(n => touch(n)(t).count())
    val shared = hookNames.flatMap(h => hooks(h)(t))
    val setup = (now() - jvmStart) / 1e3
    val sc = spark.sparkContext

    // ---- passes
    var failed = 0L
    var attempted = 0L
    val errors = mutable.ArrayBuffer[String]()
    val recorder = new JobRecorder
    def runPass(index: Int, traced: Boolean): PassSpan = {
      if (traced) sc.addSparkListener(recorder)
      val pStart = now()
      val spans = ops.zipWithIndex.map { case ((name, module), k) =>
        def group(phase: String): Unit =
          if (traced) sc.setJobGroup(s"pb:$index:$k:$phase", name, interruptOnCancel = false)
        val s0 = now()
        var c1 = Double.NaN
        var err: String = null
        try {
          group("construct")
          val df = fns(name)(spark, data)
          c1 = now()
          group("exec")
          noop(df)
        } catch { case e: Throwable =>
          err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        } finally if (traced) sc.clearJobGroup()
        val end = now()
        attempted += 1
        if (err != null) { failed += 1; errors += s"pass $index $name: $err" }
        OpSpan(name, module, s0, if (c1.isNaN) end else c1, end, err)
      }
      val span = PassSpan(index, traced, pStart, now(), spans)
      if (traced) { recorder.drain(); sc.removeSparkListener(recorder) }
      span
    }
    val passes = mutable.ArrayBuffer(runPass(0, traced = false))

    // ---- output check: untimed, right after the cold pass, so the timed
    // warm passes are each op's third or later evaluation
    val checked = mutable.ArrayBuffer[String]()
    val rowsOnly = mutable.LinkedHashMap[String, String]()
    val outputRows = mutable.LinkedHashMap[String, Long]()
    new File(checkDir).mkdirs()
    ops.foreach { case (name, _) =>
      attempted += 1
      try {
        if (SparkEntry.oracleSql.contains(name)) {
          fns(name)(spark, data).coalesce(1).write.mode("overwrite")
            .parquet(s"$checkDir/$name")
          checked += name
          outputRows(name) = spark.read.parquet(s"$checkDir/$name").count()
        } else {
          def rows(): Seq[String] =
            fns(name)(spark, data).collect().toSeq.map(rowString).sorted
          val a = rows()
          outputRows(name) = a.size.toLong
          val verdict = if (a.isEmpty) "empty" else if (a != rows()) "unstable" else "ok"
          rowsOnly(name) = verdict
          if (verdict != "ok") { failed += 1; errors += s"check $name: $verdict" }
        }
      } catch { case e: Throwable =>
        failed += 1
        errors += s"check $name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
    }
    // the checked ops' entries of SparkEntry.oracleSql, as check_oracle.py reads them
    json.writeValue(new File(s"$checkDir/oracle_sql.json"),
      checked.map(n => n -> SparkEntry.oracleSql(n)).toMap)

    // warm passes: `--passes` untraced ones, or in a traced run whole
    // groups of untraced/traced/traced/untraced, at least `--passes` passes
    val pattern = if (traceRun) Seq(false, true, true, false) else Seq(false)
    while (passes.size <= opt("passes").toInt)
      pattern.foreach(tr => passes += runPass(passes.size, tr))

    // ---- ambient probe: q01 on the same input, after the passes
    val q01 = fns.keys.find(_.startsWith("q01_")).get
    val probe = (0 until 3).map { _ =>
      val t0 = now(); noop(fns(q01)(spark, data)); (now() - t0) / 1e3
    }

    // ---- memory held at the end of the run
    val rddBlocks = sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    val rt = Runtime.getRuntime
    val heapMb = (0 until 3).map { _ =>
      System.gc(); (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min

    spark.stop()
    json.writeValue(new File(opt("out")), Map(
      "cores" -> cpus.toInt,
      "setup_s" -> setup,
      "probe_q01_s" -> probe,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors,
      "retained_heap_mb" -> heapMb,
      "rdd_blocks" -> rddBlocks,
      "shared" -> shared.map { case (n, s) => Map("name" -> n, "s" -> s) },
      "rows_only" -> rowsOnly,
      "output_rows" -> outputRows,
      "oracle_checked" -> checked,
      "passes" -> passes,
      "jobs" -> recorder.records))
  }

  private def rowString(r: Row): String = r.toSeq.map {
    case a: Array[_] => a.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")
}
