package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.{Sessions, SparkEntry}
import graft.llm.IndexStore

/** One benchmark run in one JVM: set up a workload, run one untimed pass
  * (which records every operation's check value), then run passes back to
  * back (a closed loop with one client) until the time is up, and write a
  * JSON record of every pass for run.py to summarize.
  *
  * Arguments: --workload W --data DIR --rows name=n,... --work DIR
  * --seconds S --trace 0|1 --cpus N --out FILE. With --trace 1 every
  * second pass is traced, so the record carries the tracing overhead on
  * pass time next to the per-layer metrics.
  */
object Main {
  val CurationQueries = Seq("q34_exact_dedup", "q70_curation_funnel",
    "q101_bpe_tokens")
  /** Queries whose DuckDB oracle takes more than 8 s even at the
    * benchmark's input size; their output is checked pass against pass. */
  val SlowOracle = Set("q70_curation_funnel")

  final case class PassRecord(ops: Seq[(String, Double)], seconds: Double,
                              traced: Boolean, layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val seconds = opt("seconds").toDouble
    val traceRun = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val data = opt("data")
    val work = opt("work")
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val spark = phase("session_s") {
      val s = Sessions.local(cpus.toString, "graft-perfbench")
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val sc = spark.sparkContext

    // the warehouse is private to the run: clear any estate left behind
    val vacuum = phase("vacuum_s")(IndexStore.vacuum(spark))
    // input row counts, as generated: "name=rows,name=rows"
    val rows = opt("rows").split(",").map(_.split("=")).map(kv =>
      kv(0) -> kv(1).toLong).toMap.withDefaultValue(0L)
    val w: Workload = opt("workload") match {
      case "glue" => new Glue(spark, data, work, rows)
      case "curation" => new Curation(spark, data, work, CurationQueries,
                                      SlowOracle, rows("documents"))
      case other => sys.error(s"unknown workload $other")
    }
    phase("workload_setup_s")(w.setup())

    val expected = mutable.Map.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val findings = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    val tr = new Tracer(sc)

    def runPass(p: Int, traced: Boolean): PassRecord = {
      val warm = p == 0
      tr.begin(p, traced)
      val gc0 = Jvm.gcMillis()
      val t0 = System.nanoTime()
      val times = w.ops.map { op =>
        val s = System.nanoTime()
        val got =
          try op.run(tr, warm)
          catch { case e: Throwable =>
            Outcome("", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
          }
        val secs = (System.nanoTime() - s) / 1e9
        if (warm) expected(op.name) = got.check
        attempted += 1
        if (!got.ok || got.check != expected(op.name)) {
          val f = Map("pass" -> p, "op" -> op.name, "ok" -> got.ok,
            "check" -> got.check, "expected" -> expected(op.name),
            "why" -> got.why)
          failures += f
          // a check that differs between passes of one build is a
          // finding in itself, besides counting as a failed operation
          if (got.ok) findings += f
        }
        op.name -> secs
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val gcS = (Jvm.gcMillis() - gc0) / 1e3
      val counters = tr.end()
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val l = Layers(tr, counters, p, secs, cpus, gcS) ++
            w.passMetrics(tr, p)
          val iters = l.collect {
            case (k, v) if k.startsWith("ml.lr_iterations.") => v }.sum
          l + ("ml.jobs_per_iteration" ->
                 (if (iters > 0) counters.lrJobs / iters else 0.0))
        }
      PassRecord(times, secs, traced, layers)
    }

    val warmup = phase("warmup_s")(runPass(0, traced = false))
    val setupEnd = System.currentTimeMillis()

    // Closed loop, one client: passes back to back until the time is up.
    // A traced run alternates untraced and traced passes, so the tracing
    // overhead is measured on neighbouring passes.
    val passes = mutable.ArrayBuffer.empty[PassRecord]
    val t0 = System.nanoTime()
    while (passes.size < w.minPasses ||
           (System.nanoTime() - t0) / 1e9 < seconds)
      passes += runPass(passes.size + 1, traceRun && passes.size % 2 == 1)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    if (traceRun)
      Files.writeString(Paths.get(work, "spans.json"),
                        json.writeValueAsString(tr.spans))

    val record = Map(
      "workload" -> opt("workload"),
      "setup_end_ms" -> setupEnd,
      "setup_phases" -> phases,
      "input_rows" -> w.inputRows,
      "table_rows" -> rows,
      "cpus" -> cpus,
      "attempted" -> attempted,
      "failures" -> failures,
      "findings" -> findings,
      "vacuum" -> vacuum.summary,
      "warmup_s" -> warmup.seconds,
      // read after the first pass: some oracle SQL embeds state that the
      // query computed (q88's centroids)
      "oracle" -> w.oracle.toSeq.map(n => n -> SparkEntry.oracleSql(n)).toMap,
      "info" -> w.info,
      "peak_rss_mb" -> Jvm.peakRssMb(),
      "passes" -> passes.map(p => Map(
        "seconds" -> p.seconds, "traced" -> p.traced,
        "ops" -> p.ops.map { case (n, s) => Map("op" -> n, "seconds" -> s) },
        "layers" -> p.layers)))
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(record))
    spark.stop()
  }
}

/** Per-pass layer metrics from the drained listener counters and spans. */
object Layers {
  def apply(tr: Tracer, c: PassCounters, p: Int, passS: Double, cpus: Int,
            gcS: Double): Map[String, Double] = {
    val jobS = c.jobSpans.map { case (a, b) => (b - a) / 1e3 }.sorted
    // union of job intervals: the rest of the pass ran no job
    var busyMs = 0L; var end = Long.MinValue
    for ((a, b) <- c.jobSpans.sortBy(_._1)) {
      val s = math.max(a, end)
      if (b > s) busyMs += b - s
      end = math.max(end, b)
    }
    Map(
      "operators.build_s" -> tr.seconds("operators.build", p),
      "operators.exec_s" -> tr.seconds("operators.exec", p),
      "plans.analysis_s" -> tr.seconds("plans.analysis_s", p),
      "plans.optimization_s" -> tr.seconds("plans.optimization_s", p),
      "plans.planning_s" -> tr.seconds("plans.planning_s", p),
      "scheduler.jobs" -> c.jobs.toDouble,
      "scheduler.stages" -> c.stages.toDouble,
      "scheduler.tasks" -> c.tasks.toDouble,
      "scheduler.single_task_stages" ->
        (if (c.stages > 0) c.singleTaskStages.toDouble / c.stages else 0.0),
      "scheduler.driver_idle_s" -> math.max(0.0, passS - busyMs / 1e3),
      "scheduler.job_s.p50" ->
        (if (jobS.isEmpty) 0.0 else jobS(jobS.size / 2)),
      "scheduler.task_busy_s" -> c.taskBusyMs / 1e3,
      "scheduler.core_util" -> c.taskBusyMs / 1e3 / (passS * cpus),
      "scheduler.failed_tasks" -> c.failedTasks.toDouble,
      "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> c.shuffleRead.toDouble,
      "shuffle.fetch_wait_s" -> c.fetchWaitMs / 1e3,
      "shuffle.spill_bytes" -> c.spill.toDouble,
      "io.input_bytes" -> c.inputBytes.toDouble,
      "io.input_records" -> c.inputRecords.toDouble,
      "io.output_bytes" -> c.outputBytes.toDouble,
      "io.tsv_read_s" -> tr.seconds("io.tsv_read", p),
      "io.write_s" -> tr.seconds("io.write", p),
      "ml.transform_s" -> tr.seconds("ml.transform", p),
      "metrics.eval_s" -> tr.seconds("metrics.eval", p),
      "infer.score_s" -> tr.seconds("infer.score", p),
      "indexstore.save_s" -> tr.seconds("indexstore.save", p),
      "indexstore.load_s" -> tr.seconds("indexstore.load", p),
      "materialize.jobs" -> c.materializeJobs.toDouble,
      "jvm.gc_s" -> gcS) ++
      Seq("sst2", "qqp", "qnli").map(t =>
        s"ml.fit_s.$t" -> tr.seconds(s"ml.fit.$t", p)) ++
      c.sites.map { case (site, n) => s"site:$site" -> n.toDouble }
  }
}
