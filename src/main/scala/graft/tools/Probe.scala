package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Sessions, SparkEntry}
import graft.llm.IndexStore
import graft.sources.Tables

/** Dev probe over named [[SparkEntry.queries]] entries: it runs the real
  * queries, never copies of their bodies, under the operating optimizer
  * regime ([[CboAnchors.operatingRegime]]). Three modes:
  *
  *   cost <sfDir> q…                   per-query cost row + job call sites
  *   explain <sfDir> <outDir> <suffix> q…   `<outDir>/<q>_<suffix>.txt`
  *                                     (formatted physical plan)
  *   scale <sfDir> n1,n2,… q…          `cost` over the sf dir replicated
  *                                     n× (see [[replicate]])
  *
  * Usage: `runMain graft.tools.Probe <mode> …`; `SPARK_GRAFT_CPUS` sizes
  * the local session, as for Verify.
  */
object Probe {

  /** One query's best pass: driver build and sink execution seconds,
    * runtime counts, shuffle bytes written, the generated classes
    * compiled, the Catalyst phase seconds summed over every query the
    * pass executed, and the pass's jobs grouped by call site (site →
    * (jobs, job seconds)); `spread` is the slowest timed pass's total
    * over the best's.
    */
  final case class Cost(name: String, build: Double, exec: Double,
                        jobs: Int, stages: Int, tasks: Int,
                        shuffleBytes: Long, compiles: Long,
                        analysis: Double, optimization: Double,
                        planning: Double,
                        sites: Seq[(String, (Int, Double))],
                        spread: Double = 1.0) {
    def total: Double = build + exec

    /** The layer row, in [[Cost.columns]] order. */
    def row: Seq[String] = Seq(f"$total%.3f", f"$build%.3f", f"$exec%.3f",
      s"$jobs", s"$stages", s"$tasks", f"${shuffleBytes / 1e6}%.2f",
      s"$compiles", f"$analysis%.3f", f"$optimization%.3f",
      f"$planning%.3f")
  }

  object Cost {
    val columns: Seq[String] = Seq("t_total", "t_build", "t_exec", "jobs",
      "stages", "tasks", "shuffleMB", "compiles", "t_analysis",
      "t_optimization", "t_planning")
  }

  /** Timed passes after the one warm-up pass, in [[cost]] and Bench. */
  val TimedPasses = 3

  /** One untimed warm-up `pass()`, then [[TimedPasses]] timed ones: the
    * fastest by `secs`, and the slowest's `secs` over the fastest's. A
    * pass that throws ends the measurement.
    */
  def best[T](pass: () => T)(secs: T => Double): (T, Double) = {
    pass()
    val runs = Seq.fill(TimedPasses)(pass()).sortBy(secs)
    (runs.head, secs(runs.last) / math.max(secs(runs.head), 1e-9))
  }

  /** Wall seconds of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Frames that wrap a caller's job rather than identify it. */
  private val wrappers = Seq("graft.Materialize", "graft.SavedOnce")

  /** The innermost `graft.` frame of a call-site stack that is not a
    * [[wrappers]] frame, e.g. `graft.llm.Dedup$.minhashPortable(Dedup.scala:42)`.
    */
  private def graftSite(stack: String): Option[String] =
    stack.linesIterator.map(_.trim).find(f =>
      f.startsWith("graft.") && !wrappers.exists(f.startsWith))

  /** Counts jobs, stages, tasks and shuffle writes, and attributes each
    * job to the [[graftSite]] of its result stage. A job launched off the
    * calling thread (a broadcast, say) carries no user frame; it takes
    * the site of the SQL execution it belongs to.
    */
  private final class Counters extends SparkListener
      with QueryExecutionListener {
    var jobs, stages, tasks = 0
    var shuffleBytes = 0L
    var optimization, planning, analysis = 0.0
    val sites = mutable.LinkedHashMap.empty[String, (Int, Double)]
    private val execSites = mutable.Map.empty[Long, String]
    private val jobs0 = mutable.Map.empty[Int, (String, Long)]

    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; shuffleBytes = 0L
      optimization = 0.0; planning = 0.0; analysis = 0.0
      sites.clear(); execSites.clear(); jobs0.clear()
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        graftSite(s.details).foreach(execSites(s.executionId) = _)
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      val own = e.stageInfos.maxByOption(_.stageId)
        .flatMap(s => graftSite(s.details))
      def viaExec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSites.get(id.toLong))
      jobs0(e.jobId) =
        (own.orElse(viaExec).getOrElse("(no graft frame)"), e.time)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs0.remove(e.jobId).foreach { case (site, t0) =>
        val (n, s) = sites.getOrElse(site, (0, 0.0))
        sites(site) = (n + 1, s + (e.time - t0) / 1e3)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics)
        .foreach(m => shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
    }

    def addPhases(qe: QueryExecution): Unit = synchronized {
      def secs(p: String) =
        qe.tracker.phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      analysis += secs("analysis")
      optimization += secs("optimization")
      planning += secs("planning")
    }

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      addPhases(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = addPhases(qe)
  }

  /** The query's [[best]] pass, each pass built and run through the
    * noop sink, not `count()`, which lets Catalyst prune
    * cardinality-preserving operators (projects, windows, left joins
    * against aggregates keyed on the join key): the sink evaluates every
    * output row and column and writes nothing. The listener bus is
    * drained around every pass so no event leaks into the next.
    */
  def cost(spark: SparkSession, dir: String, name: String): Cost = {
    val c = new Counters
    val sc = spark.sparkContext
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
    def pass(): Cost = {
      ListenerBridge.waitUntilEmpty(sc)
      c.reset()
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      ListenerBridge.waitUntilEmpty(sc)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount -
        compiled0
      // the query Dataset was analysed eagerly while it was built
      c.addPhases(df.queryExecution)
      c.synchronized {
        Cost(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, c.jobs, c.stages,
             c.tasks, c.shuffleBytes, compiled, c.analysis,
             c.optimization, c.planning, c.sites.toSeq)
      }
    }
    try {
      // the warm-up also builds the per-dir memos
      val (b, spread) = best(() => pass())(_.total)
      b.copy(spread = spread)
    } finally {
      spark.listenerManager.unregister(c)
      sc.removeSparkListener(c)
    }
  }

  private val costHeader: String = ("query" +: Cost.columns).mkString("\t")

  /** The cost row, then one `site` line per call site. */
  private def costLines(r: Cost): Seq[String] =
    (r.name +: r.row).mkString("\t") +:
      r.sites.map { case (site, (n, s)) =>
        f"  site\t$n%3d jobs\t$s%7.3f s\t$site"
      }

  /** Write every table of `src` to `dst`, with documents, embeddings and
    * events replicated `n`×: replica i shifts doc_id, vec_id and user_id
    * by i·10⁷, and appends ` v$i` to the text of every documents replica
    * except each 4th, which stays an exact duplicate of replica 0. The
    * raw [[Tables.table]] frames are written, so the readers over `dst`
    * see the same column types as over `src`.
    */
  def replicate(spark: SparkSession, src: String, dst: String,
                n: Int): Unit = {
    def shifted(t: DataFrame, idCol: String): Int => DataFrame =
      i => t.withColumn(idCol, col(idCol) + lit(i * 10000000L))
    val tables = new java.io.File(src).list().toSeq.sorted
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
    for (name <- tables) {
      val t = Tables.table(spark, src, name)
      val replica: Option[Int => DataFrame] = name match {
        case "documents" => Some(i =>
          shifted(t, "doc_id")(i).withColumn("text",
            if (i % 4 == 0) col("text")
            else concat(col("text"), lit(s" v$i"))))
        case "embeddings" => Some(shifted(t, "vec_id"))
        case "events"     => Some(shifted(t, "user_id"))
        case _            => None
      }
      replica.fold(t)(r => (0 until n).map(r).reduce(_ union _))
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
  }

  /** The probe's local session. `cost` and `scale` first sweep the dead
    * estates of earlier sessions, which inflate the persisted-index
    * queries, as a full Bench run does.
    */
  private def session(sweep: Boolean): SparkSession = {
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-probe")
    if (sweep)
      System.err.println(s"[probe] ${IndexStore.vacuum(spark).summary}")
    spark
  }

  private def known(names: Seq[String]): Seq[String] = {
    val (ok, unknown) = names.partition(SparkEntry.queries.contains)
    unknown.foreach(q => System.err.println(s"[probe] unknown query $q"))
    ok
  }

  /** `cost` under the operating regime, one TSV block per query. */
  private def printCost(spark: SparkSession, dir: String,
                        names: Seq[String], prefix: String): Unit =
    CboAnchors.operatingRegime(spark, dir) { spark =>
      names.foreach { q =>
        try costLines(cost(spark, dir, q))
          .foreach(l => println(s"$prefix\t$l"))
        catch { case e: Throwable =>
          println(s"$prefix\t$q\tERROR\t${e.getMessage}")
        }
      }
    }

  def main(args: Array[String]): Unit = args.toList match {
    case "cost" :: dir :: names =>
      val spark = session(sweep = true)
      println(s"[cost]\t$costHeader")
      printCost(spark, dir, known(names), "[cost]")
      spark.stop()

    case "explain" :: dir :: outDir :: suffix :: names =>
      val parent = session(sweep = false)
      Files.createDirectories(Paths.get(outDir))
      CboAnchors.operatingRegime(parent, dir) { spark =>
        for (q <- known(names)) {
          try {
            val txt = SparkEntry.queries(q)(spark, dir)
              .queryExecution.explainString(FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${q}_$suffix.txt"), txt)
            println(s"[explain] wrote ${q}_$suffix.txt")
          } catch { case e: Throwable =>
            println(s"[explain] $q FAILED: ${e.getMessage}")
          }
        }
      }
      parent.stop()

    case "scale" :: dir :: ns :: names =>
      val spark = session(sweep = true)
      val scratch = Files.createTempDirectory("graft_probe_scale_").toFile
      val queries = known(names)
      println(s"[scale]\tn\tdocuments\t$costHeader")
      for (n <- ns.split(",").toSeq.map(_.trim.toInt)) {
        val sfN = s"$scratch/x$n"
        replicate(spark, dir, sfN, n)
        val docs = Tables.documents(spark, sfN).count()
        printCost(spark, sfN, queries, s"[scale]\t$n\t$docs")
      }
      spark.stop()
      JavaUtils.deleteRecursively(scratch)

    case _ =>
      System.err.println("usage: Probe cost <sfDir> q… | " +
        "explain <sfDir> <outDir> <suffix> q… | scale <sfDir> n1,n2,… q…")
      sys.exit(2)
  }
}
