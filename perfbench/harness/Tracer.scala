package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Local property naming the benchmark phase (build, exec, write,
    * read, stream) a Spark job was submitted from.
    */
  val PhaseKey = "perfbench.phase"

  /** Milliseconds of [from, to] covered by at least one of `spans`. */
  def coveredMs(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var (covered, reached) = (0L, from)
    for ((s, e) <- spans.sortBy(_._1)) {
      val (a, b) = (math.max(s, reached), math.min(e, to))
      if (b > a) { covered += b - a; reached = b }
    }
    covered
  }
}

/** Records spans and counts around each operation, from outside the
  * engine: Spark's public listeners (jobs, stages, tasks, AQE updates,
  * query executions and their planning tracker, streaming progress) and
  * the codegen counters, read before and after every operation. Spans
  * are kept in memory and written when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val counts = mutable.HashMap.empty[String, Double]
  /** (start, analysis+optimization+planning ms) per executed query. */
  private val queries = mutable.ArrayBuffer.empty[(Long, Double)]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val spans = mutable.ArrayBuffer.empty[String]
  private val jobStarts = mutable.HashMap.empty[Int, (Long, String, String)]
  /** (start, end) of the current operation's jobs submitted outside the
    * build phase.
    */
  private val execJobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private var opId = ""
  private var compiles0 = 0L
  private var compileNs0 = 0L
  private var discovered0 = 0L

  private def add(k: String, v: Double): Unit = synchronized {
    counts(k) = counts.getOrElse(k, 0.0) + v
  }

  def span(name: String, start: Long, end: Long, parent: String = opId): Unit = synchronized {
    spans += Json.render(Map("name" -> name, "parent" -> parent, "start_ms" -> start, "end_ms" -> end))
  }

  /** A phase of the current operation (build, exec, write, read, stream). */
  def phase(name: String, start: Long, end: Long): Unit = synchronized {
    phases += ((name, start, end))
    span(s"$opId.$name", start, end)
  }

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties).map(_.getProperty(Tracer.PhaseKey)).orNull
      add(if (phase == "build") "build.jobs" else "exec.jobs", 1)
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      synchronized(jobStarts(e.jobId) = (e.time, group, phase))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t, g, phase) =>
        span(s"job${e.jobId}", t, e.time, g)
        if (phase != "build") execJobs += ((t, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("exec.stages", 1)
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) span(s"stage${i.stageId}", s, c)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add("exec.tasks", 1)
      if (m != null) {
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.task_gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => add("catalyst.aqe_replans", 1)
      case _ =>
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("catalyst.analysis_ms", ms("analysis"))
      add("catalyst.optimization_ms", ms("optimization"))
      add("catalyst.planning_ms", ms("planning"))
      if (ph.nonEmpty) synchronized {
        queries += ((ph.values.map(_.startTimeMs).min,
          ms("analysis") + ms("optimization") + ms("planning")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        add("streaming.batches", 1)
        add("streaming.batch_ms", e.progress.batchDuration.toDouble)
      }
  })

  /** Start an operation: its Spark jobs carry `id` as their job group. */
  def beginOp(id: String): Unit = {
    PerfbenchBus.drain(sc)
    synchronized { counts.clear(); queries.clear(); phases.clear(); execJobs.clear(); opId = id }
    sc.setJobGroup(id, id)
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
    discovered0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
  }

  /** End an operation: wait for its events, then move its counts and
    * its build / plan / exec split into the record. Each part is measured
    * on its own: build is the wall time of the build phase, plan the
    * planning-tracker time of the queries executed outside it, and exec
    * the time covered by the jobs submitted outside it (the union of
    * their spans, within the operation's).
    */
  def endOp(r: Harness.OpRecord, start: Long, end: Long): Unit = {
    PerfbenchBus.drain(sc)
    sc.clearJobGroup()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    val discovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - discovered0
    synchronized {
      val buildSpans = phases.filter(_._1 == "build")
      def inBuild(t: Long) = buildSpans.exists { case (_, s, e) => t >= s && t <= e }
      val planMs = queries.filterNot(q => inBuild(q._1)).map(_._2).sum
      val buildMs = r.phaseMs.getOrElse("build", 0.0)
      counts.foreach { case (k, v) => r.counts(k) = r.counts.getOrElse(k, 0.0) + v }
      r.counts("build.ms") = buildMs
      r.counts("plan.ms") = planMs
      r.counts("exec.ms") = Tracer.coveredMs(execJobs.toSeq, start, end).toDouble
      r.counts("codegen.compiles") = compiles.toDouble
      r.counts("codegen.compile_ms") = compileMs
      r.counts("sources.files_discovered") = discovered.toDouble
      r.counts("sources.write_ms") = r.phaseMs.getOrElse("write", 0.0)
      r.counts("sources.read_ms") = r.phaseMs.getOrElse("read", 0.0)
      span(opId, start, end, parent = opId.takeWhile(_ != '.'))
      opId = ""
    }
  }

  /** Forget what warm-up recorded; the spans kept are the timed passes'. */
  def reset(): Unit = synchronized { spans.clear() }

  /** Driver JVM state at the end of a pass. */
  def jvmState(): Map[String, Any] = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    def mb(p: String => Boolean) =
      pools.filter(x => p(x.getName)).map(_.getUsage.getUsed).sum / 1048576.0
    Map("jvm.metaspace_mb" -> mb(_ == "Metaspace"),
      "jvm.codecache_mb" -> mb(n => n.startsWith("CodeHeap") || n == "CodeCache"))
  }

  def writeSpans(path: String): Unit = synchronized {
    Files.write(Paths.get(path), spans.asJava)
  }
}
