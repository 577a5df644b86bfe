package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One benchmark run inside one JVM: set up a `GraftSession` over the
  * workload's inputs, warm up, run the timed passes, then write the
  * outputs the checker compares and a JSON run record.
  *
  * Usage: Harness --workload W --data DIR --root DIR --seed N --trace 0|1
  *                --cpus N --warm N --timed N --out FILE [workload args]
  *
  * A pass runs every operation of the workload once, in an order drawn
  * once per run from the seed. A run makes a fixed number of warm-up and
  * timed passes, all running the same plans, so that every run does the
  * same work. With `--trace 1` a [[Tracer]] records spans and counts
  * around every call into the engine.
  */
object Harness {

  /** One operation's record within a pass. */
  final class OpRecord(val name: String) {
    var wallMs = 0.0
    var failed: Option[String] = None
    val phaseMs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  /** What an operation sees: the session plus the phase and write
    * wrappers that time its calls into each layer.
    */
  final class Ctx(val spark: SparkSession, tracer: Option[Tracer]) {
    private var current: OpRecord = _
    def begin(r: OpRecord): Unit = current = r

    /** Time `body` as phase `name` of the current operation. */
    def phase[T](name: String)(body: => T): T = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.PhaseKey, name)
      val t = System.nanoTime
      val start = System.currentTimeMillis
      try body
      finally {
        val ms = (System.nanoTime - t) / 1e6
        current.phaseMs(name) = current.phaseMs.getOrElse(name, 0.0) + ms
        tracer.foreach(_.phase(name, start, System.currentTimeMillis))
        sc.setLocalProperty(Tracer.PhaseKey, null)
      }
    }

    /** A sink call: timed as phase "write"; a traced run also counts
      * the data files and bytes the path holds afterwards.
      */
    def write(path: String)(body: => Unit): Unit = {
      phase("write")(body)
      tracer.foreach { _ =>
        val (files, bytes) = Lake.footprint(path)
        add("sources.files_written", files.toDouble)
        add("sources.output_mb", bytes / 1048576.0)
      }
    }

    def add(key: String, v: Double): Unit =
      current.counts(key) = current.counts.getOrElse(key, 0.0) + v
  }

  final case class Op(name: String, run: Ctx => Unit)

  /** A workload: its operations (already in run order), the untimed
    * reset before each pass, and the outputs the checker reads.
    */
  trait Workload {
    def ops: Seq[Op]
    def beforePass(spark: SparkSession): Unit = ()
    /** Pass-level counts a traced run records after each pass. */
    def passCounts(): Map[String, Double] = Map.empty
    /** Outputs the checker reads that the passes did not write,
      * written after the timed passes.
      */
    def writeCheck(spark: SparkSession, checkDir: String): Unit
  }

  /** Registered queries, each run to completion through the noop sink.
    * After the timed passes each result is written once more, as
    * parquet, for the checker.
    */
  final class QueryWorkload(dir: String, names: Seq[String]) extends Workload {
    val ops: Seq[Op] = names.map { n =>
      Op(n, ctx => {
        val df = ctx.phase("build")(SparkEntry.queries(n)(ctx.spark, dir))
        ctx.phase("exec")(df.write.format("noop").mode("overwrite").save())
      })
    }
    def writeCheck(spark: SparkSession, checkDir: String): Unit = {
      names.foreach { n =>
        ntz(SparkEntry.queries(n)(spark, dir)).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$n")
      }
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json.render(oracle))
    }
  }

  /** Timestamps as naive micros, as the DuckDB oracle writes them. */
  def ntz(df: DataFrame): DataFrame = df.select(df.schema.fields.toIndexedSeq.map { f =>
    if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
    else col(f.name)
  }: _*)

  val interactiveQueries: Seq[String] = graft.Bench.headline

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val (workload, data, root) = (a("workload"), a("data"), a("root"))
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt

    val runStartMs = System.currentTimeMillis
    val sessionT = System.nanoTime
    val spark = GraftSession.local("perfbench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime - sessionT) / 1e9
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, tracer)

    val rng = new scala.util.Random(seed)
    val w: Workload = workload match {
      case "interactive_mix" => new QueryWorkload(data, rng.shuffle(interactiveQueries))
      case "lake_writes" =>
        new Lake(data, s"$root/lake", a("prune_lo").toLong, a("prune_hi").toLong)
      case other => sys.error(s"unknown workload $other")
    }

    def runPass(index: Int, timed: Boolean): Map[String, Any] = {
      w.beforePass(spark)
      val passStart = System.currentTimeMillis
      val (t, cpu0, gc0) = (System.nanoTime, processCpuNs(), gcMs())
      val records = w.ops.map { op =>
        val r = new OpRecord(op.name)
        ctx.begin(r)
        tracer.foreach(_.beginOp(s"p$index.${op.name}"))
        val o = System.nanoTime
        val os = System.currentTimeMillis
        try op.run(ctx)
        catch { case e: Exception => r.failed = Some(s"${e.getClass.getName}: ${e.getMessage}") }
        r.wallMs = (System.nanoTime - o) / 1e6
        tracer.foreach(_.endOp(r, os, System.currentTimeMillis))
        r
      }
      val wallS = (System.nanoTime - t) / 1e9
      tracer.foreach(_.span(s"p$index", passStart, System.currentTimeMillis, parent = "run"))
      Map("index" -> index, "timed" -> timed, "wall_s" -> wallS,
        "cpu_s" -> (processCpuNs() - cpu0) / 1e9, "gc_s" -> (gcMs() - gc0) / 1e3,
        "ops" -> records.map { r =>
          Map("name" -> r.name, "wall_ms" -> r.wallMs, "failed" -> r.failed.orNull,
            "phases_ms" -> r.phaseMs.toMap, "counts" -> r.counts.toMap)
        }) ++ tracer.map(_.jvmState() ++ w.passCounts()).getOrElse(Map.empty)
    }

    val warm = (0 until a("warm").toInt).map(i => runPass(i, timed = false))
    tracer.foreach(_.reset())
    val setupEndMs = System.currentTimeMillis

    val passes = (0 until a("timed").toInt).map(i => runPass(warm.size + i, timed = true))
    val mem = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed

    val checkDir = s"$root/check"
    Files.createDirectories(Paths.get(checkDir))
    val checkT = System.nanoTime
    val checkError = try { w.writeCheck(spark, checkDir); null }
    catch { case e: Exception => s"${e.getClass.getName}: ${e.getMessage}" }
    val checkWriteS = (System.nanoTime - checkT) / 1e9

    val record = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "session_start_s" -> sessionStartS, "setup_end_ms" -> setupEndMs,
      "nonheap_mb" -> mem / 1048576.0, "warm_passes" -> warm,
      "passes" -> passes, "check_error" -> checkError, "check_write_s" -> checkWriteS,
      "order" -> w.ops.map(_.name))
    Files.writeString(Paths.get(a("out")), Json.render(record))
    tracer.foreach { t =>
      t.span("run", runStartMs, System.currentTimeMillis, parent = "")
      t.writeSpans(a("out").stripSuffix(".json") + ".spans.jsonl")
    }
    spark.stop()
  }
}

/** Minimal JSON rendering for the run record (maps, sequences, numbers,
  * strings, booleans, null).
  */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
