package graft

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Runs a block under a wall-clock cap: Bench's timed queries and
  * ScaleOracle's capped checks.
  *
  * The block runs on its own daemon thread, named `group`, whose Spark
  * jobs carry the job group `group`. A block that outlives the cap is
  * stopped: active streams are stopped (a streaming query blocks in
  * awaitTermination, not in a job, and ignores a group cancel), and the
  * group is cancelled and the thread interrupted every 500 ms until the
  * thread ends (at most 30 s), then cancelled once more. A group cancel
  * reaches only the jobs running at that instant, and the block submits
  * its next job right after, so a single cancel does not stop it.
  */
object Capped {

  sealed trait Outcome[+T]
  final case class Done[T](value: T) extends Outcome[T]
  final case class Failed(error: Throwable) extends Outcome[Nothing]
  case object CapExceeded extends Outcome[Nothing]

  def run[T](spark: SparkSession, group: String, capSec: Int)(body: => T): Outcome[T] = {
    val sc = spark.sparkContext
    val out = new AtomicReference[Outcome[T]]()
    val runner = new Thread(() => {
      // the job group is thread-local: set it on the thread that submits
      sc.setJobGroup(group, group, interruptOnCancel = true)
      out.set(Done(body))
    }, group)
    runner.setDaemon(true)
    runner.setUncaughtExceptionHandler((_, e) => out.set(Failed(e)))
    runner.start()
    runner.join(math.max(1L, capSec * 1000L)) // join(0) would wait forever
    if (!runner.isAlive) out.get
    else {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      val drainBy = System.nanoTime + 30L * 1000000000L
      while (runner.isAlive && System.nanoTime < drainBy) {
        sc.cancelJobGroup(group)
        runner.interrupt()
        runner.join(500L)
      }
      sc.cancelJobGroup(group)
      CapExceeded
    }
  }

  /** A failure's first message line, at most 160 chars, as artifacts
    * record it.
    */
  def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.nextOption().getOrElse("").take(160)
}
