package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.operators.Scd2
import graft.sources.{NioLocalFileSystem, NioLocalFs, Tables}
import graft.streaming.DimensionStream
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** The engine's `file://` ([[NioLocalFileSystem]], [[NioLocalFs]]): a
  * lake pass starts no process, and files keep the modes Hadoop's own
  * local file system gives them.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  /** Command lines of the processes this JVM started while `body` ran. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def mode(p: JPath): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("file:// resolves to the engine classes on both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(new URI("file:///"), conf).getClass === classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass.getName ===
      "graft.sources.NioRawLocalFileSystem")
    assert(AbstractFileSystem.get(new URI("file:///"), conf).getClass === classOf[NioLocalFs])
  }

  test("a lake pass (writes, atomic swap, maintain, read, one CDC batch) starts no process " +
    "and keeps Hadoop's modes") {
    val conf = graft.queries.Scd2Queries.conf
    val t0 = graft.functions.Functions.utcTimestamp("2024-01-01 00:00:00")
    val b = Tables.table(spark, sfDir, "supplier").select(
      col("s_suppkey"), col("s_name"), col("s_nationkey"),
      col("s_acctbal").cast("decimal(18,2)").as("bal"))
    val changed = b.filter(col("s_suppkey") % 10 === 0)
      .withColumn("bal", (col("bal") + 100).cast("decimal(18,2)"))
      .withColumn("change_ts", lit(graft.functions.Functions.utcTimestamp("2024-02-01 00:00:00")))
    /** One pass under a new root; the merged dimension's row count. */
    def pass(root: String): Long = {
      val lake = s"$root/lake"
      Tables.writePartitioned((1 to 200).map(i => (i.toLong, i % 3)).toDF("k", "part"),
        lake, Seq("part"))
      Scd2.writeAtomic(Scd2.initialLoad(b, conf, t0), s"$root/dim")
      Tables.maintain(spark, lake, targetFileBytes = 1L << 20,
        sortCols = Seq("k"), statsCols = Seq("k")).collect()
      assert(Tables.parquet(spark, lake).count() === 200L)
      DimensionStream.scd2MergeAvailableNow(
        spark, s"$root/feed", s"$root/dim", conf, queryName = "localfs_cdc").count()
    }
    val roots = Seq.fill(2)(Files.createTempDirectory("localfs").toString)
    roots.foreach(r => DimensionStream.writeFeedFile(changed, s"$r/feed", "b0", 1700000000000L))
    // the first pass takes the JVM's one-time process starts (Spark's
    // executor metrics ask `getconf PAGESIZE` once); the second is recorded
    assert(pass(roots.head) === b.count() + changed.count())
    var merged = 0L
    val started = processesStarted { merged = pass(roots(1)) }
    assert(started.isEmpty, started.mkString("\n"))
    assert(merged === b.count() + changed.count())

    // every file and dir has the mode Hadoop's local file system gives
    // it: its defaults under Hadoop's umask
    val umask = FsPermission.getUMask(spark.sessionState.newHadoopConf())
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    val root = roots(1)
    Seq(s"$root/lake", s"$root/lake_file_stats", s"$root/dim", s"$root/dim.checkpoint")
        .foreach { top =>
      val s = Files.walk(java.nio.file.Paths.get(top))
      try s.iterator.asScala.foreach { p =>
        assert(mode(p) === (if (Files.isDirectory(p)) dirMode else fileMode), p)
      } finally s.close()
    }
  }
}
