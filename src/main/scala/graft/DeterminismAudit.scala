package graft

/** Registry-wide partitioning-invariance audit.
  *
  * Runs every `SparkEntry.queries` entry twice — under deliberately
  * different parallelism shapes (shuffle partition count AND input
  * split size, both runtime confs) — and compares result multisets.
  * The driver's DuckDB oracle pins values at ONE fixed partitioning;
  * an operator that leaks partition layout into its output (a first()
  * without ordering, a tie broken by arrival order, a non-commutative
  * fold) can be oracle-green and still nondeterministic on a cluster,
  * where partition counts are never the same twice. At 100 TB this is
  * the difference between a reproducible pipeline and one whose reruns
  * silently disagree.
  *
  * Usage: tools/run.sh graft.DeterminismAudit [sfDir] [names...]
  * Prints one line per mismatch and a PASS/FAIL summary; exits 1 on
  * any mismatch. With DETERMINISM_DUMP=<file>, also writes one
  * `name<TAB>fingerprint` line per query — two dumps from sessions
  * with different SESSION confs (e.g. spark.sql.ansi.enabled on/off
  * via -D system properties) diff to an ANSI-sensitivity report, the
  * cross-config axis this main's in-process shapes can't cover.
  */
object DeterminismAudit {

  private def md5(parts: Iterable[String]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(s => d.update(s.getBytes("UTF-8")))
    d.digest().map("%02x".format(_)).mkString
  }

  /** Instant-stable row rendering: java.sql.Timestamp.toString formats
    * in the JVM DEFAULT timezone, so the same instant prints
    * differently under -Duser.timezone=X — a false divergence the
    * fingerprint must not see (the engine pins the SESSION timezone;
    * the JVM default is explicitly allowed to vary). Render timestamps
    * as epoch millis+nanos instead. java.sql.Date round-trips its
    * calendar fields through the same default TZ it was built with, so
    * its toString IS stable; everything else renders recursively.
    */
  private def render(v: Any): String = v match {
    case null                    => "NULL"
    case t: java.sql.Timestamp   => s"ts:${t.getTime}.${t.getNanos}"
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("[", ",", "]")
    case s: scala.collection.Seq[_]  => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("{", ",", "}")
    case b: Array[Byte]          => b.map("%02x".format(_)).mkString
    case other                   => other.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = GraftSession.local("graft-determinism", 8)
    spark.sparkContext.setLogLevel("ERROR")

    // (shuffle partitions, input split size): prime vs default-ish
    // counts so no accidental alignment, small vs large splits so the
    // scan partitioning differs too
    val shapes = Seq((3, "8m"), (13, "128m"))

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val dump = sys.env.get("DETERMINISM_DUMP").map(p =>
      new java.io.PrintWriter(new java.io.FileWriter(p)))
    var failures = 0
    var errored = 0
    selected.foreach { case (name, fn) =>
      val prints = shapes.map { case (parts, split) =>
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
        try {
          val rows = fn(spark, sfDir).collect().map(render).sorted
          md5(rows) + s" rows=${rows.length}"
        } catch { case scala.util.control.NonFatal(e) => s"ERROR: ${e.getMessage}" }
      }
      dump.foreach(w => w.println(s"$name\t${prints.head}"))
      // a query that THROWS under both shapes fingerprints identically
      // ("ERROR: msg" twice) — that is not invariance, it is a broken
      // query; count it separately and fail the audit, never let it
      // inflate the pass count
      if (prints.exists(_.startsWith("ERROR:"))) {
        errored += 1
        println(s"[determinism] ERRORED $name: ${prints.head.take(200)}")
      } else if (prints.distinct.size != 1) {
        failures += 1
        println(s"[determinism] MISMATCH $name: " +
          shapes.zip(prints).map { case ((p, s), h) => s"($p,$s)→$h" }
            .mkString(" vs "))
      }
    }
    dump.foreach(_.close())
    println(s"[determinism] ${selected.size - failures - errored}/" +
      s"${selected.size} invariant across ${shapes.mkString(", ")} " +
      s"($errored errored — errors FAIL the audit)")
    spark.stop()
    if (failures > 0 || errored > 0) sys.exit(1)
  }
}
