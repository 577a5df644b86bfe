package graft

import org.apache.spark.sql.functions._

/** Dev probes over the registered queries, on the bench session.
  * Usage: tools/run.sh graft.Micro <sfDir> <mode> [query...], with
  * mode one of mdmblocks, count, pairdeg, buckets, stages, query
  * (each described at its block below).
  */
object Micro {
  private val Modes =
    Seq("mdmblocks", "count", "pairdeg", "buckets", "stages", "query")

  def main(args: Array[String]): Unit = {
    val mode = args.lift(1).getOrElse("")
    if (!Modes.contains(mode)) {
      System.err.println(
        s"usage: graft.Micro <sfDir> <${Modes.mkString("|")}> [query...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    // GraftSession, NOT a bare builder: the bench/verify path runs
    // with AQE + UTC + the engine extensions, and a probe session
    // missing those measures a DIFFERENT plan (observed: 5× on
    // ta_boilerplate_scrub from the missing AQE coalescing alone)
    val spark = GraftSession.local("graft-micro",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.register(spark)

    // MDM block-size adjudication: `Micro <dir> mdmblocks` — fine- vs
    // coarse-key block-size histogram plus the capped pair-space size,
    // the null model behind mdm_match_pairs_fine's derived-scale
    // timing trend (the fine block key — nation, segment, name-suffix
    // — is UNSHIFTED under ScaledCorpus replication, so blocks grow
    // ×copies and the pair-listing OUTPUT grows ~quadratically; work
    // ∝ output is the semantics, not a plan regression).
    if (mode == "mdmblocks") {
      import graft.queries.MdmQueries
      val ents = MdmQueries.entitiesFine(spark, sfDir).cache()
      val nEnts = ents.count()
      for ((label, keyCols) <- Seq(
          "coarse" -> MdmQueries.schema.blockCols,
          "fine" -> MdmQueries.fineSchema.blockCols)) {
        val sizes = ents.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("b")).select(col("b")).cache()
        val n = sizes.count()
        val qs = sizes.stat.approxQuantile("b", Array(0.5, 0.9, 1.0), 0.0)
        val pairSpace = sizes.select(
          sum((col("b") * (col("b") - 1) / 2).cast("long"))).first().getLong(0)
        println(f"$label%-6s entities=$nEnts blocks=$n " +
          f"p50=${qs(0)}%.0f p90=${qs(1)}%.0f max=${qs(2)}%.0f " +
          f"pair_space=$pairSpace")
        sizes.unpersist()
      }
      val outRows = SparkEntry.queries("mdm_match_pairs_fine")(spark, sfDir).count()
      println(s"mdm_match_pairs_fine output rows = $outRows")
    }

    // output-row null model: `Micro <dir> count <name>...` — a
    // derived-scale per-input-row ratio only means "superlinear WORK"
    // when the OUTPUT is ~linear; this prints the output row count so
    // the ratio can be scored against output growth (this probe found
    // the r13-era corpus's period-6 rotation manufacturing ×4551 LSH
    // pair output at 100× — see ScaledCorpus.permuted).
    if (mode == "count") {
      args.drop(2).foreach { n =>
        println(s"$n rows=${SparkEntry.queries(n)(spark, sfDir).count()}")
      }
    }

    // LSH pair-graph structure probe: `Micro <dir> pairdeg` — node
    // count, degree percentiles/max, and the oriented wedge count
    // Σ d(d−1)/2 (the triangle-census cost driver): a derived-scale
    // slowdown in graph queries can come from degree STRUCTURE, not
    // edge count, and this separates the two.
    if (mode == "pairdeg") {
      val pairs = SparkEntry.queries("dd_minhash_pairs")(spark, sfDir)
        .cache()
      val nPairs = pairs.count()
      val deg = pairs.select(col("id_1").as("id"))
        .unionAll(pairs.select(col("id_2").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d")).cache()
      val nNodes = deg.count()
      val qs = deg.stat.approxQuantile("d", Array(0.5, 0.9, 0.99, 1.0), 0.0)
      val wedges = deg.select(
        sum((col("d") * (col("d") - 1) / 2).cast("long"))).first().getLong(0)
      // cross-replica pairs (ids in different ScaledCorpus key-shift
      // bands) should be ≈0 on a well-perturbed scaled corpus
      val stride = graft.sources.ScaledCorpus.Stride
      val cross = pairs.filter(
        (col("id_1") / stride).cast("long") =!=
          (col("id_2") / stride).cast("long")).count()
      println(f"pairs=$nPairs cross_replica=$cross nodes=$nNodes " +
        f"deg_p50=${qs(0)}%.0f p90=${qs(1)}%.0f p99=${qs(2)}%.0f max=${qs(3)}%.0f " +
        f"wedges=$wedges")
    }

    // LSH band-bucket histogram: `Micro <dir> buckets` — bucket-size
    // percentiles + top sizes for the near-dup corpus's band table,
    // the input to the maxBucketSize cap decision (a bucket of b docs
    // is a b-clique in the candidate-pair graph: pair work b², census
    // work b³).
    if (mode == "buckets") {
      import graft.operators.TextDedup
      val sigs = TextDedup.minhashSignatures(
        graft.queries.LlmQueries.nearDupCorpus(spark, sfDir), "doc_id", "text")
      val sizes = TextDedup.lshBands(sigs, "doc_id")
        .groupBy("band_id", "band_hash").agg(count(lit(1)).as("b"))
        .select(col("b")).cache()
      val n = sizes.count()
      val qs = sizes.stat.approxQuantile("b", Array(0.5, 0.9, 0.99), 0.0)
      val top = sizes.orderBy(col("b").desc).limit(10)
        .collect().map(_.getLong(0))
      println(f"buckets=$n p50=${qs(0)}%.0f p90=${qs(1)}%.0f " +
        f"p99=${qs(2)}%.0f top10=${top.mkString(",")}")
    }

    // generic per-stage breakdown: `Micro <dir> stages <name>...` —
    // wall/tasks/shuffle bytes per stage for any registered query,
    // plus (for streaming queries) every micro-batch's durationMs
    // breakdown and state-operator commit times. The "where does the
    // wall-time actually go" probe the optimization loop starts from.
    if (mode == "stages") {
      val stages = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val dur = (si.completionTime.getOrElse(0L) -
            si.submissionTime.getOrElse(0L)) / 1000.0
          val m = si.taskMetrics
          if (dur >= 0.05)
            stages.put(si.stageId,
              f"stage=${si.stageId}%4d dur=$dur%7.2fs tasks=${si.numTasks}%4d " +
                f"sRead=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
                f"sWrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
                f"  ${si.name.take(90)}")
        }
      }
      val sq = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          import scala.jdk.CollectionConverters._
          val dm = p.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          val st = p.stateOperators.map(s =>
            s"${s.operatorName}:rows=${s.numRowsTotal},commit=${s.allUpdatesTimeMs + s.commitTimeMs}ms")
            .mkString(" ")
          println(f"  [stream ${p.name} batch=${p.batchId}] $dm  $st")
        }
      }
      spark.streams.addListener(sq)
      spark.sparkContext.addSparkListener(listener)
      args.drop(2).foreach { n =>
        stages.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"$n: total=${(System.nanoTime() - t0) / 1e9}%.2fs")
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        stages.asScala.toSeq.sortBy(_._1).foreach(s => println(s._2))
      }
    }

    // generic registered-query timing, `Micro <dir> query <name>...`,
    // for one-off scale probes without a full sweep. Each query runs
    // once untimed (first JIT and codegen), then 3 timed runs, each
    // printed: a fresh JVM's second run is still JIT warm-up, so a
    // min-of-2 reads warm-up as steady state. Each run also reports
    // total shuffle WRITE bytes (stage-summed via listener), the
    // exchange-volume axis behind e.g. the md5-vs-xx64 band-key
    // adjudication: wall time says which is faster, shuffle bytes say
    // WHY.
    if (mode == "query") {
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            shuffleBytes.addAndGet(
              sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        })
      // drain the bus before resetting / reading the counter, so no
      // run's bytes bleed into the next
      def run(n: String): (Double, Long) = {
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        (sec, shuffleBytes.get())
      }
      args.drop(2).foreach { n =>
        run(n)
        val runs = (1 to 3).map(_ => run(n))
        println(f"$n%-28s median=${runs.map(_._1).sorted.apply(1)}%.3fs " +
          f"shuffle_mb=${runs.head._2 / 1048576.0}%.1f " +
          f"runs=${runs.map(r => f"${r._1}%.2f").mkString(",")}")
      }
    }

    spark.stop()
  }
}
