package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timer: `runMain graft.QBench q_a q_b ...` times just
  * the named queries (same session config as Bench) against
  * SPARK_GRAFT_SF_DIR. Dev tool for plan iteration — the graded entry point
  * stays [[Bench]]. */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the streaming gates advance watermarks with explicit far-future
      // sentinel DATA batches (the recipe guarantees every emission happens
      // on a data batch), so the extra no-data micro-batch Spark plans after
      // every watermark advance is pure per-gate overhead: disabling it
      // halved every measured gate in isolation (r21: tumbling 6.12->3.03 s,
      // sessions 5.76->3.03, topk 8.06->4.30) with bit-identical results
      // (oracle 261/261 under this conf). Production latency trade-offs
      // do not apply to bounded gated replays.
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.ui.enabled", "false")
    // dev-only A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" layers extra
    // session confs for isolated measurements (never set by the driver)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_PROF=1: per-stage metrics, streaming per-batch duration
    // breakdown, and iterative-kernel per-round seconds on stdout. Dev-only
    // measurement plumbing (guide §1/§7) — the driver never sets it.
    if (sys.env.contains("SPARK_GRAFT_PROF")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val si = sc.stageInfo
            val dur = (for (s <- si.submissionTime; c <- si.completionTime)
              yield c - s).getOrElse(-1L)
            def acc(n: String): Long = si.accumulables.values
              .find(_.name.exists(_.contains(n))).flatMap(_.value)
              .map(_.toString.toLong).getOrElse(0L)
            println(f"PROF stage=${si.stageId}%4d dur=${dur}%6dms " +
              f"tasks=${si.numTasks}%4d " +
              f"shufR=${acc("shuffle.read.remoteBytesRead") +
                acc("shuffle.read.localBytesRead")}%10d " +
              f"shufW=${acc("shuffle.write.bytesWritten")}%10d " +
              f"spill=${acc("memoryBytesSpilled")}%8d " +
              f"gc=${acc("jvmGCTime")}%5d  ${si.name.take(90)}")
          }
        })
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            val p = e.progress
            println(s"PROF batch=${p.batchId} rows=${p.numInputRows} " +
              s"durationMs=${p.durationMs} state=${p.stateOperators.map(o =>
                s"(commitMs=${o.commitTimeMs} mem=${o.memoryUsedBytes})")
                .mkString(",")}")
          }
        })
      graft.operators.GraphOps.roundProbe = (k, r, s) =>
        println(f"PROF kernel=$k round=$r $s%.3f s")
    }
    graft.Tables(spark, sfDir, "region").count()
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"QBENCH $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
