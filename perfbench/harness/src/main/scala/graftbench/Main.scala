package graftbench

import graft.SparkEntry
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, expr}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable.ArrayBuffer

/** Runs one benchmark workload in this JVM and writes the raw record to
  * `<out>/result.json`; `perfbench/run.py` turns it into metrics.
  *
  * Every op is one engine query from `SparkEntry.queries`, timed from
  * outside the engine as two spans: `construct` (calling the query function,
  * which builds the DataFrame) and `action` (writing the result as parquet
  * to `<out>/<name>`, which the output check reads back). With `--trace 1`
  * a [[Trace]] listener also records jobs, stages, tasks and Catalyst
  * phases.
  *
  * Arguments (all required unless noted):
  *   --data DIR       input tables, one `<table>.parquet` each
  *   --out DIR        output directory
  *   --cores N        local[N] and N shuffle partitions
  *   --ops a,b,..     the timed ops, or `relational` for every query of
  *                    `graft.queries.Relational`
  *   --seed N         shuffles the timed ops into their run order
  *   --passes P       passes over the run order
  *   --count N        at most N timed ops (optional)
  *   --warm a,b,..    ops run once untimed before timing (optional)
  *   --synthetic-warm N  rounds of the synthetic warm-up below (optional)
  *   --trace 0|1
  *   --op-timeout S   an op running longer is cancelled and fails
  */
object Main {

  final case class Op(id: Int, name: String, start: Long, cEnd: Long,
      end: Long, compileNs: Long, compiles: Long, error: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val out = Paths.get(a("out")).toAbsolutePath
    val data = Paths.get(a("data")).toAbsolutePath.toString
    val cores = a("cores").toInt
    val ops = a("ops") match {
      case "relational" => graft.queries.Relational.queries.keys.toSeq
      case list => list.split(",").toSeq.filter(_.nonEmpty)
    }
    val order = new scala.util.Random(a("seed").toLong).shuffle(ops.sorted)
    val warm = a.getOrElse("warm", "").split(",").toSeq.filter(_.nonEmpty)
    val passes = a("passes").toInt
    val count = a.get("count").map(_.toInt).getOrElse(Int.MaxValue)
    val synthWarm = a.getOrElse("synthetic-warm", "0").toInt
    val traced = a("trace") == "1"
    val opTimeoutS = a("op-timeout").toLong
    val work = out.resolveSibling(out.getFileName.toString + "-spark")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val trace = new Trace
    if (traced) {
      sc.addSparkListener(trace)
      spark.listenerManager.register(trace)
    }
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val names = (order ++ warm).distinct
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")

    // Engine-independent JVM warm-up on synthetic rows: the first parquet
    // read and write, aggregate, join, window, set operation and Janino
    // compile in a JVM cost class loading and JIT time that would otherwise
    // land on whichever ops run first.
    val warmPath = work.resolve("warm").toString
    for (_ <- 1 to synthWarm) {
      spark.range(5000).selectExpr("id", "id % 13 AS k",
          "CAST(id % 101 AS DOUBLE) AS v", "concat('s', CAST(id % 7 AS STRING)) AS s",
          "timestamp_micros(id * 1000000) AS ts")
        .write.mode("overwrite").parquet(s"$warmPath/t")
      val t = spark.read.parquet(s"$warmPath/t")
      val keys = t.where("id < 50").select("k", "s").distinct()
      Seq(
        t.groupBy("k", "s")
          .agg(expr("sum(v) AS sv"), expr("count(DISTINCT id) AS n"),
            expr("max(ts) AS mt"), expr("collect_set(s) AS cs"))
          .join(t, Seq("k", "s"))
          .where("v > 10")
          .selectExpr("*", "rank() OVER (PARTITION BY k ORDER BY v DESC, id) AS r",
            "sum(v) OVER (PARTITION BY s ORDER BY id " +
              "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS rs")
          .orderBy("k", "r"),
        t.join(broadcast(keys), Seq("k", "s"), "left_semi")
          .union(t.join(keys, Seq("k", "s"), "left_anti")),
        t.select("k", "s").except(keys).intersect(t.select("k", "s")),
        t.groupBy("k").pivot("s").agg(expr("avg(v)")).orderBy("k").limit(5),
        t.rollup("k", "s").agg(expr("percentile_approx(v, 0.5) AS p")))
        .zipWithIndex.foreach { case (df, i) =>
          df.write.mode("overwrite").parquet(s"$warmPath/o$i")
        }
    }

    val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "op-watchdog"); t.setDaemon(true); t }
    var nextId = 0
    def runOp(name: String): Op = {
      val id = nextId
      nextId += 1
      val group = s"op-$id"
      sc.setJobGroup(group, name, interruptOnCancel = true)
      val cancel = watchdog.schedule(
        (() => sc.cancelJobGroup(group)): Runnable, opTimeoutS, TimeUnit.SECONDS)
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      var t1 = t0
      val err = try {
        val df = queries(name)(spark, data)
        t1 = System.nanoTime()
        df.write.mode("overwrite").parquet(out.resolve(name).toString)
        null
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          val timedOut = System.nanoTime() - t0 >= opTimeoutS * 1000000000L
          (if (timedOut) "timeout: " else "") +
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      }
      val t2 = System.nanoTime()
      cancel.cancel(false)
      sc.clearJobGroup()
      Op(id, name, t0, t1, t2, CodeGenerator.compileTime - cg0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0, err)
    }

    val warmOps = warm.map(runOp)
    // epoch-ms clock for every recorded span, to line up with Spark's
    // listener timestamps
    val baseNs = System.nanoTime()
    val baseMs = System.currentTimeMillis().toDouble
    def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
    val timedT0 = System.nanoTime()
    val timed = ArrayBuffer.empty[Op]
    Iterator.fill(passes)(order).flatten.take(count)
      .foreach(n => timed += runOp(n))
    val timedT1 = System.nanoTime()
    if (traced) org.apache.spark.graftbench.Bus.flush(sc)

    import Json._
    def opJson(o: Op): String = obj("id" -> num(o.id), "name" -> str(o.name),
      "start" -> num(ms(o.start)), "construct_end" -> num(ms(o.cEnd)),
      "end" -> num(ms(o.end)), "compile_ns" -> num(o.compileNs),
      "compiles" -> num(o.compiles),
      "error" -> (if (o.error == null) "null" else str(o.error)))
    val result = obj(
      "timed_start" -> num(ms(timedT0)),
      "timed_end" -> num(ms(timedT1)),
      "order" -> arr(order.map(str)),
      "warm" -> arr(warmOps.map(opJson)),
      "ops" -> arr(timed.map(opJson)),
      "peak_rss_kb" -> num(peakRssKb()),
      "trace" -> (if (traced) trace.json else "null"))
    Files.write(out.resolve("oracle.json"), obj(names.flatMap(n =>
      oracles.get(n).map(n -> str(_))): _*).getBytes(UTF_8))
    Files.write(out.resolve("result.json"), result.getBytes(UTF_8))
    watchdog.shutdownNow()
    spark.stop()
  }

  /** Peak resident set of this JVM (`VmHWM`), in KiB. */
  private def peakRssKb(): Long = {
    val line = scala.io.Source.fromFile("/proc/self/status")
    try line.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally line.close()
  }
}
