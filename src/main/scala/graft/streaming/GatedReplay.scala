package graft.streaming

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.duration.{DurationLong, FiniteDuration}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The gated-replay recipe every oracle-gated streaming query shares, in one
  * place: a fixture is replayed as micro-batches into a real streaming
  * query, and the query's final output is hash-checked against a batch
  * oracle — the streaming analogue of checking a parallel engine against a
  * sequential one.
  *
  * One instance is one run of one gate. It owns the run's writer-unique
  * scratch dir (two concurrent runs of a gate never share input), the batch
  * loop (land a batch, `processAllAvailable`, stop the query in `finally`,
  * all under [[StreamingOps.withStreamShuffle]]), the watermark-flush
  * sentinel batches ([[GatedReplay.Flush]]) and the memory sink (run-unique
  * name, temp view dropped once the result is analyzed). The gate keeps what
  * is its own: the stream plan, the batch split, foreachBatch folds,
  * snapshot commits and its `require` pins. */
final class GatedReplay private (s: SparkSession, gate: String) {
  import GatedReplay._

  /** This run's scratch dir; removed by [[release]] (memory-sink runs do
    * so in [[result]]) or when the JVM exits. */
  val dir: File = scratch(gate)

  /** Landing dir the gate's input stream watches. */
  val in: String = s"$dir/in"
  new File(in).mkdirs()

  private val landed = new AtomicLong

  /** File stream over the landing dir, read with the fixture's `schema`. */
  def fileStream(schema: StructType): DataFrame =
    s.readStream.schema(schema).parquet(s"$in/*.parquet")

  /** Batch that lands `df` as the next `b<n>.parquet` under [[in]]. */
  def land(df: DataFrame): Batch =
    () => df.write.parquet(s"$in/b${landed.incrementAndGet()}.parquet")

  /** One batch per key range of `df`, split at the ascending `cuts`:
    * `key <= c1`, `c1 < key <= c2`, ..., `key > cN`. */
  def split(df: DataFrame, key: String, cuts: Seq[Long]): Seq[Batch] = {
    val k = expr(key)
    val edges = cuts.map(Option(_))
    (None +: edges).zip(edges :+ None).map { case (lo, hi) =>
      land(Seq(lo.map(k > _), hi.map(k <= _)).flatten.reduceOption(_ && _)
        .fold(df)(df.where))
    }
  }

  /** The two sentinel batches of `flush` for `plan`: `rows(ts)` builds one
    * batch's watermark movers at ts (reserved keys the gate filters from its
    * output), landed as one file so the stream never lists half a batch.
    * The margin rule is checked against the plan's own watermark delay. */
  def sentinels(plan: Dataset[_], flush: Flush, maxTs: Long)
      (rows: Long => DataFrame): Seq[Batch] = {
    val delay = watermarkDelay(plan)
    require(flush.step - delay >= flush.reach,
      s"sentinel margin too short: step ${flush.step} - watermark delay " +
        s"$delay < reach ${flush.reach}, the last window would never emit")
    Seq(1, 2).map(k => land(rows(maxTs + k * flush.step.toNanos).coalesce(1)))
  }

  /** Starts the query, lands each batch and drains it, stops the query. */
  def run(batches: Seq[Batch])(start: => StreamingQuery): StreamingQuery =
    StreamingOps.withStreamShuffle(s) {
      val q = start
      try batches.foreach { land => land(); q.processAllAvailable() }
      finally q.stop()
      q
    }

  /** Starts `plan` into a memory sink under a run-unique query name. */
  def toMemory(plan: Dataset[_], mode: String): StreamingQuery =
    plan.writeStream.outputMode(mode).format("memory")
      .queryName(dir.getName.replace('-', '_')).start()

  /** The stopped memory-sink query's rows as an analyzed frame. The sink's
    * temp view is dropped, so nothing stays registered in the session, and
    * the rows live in the sink, so the run dir is removed too. */
  def result(q: StreamingQuery): DataFrame =
    try s.table(q.name)
    finally { s.catalog.dropTempView(q.name); release() }

  /** Removes this run's scratch dir once nothing reads it any more. */
  def release(): Unit = delete(dir)

  /** [[run]] into a memory sink, returning the sink's rows. */
  def memory(plan: Dataset[_], mode: String, batches: Seq[Batch]): DataFrame =
    result(run(batches)(toMemory(plan, mode)))
}

object GatedReplay {
  /** Lands one input batch (a file write, a KV ingest, a snapshot commit). */
  type Batch = () => Unit

  /** Lands nothing: its `processAllAvailable` drains what the query already
    * sees (a pre-staged backlog, an AvailableNow run, a restart's resume). */
  val Drain: Batch = () => ()

  /** Root of every gate's scratch dirs. */
  val Root: File = new File("target/tmp/gates").getAbsoluteFile

  def apply(s: SparkSession, gate: String): GatedReplay =
    new GatedReplay(s, gate)

  /** Median/max prelude in one aggregation job: the `fractions` percentiles
    * of `key` (a SQL expression) as split points, plus its max as the
    * sentinel anchor. */
  final case class Prelude(cuts: Seq[Long], max: Long)

  def prelude(df: DataFrame, key: String, fractions: Double*): Prelude = {
    val row = df.selectExpr(fractions.map(f =>
      s"CAST(percentile_cont($f) WITHIN GROUP (ORDER BY $key) AS BIGINT)")
      :+ s"max($key)": _*).head()
    Prelude(fractions.indices.map(row.getLong), row.getLong(fractions.size))
  }

  /** Watermark flush of an append-mode gate: sentinel k lands at
    * maxTs + k·step (ts in epoch nanos); `reach` is how far past its last
    * event a row's emission can wait (window length, session gap, timer
    * offset, join range).
    *
    * Watermark eviction needs two post-data batches (batch N evicts against
    * the watermark left by N-1), and the engine sessions run no no-data
    * batches, so every real row must emit during sentinel 2's data batch:
    * sentinel1 − delay ≥ maxTs + reach, with delay the plan's watermark
    * delay. Below that margin the last window silently never emits, so
    * [[GatedReplay.sentinels]] rejects it. */
  final case class Flush(step: FiniteDuration, reach: FiniteDuration)

  /** The largest watermark delay declared in `plan`: with several
    * watermarks the global one follows the slowest (min policy). */
  def watermarkDelay(plan: Dataset[_]): FiniteDuration = {
    val delays = plan.queryExecution.analyzed.collect {
      case w: EventTimeWatermark => EventTimeWatermark.getDelayMs(w.delay)
    }
    require(delays.nonEmpty, "sentinel batches need a watermarked plan")
    delays.max.millis
  }

  private val runs = new AtomicLong

  /** This JVM's scratch root: pid + start time keep it unique, and dirs
    * left by JVMs that no longer run are swept on first use. */
  private lazy val jvmDir: File = {
    val me = ProcessHandle.current
    Option(Root.listFiles).foreach(_.foreach { d =>
      val pid = d.getName.split('-') match {
        case Array("jvm", p, _) => p.toLongOption
        case _ => None
      }
      if (pid.exists(p => !ProcessHandle.of(p).isPresent)) delete(d)
    })
    val d = new File(Root,
      s"jvm-${me.pid}-${me.info.startInstant.map(_.toEpochMilli).orElse(0L)}")
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(d)))
    d
  }

  /** A fresh writer-unique dir `<name>-<n>` under this JVM's scratch root. */
  def scratch(name: String): File = {
    val d = new File(jvmDir, s"$name-${runs.incrementAndGet()}")
    require(d.mkdirs(), s"cannot create scratch dir $d")
    d
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
