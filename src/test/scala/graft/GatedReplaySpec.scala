package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.streaming.GatedReplay
import graft.streaming.GatedReplay.Flush

/** The shared streaming-gate harness: its sentinel-margin rule, writer-unique
  * scratch dirs under concurrent runs of one gate, and a run that leaves no
  * memory-sink view or active query behind. */
class GatedReplaySpec extends SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  test("a flush below the margin rule is a declaration error") {
    val r = GatedReplay(spark, "margin_rule")
    // the tumbling gates' plan shape: a 1h watermark, read from the plan
    val plan = r.fileStream(new StructType().add("t", TimestampType))
      .withWatermark("t", "1 hour")
    assert(GatedReplay.watermarkDelay(plan) == 1.hour)
    val rows = (ts: Long) => spark.range(1).select(lit(ts).as("ts"))
    // the r21 margin: sentinels at +1h/+2h with a 1h delay and 1h windows
    // leave the last window's rows unemitted
    val e = intercept[IllegalArgumentException](
      r.sentinels(plan, Flush(1.hour, 1.hour), 0L)(rows))
    assert(e.getMessage.contains("sentinel margin too short"))
    // the tumbling gates' declared step clears it: 3h - 1h >= 1h
    assert(r.sentinels(plan, Flush(3.hours, 1.hour), 0L)(rows).size == 2)
    r.release()
    assert(!r.dir.exists)
  }

  test("two concurrent runs of one gate both return the oracle result") {
    // q_stream_tumbling's oracle is the batch tumbling aggregate's
    val oracle = rows(SparkEntry.queries("q_event_tumbling")(spark, sf))
    // own sessions: each run scopes its shuffle conf to itself
    val runs = Seq.fill(2)(spark.newSession()).map { ss =>
      Future(rows(SparkEntry.queries("q_stream_tumbling")(ss, sf)))
    }
    runs.foreach(f => assert(Await.result(f, 10.minutes) == oracle))
  }

  test("a gate run leaves no memory-sink view and no active query") {
    val ss = spark.newSession()
    val out = SparkEntry.queries("q_stream_tumbling")(ss, sf)
    val views = ss.catalog.listTables().collect().toSeq
      .filter(t => t.isTemporary && t.name.startsWith("q_stream_"))
    assert(views.isEmpty, s"leaked memory-sink views: $views")
    assert(ss.streams.active.isEmpty)
    // the result stays readable after its view is dropped
    assert(out.count() > 0)
  }
}
