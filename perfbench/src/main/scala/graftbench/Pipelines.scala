package graftbench

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.streaming.{Event, StreamOps}

/** One streaming pipeline of the `stream_replay` workload.
  *
  * @param build the streaming frame over the replayed events; `wm` is the
  *              watermark delay as a Spark interval string. The output check
  *              (perfbench/checks.py) computes the rows it must emit from
  *              the on-time events in DuckDB. */
final case class Pipeline(name: String, build: (Dataset[Event], String) => DataFrame)

object Pipelines {
  val all: Seq[Pipeline] = Seq(
    // exact redeliveries of an at-least-once log, dropped within the watermark
    Pipeline("dedup", (ds, wm) =>
      StreamOps.dedupWithinWatermark(ds.toDF(), wm, Seq("user_id", "ts", "event_type", "value"))
        .select("user_id", "ts", "event_type", "value")),
    // views against the purchases of the same user up to six hours later
    Pipeline("interval_join", (ds, wm) => {
      val events = ds.toDF()
      StreamOps.streamStreamIntervalJoin(events.filter(col("event_type") === "view"),
          events.filter(col("event_type") === "purchase"), wm, wm, "6 hours")
        .select(col("l.user_id").as("user_id"), col("l.ts").as("view_ts"),
          col("r.ts").as("purchase_ts"), col("r.value").as("purchase_value"))
    }))
}
