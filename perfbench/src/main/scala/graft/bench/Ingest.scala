package graft.bench

import graft.Tables
import graft.sources.{HFileOps, WalOps}
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The cells ingest pipeline, probed in the traced run: the events fixture
  * staged as [[Ingest.Splits]] micro-batch files and drained with
  * `Trigger.AvailableNow` through `StreamOps.cellsStream` into the HFile
  * bulk-load sink, then into the WAL ingest sink. The first drain warms the
  * path; the second is measured through each micro-batch's
  * `StreamingQueryProgress` and read back against `Tables.cells`.
  */
final class Ingest(spark: SparkSession, data: String, dir: String) {
  import Ingest.Splits

  private def events: DataFrame = StreamOps.eventsStream(spark, data, splits = Splits)

  private def walCells(df: DataFrame): DataFrame = df.select(
    col("event_id").as("seq"),
    concat(Tables.pad(col("user_id")), lit(":"), Tables.pad(col("event_id"))).as("rowkey"),
    lit("e").as("cf"), col("event_type").as("qualifier"),
    Tables.tsMicros(col("ts")).as("ts"), col("value"),
    when(col("event_id") % 97 === 0, "delete").otherwise("put").as("op"))

  private def hfileDir(k: Int) = s"$dir/drain$k/hfile"
  private def walDir(k: Int) = s"$dir/drain$k/wal"

  /** Drains both sinks once; returns the progress of every micro-batch. */
  private def drain(k: Int): Seq[StreamingQueryProgress] = {
    def run(q: StreamingQuery) = { q.awaitTermination(); q.recentProgress.toSeq }
    run(StreamOps.hfileBulkLoadSink(StreamOps.cellsStream(events), hfileDir(k),
      s"$dir/drain$k/hfile_ckpt").start()) ++
      run(StreamOps.walIngestSink(walCells(events), walDir(k), s"$dir/drain$k/wal_ckpt").start())
  }

  /** The `streaming.*` metrics of one measured drain, and the outcome of
    * each output check (`None` when it passed). */
  def probe(): (Seq[(String, (Double, String))], Seq[Option[String]]) = {
    drain(0)
    val ps = drain(1)
    def d(p: StreamingQueryProgress, k: String) = p.durationMs.getOrDefault(k, 0L).toDouble
    val trig = ps.map(d(_, "triggerExecution"))
    val rows = Tables.events(spark, data).count().toDouble * 2
    val metrics = Seq(
      "streaming.batches" -> (ps.size.toDouble, "count"),
      "streaming.batch_ms_p50" -> (Stats.median(trig), "ms"),
      "streaming.batch_ms_p90" -> (Stats.quantile(trig, 0.9), "ms"),
      "streaming.add_batch_ms" -> (ps.map(d(_, "addBatch")).sum, "ms"),
      "streaming.commit_ms" -> (ps.map(p => d(p, "commitOffsets") + d(p, "walCommit")).sum, "ms"),
      "streaming.rows_s" -> (rows / math.max(trig.sum / 1000, 1e-3), "rows/s"))
    val batches =
      if (ps.size == 2 * Splits) None
      else Some(s"cells ingest: ${ps.size} micro-batches, expected ${2 * Splits}")
    (metrics, batches +: readBack(1))
  }

  /** Read-back of drain `k` against the batch cells view: the HFile store
    * raw, and the WAL through recovery with nothing flushed. */
  private def readBack(k: Int): Seq[Option[String]] = {
    val want = Check.digest(Tables.cells(spark, data))
    val empty = s"$dir/drain$k/store"
    new java.io.File(empty).mkdirs()
    Seq("hfile" -> HFileOps.read(spark, s"${hfileDir(k)}/batch-*"),
        "wal" -> WalOps.recover(spark, walDir(k), empty)).map { case (sink, df) =>
      val got = Check.digest(df.select("rowkey", "cf", "qualifier", "ts", "value", "op"))
      if (got == want) None
      else Some(s"cells ingest $sink read-back: rows ${got._1} digest ${got._2}, " +
        s"Tables.cells has rows ${want._1} digest ${want._2}")
    }
  }
}

object Ingest {
  /** Micro-batch files the events are staged into: each drain of a sink
    * runs this many micro-batches. */
  val Splits = 4
}
