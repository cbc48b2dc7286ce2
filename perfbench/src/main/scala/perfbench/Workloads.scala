package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.queries.Catalog

/** The workloads. Op lists name catalog ops; `streaming_hourly_rollup`
  * is the benchmark's own call into `graft.streaming.Incremental`. */
final case class Workload(name: String, opNames: Seq[String]) {
  def ops: Seq[Main.Op] = opNames.map { n =>
    Workloads.ownOps.getOrElse(n, Main.Op(n, Catalog.byName(n).spark))
  }
}

object Workloads {
  /** The reference's daily + hourly DAG: sources and bronze, FK filter and
    * upserts, the hourly condense and streaming rollup, silver and gold,
    * and the reference's own ABSA analytics. Write-heavy. */
  val museumDaily = Workload("museum_daily", Seq(
    "src_csv_typed_scan", "pipe_fill_db_daily", "pipe_condense_deltas",
    "streaming_hourly_rollup", "view_app_review", "pipe_aspect_match",
    "pipe_absa_sentiment"))

  /** Compute- and shuffle-bound curation over the x10 corpus: native
    * functions, TopK pair operators, multimodal decode, ml iterations. */
  val curationX10 = Workload("curation_x10", Seq(
    "dedup_winnowing", "dedup_embedding_cosine", "dedup_audio_fingerprint",
    "ml_pagerank"))

  val all = Seq(museumDaily, curationX10)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n"))

  /** FillDbHourly's streaming form: one available-now run of the hourly
    * rollup over the event table, with a fresh checkpoint every call. */
  val streamingHourlyRollup = Main.Op("streaming_hourly_rollup", (s, dir) => {
    val base = new File(sys.props("java.io.tmpdir"), "perfbench_stream")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val src = graft.streaming.Incremental.readStream(s, s"$dir/landing/events", schema)
    graft.streaming.Incremental.runAvailableNow(
      graft.streaming.Incremental.windowedRollup(src, "1 hour", "2 hours"),
      new File(base, "checkpoint").getPath, new File(base, "out").getPath)
      .awaitTermination()
    s.read.parquet(new File(base, "out").getPath)
      .orderBy("window_start", "event_type")
  })

  val ownOps: Map[String, Main.Op] = Map(streamingHourlyRollup.name -> streamingHourlyRollup)

  /** DuckDB form of the benchmark's own op: append mode emits a window once
    * the watermark (max event time minus the 2-hour delay) passes its end. */
  val ownOracles: Map[String, String] = Map("streaming_hourly_rollup" ->
    """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
      |  sum(value) AS total_value, count(*) AS n_events
      |FROM events
      |GROUP BY 1, 2
      |HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
      |  <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
      |ORDER BY 1, 2""".stripMargin)
}
