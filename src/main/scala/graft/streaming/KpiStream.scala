package graft.streaming

import graft.airline.AirlineKpis
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming KPI pipeline: ONE source scan, ONE query, fan-out to all
  * KPI tables inside a single `foreachBatch` — restructuring the
  * reference's five concurrent `StreamingQuery`s that each re-scanned the
  * source and kept separate state (reference: src/main/scala/
  * Consumer.scala:60-107).
  *
  * Design:
  *  - each micro-batch is persisted once and aggregated per KPI into
  *    keyed *additive components* (counts / sums), merged into the store;
  *    running totals therefore live in the sink, not in unbounded
  *    streaming state — at 100 TB the state store never grows, and the
  *    shuffles are per-batch-sized, not stream-lifetime-sized;
  *  - a mandatory checkpoint (the reference configured none —
  *    restart replayed from scratch) plus the store's applied-batch
  *    watermark give exactly-once effects end-to-end;
  *  - batch ids are consistent across all KPI tables by construction
  *    (single query), which the reference's five independent queries could
  *    not guarantee.
  */
object KpiStream {

  /** Start the single fan-out query over an airline CSV segment stream.
    * `availableNow = true` drains all existing files then stops —
    * the test/replay trigger; false = live micro-batches on the 1 s
    * processing-time trigger (the only live caller of [[StreamDriver]]). */
  def start(
      spark: SparkSession,
      inputGlob: String,
      checkpointDir: String,
      store: ParquetKpiStore,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StreamDriver.start("graft_kpi_fanout",
      Tables.airlineCsvStream(spark, inputGlob, maxFilesPerTrigger), checkpointDir,
      availableNow = availableNow)(fanOut(store.merge(spark, _, _, _, _)))

  /** Drain-and-stop convenience for tests/replays. */
  def runToCompletion(
      spark: SparkSession,
      inputGlob: String,
      checkpointDir: String,
      store: ParquetKpiStore): Unit =
    start(spark, inputGlob, checkpointDir, store).awaitTermination()

  /** Same single-scan fan-out, delivered to a live JDBC database — the
    * reference's actual topology (stream → DB upsert), with additive
    * per-batch components and the store's transactional watermark giving
    * exactly-once DB state on at-least-once micro-batch delivery. */
  def startJdbc(
      spark: SparkSession,
      inputGlob: String,
      checkpointDir: String,
      store: JdbcKpiStore): StreamingQuery =
    StreamDriver.start("graft_kpi_fanout_jdbc",
      Tables.airlineCsvStream(spark, inputGlob), checkpointDir)(
      fanOut(store.merge(_, _, _, _)))

  /** The fan-out body both sinks share: the micro-batch is persisted
    * once and every KPI's per-batch components go to the store's
    * `merge(table, keys, components, batchId)`. */
  private def fanOut(merge: (String, Seq[String], DataFrame, Long) => Unit)(
      batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try AirlineKpis.all.foreach { case (table, transform, keys) =>
      merge(table, keys, transform(batch), batchId)
    } finally batch.unpersist()
  }
}
