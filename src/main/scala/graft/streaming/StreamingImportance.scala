package graft.streaming

import graft.operators.Importance
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DSIR importance scoring — the ingest-time form of
  * [[graft.operators.Importance]]: the quantized log-ratio table is fit
  * ONCE from a static target sample + raw reference corpus (the "train
  * the selector offline" step), then every arriving micro-batch of
  * documents is scored against it and admitted iff score_q ≥ the
  * threshold ("does this new crawl shard look like the target
  * distribution?").
  *
  * The ratio table is ≤ 16^hexChars rows; [[start]] caches it so each
  * batch joins against memory. Per-batch cost is one narrow feature
  * pass over the batch plus a broadcast join — independent of stream
  * history (nothing accumulates; contrast with [[StreamingLshDedup]]).
  * Because scoring is stateless given the table, batch and streaming
  * scores are IDENTICAL integers — the parity spec asserts equality
  * with [[Importance.importanceScores]] on the same rows, the same
  * guarantee the curation restart spec relies on.
  *
  * Exactly-once: batchId marker files make the scored append idempotent
  * under micro-batch replay. */
class StreamingImportance(
    scoredDir: String,
    minScoreQ: Long,
    hexChars: Int = 2,
    salt: String = "dsir") extends Serializable {

  private def fs(spark: SparkSession) =
    new Path(scoredDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def marker(batchId: Long) = new Path(s"$scoredDir/_applied_$batchId")

  /** Score one batch against the (cached) ratio table and append
    * (doc_id, n_feats, score_q, admit) to `scoredDir`. */
  def processBatch(
      spark: SparkSession,
      ratios: DataFrame,
      batch: DataFrame,
      batchId: Long): Unit = {
    val f = fs(spark)
    if (f.exists(marker(batchId))) return // replay after recovery: no-op
    Importance.importanceScores(batch, "doc_id", "text", ratios, hexChars, salt)
      .withColumn("admit", col("score_q") >= minScoreQ)
      .write.mode(SaveMode.Append).parquet(s"$scoredDir/data")
    f.create(marker(batchId), true).close()
  }

  /** Hook a document stream (columns doc_id, text) to be scored against
    * the table fit from `target` vs `raw` (both static). */
  def start(
      spark: SparkSession,
      target: DataFrame,
      raw: DataFrame,
      textCol: String,
      docStream: DataFrame,
      checkpointDir: String): StreamingQuery = {
    val cachedRatios =
      Importance.logRatioTable(target, raw, textCol, hexChars, salt).persist()
    val query = StreamDriver.start("graft_stream_importance", docStream, checkpointDir) {
      (batch: DataFrame, batchId: Long) => processBatch(spark, cachedRatios, batch, batchId)
    }
    // lifecycle: the ratio cache lives exactly as long as the query
    val release = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          cachedRatios.unpersist()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(release)
    query
  }
}
