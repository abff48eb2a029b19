package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one driver every `foreachBatch` stream in graft starts through:
  * a stream, a name, a mandatory checkpoint, and the per-micro-batch
  * function that folds each batch into its sink (reference topology:
  * file stream → foreachBatch → idempotent upsert,
  * src/main/scala/Consumer.scala:60-107).
  *
  * The trigger policy lives here and nowhere else. Every operator
  * drains what is there with `AvailableNow` and stops; only the KPI
  * fan-out ([[KpiStream.start]]) also runs live, on a 1 s
  * processing-time trigger. Exactly-once effects stay the sink's job:
  * `apply` receives the same rows under the same batch id when Spark
  * re-runs an uncommitted batch, and every sink here no-ops on an
  * already-applied id. */
object StreamDriver {

  def start[T](
      name: String,
      stream: Dataset[T],
      checkpointDir: String,
      outputMode: OutputMode = OutputMode.Append(),
      availableNow: Boolean = true)(
      apply: (Dataset[T], Long) => Unit): StreamingQuery =
    stream.writeStream
      .queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(apply)
      .trigger(
        if (availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime("1 second"))
      .start()
}
