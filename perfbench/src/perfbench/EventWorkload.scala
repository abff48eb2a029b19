package perfbench

import java.io.File

import graft.SparkEntry
import graft.sources.Tables
import graft.streaming.{ParquetKpiStore, StreamingDistinct, StreamingTransitions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Second phase of the `streaming` workload: the events fixture cut into
  * time segments, one parquet file per trigger, drained through the two
  * stateful operators whose state (Spark's state store) and sink tables
  * grow with the stream.
  * `perfbench/run.py` stages the segment files before the JVM starts:
  * the seed chooses which segments arrive displaced (after all the
  * others), and file times give the arrival order, since the file source
  * takes the oldest file first. */
object EventWorkload {

  private def stream(ctx: Ctx, dir: String, schemaOf: DataFrame): DataFrame =
    ctx.spark.readStream.schema(schemaOf.schema).option("maxFilesPerTrigger", 1).parquet(dir)

  final case class Drain(operator: String, run_id: String, wall_s: Double, cpu_s: Double, start_us: Long)

  /** Drain `dir` through both operators into fresh stores under `base`. */
  private def drain(ctx: Ctx, dir: String, schemaOf: DataFrame, base: String): Seq[Drain] = {
    def one(name: String)(start: (DataFrame, ParquetKpiStore, String) => StreamingQuery): Drain = {
      val startUs = Clock.nowUs
      val cpu0 = Clock.cpuS
      val t0 = System.nanoTime()
      val q = start(stream(ctx, dir, schemaOf), new ParquetKpiStore(s"$base/$name/store"), s"$base/$name/cp")
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Clock.cpuS - cpu0
      ctx.progress.settle(q)
      Drain(name, q.runId.toString, wall, cpu, startUs)
    }
    Seq(
      one("transitions")((s, st, cp) =>
        StreamingTransitions.start(ctx.spark, s, st, cp, latenessMicros = Long.MaxValue)),
      one("distinct")((s, st, cp) => StreamingDistinct.start(ctx.spark, s, st, cp)))
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val base = ctx.workDir
    val events = Tables.events(spark, ctx.dataDir)
    val schemaOf = spark.read.parquet(s"$base/segs")
    // traced runs drain once more with tracing off, the reference for the
    // tracing overhead, after an untimed warm-up drain so that neither of
    // the pair pays the operators' first compilation; the seed decides
    // which of the two drains first
    def referenceDrain() = ctx.tracer.untraced(drain(ctx, s"$base/segs", schemaOf, s"$base/reference"))
    if (ctx.tracer.enabled) ctx.tracer.untraced(drain(ctx, s"$base/segs", schemaOf, s"$base/warmup"))
    val refFirst = ctx.tracer.enabled && new scala.util.Random(ctx.seed).nextBoolean()
    val before = if (refFirst) referenceDrain() else Nil
    val drains = drain(ctx, s"$base/segs", schemaOf, s"$base/drain")
    val reference = if (ctx.tracer.enabled && !refFirst) referenceDrain() else before
    val last = s"$base/drain"
    val trans = new ParquetKpiStore(s"$last/transitions/store")
    val dist = new ParquetKpiStore(s"$last/distinct/store")
    def rows(df: DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val wantDistinct = events
      .select(col("user_id"), get_json_object(col("props"), "$.k").cast("int").as("item"))
      .filter(col("item").isNotNull)
      .groupBy(col("user_id")).agg(count_distinct(col("item")).as("n"))
    val gotDistinct = StreamingDistinct.distinctTable(spark, dist)
    Map(
      "drains" -> drains, "reference_drains" -> reference,
      "check" -> Map(
        "transitions" -> Map(
          "got" -> rows(StreamingTransitions.transitionTable(spark, trans)),
          "want" -> rows(SparkEntry.queries("w12_transitions")(spark, ctx.dataDir)),
          "dropped_late" -> StreamingTransitions.droppedLate(spark, trans)),
        "distinct" -> Map(
          "got" -> rows(gotDistinct.select("user_id", "n_distinct")),
          "want" -> rows(wantDistinct),
          "approx_rows" -> gotDistinct.filter(col("is_approx")).count())),
      "sink" -> Map(
        "state_rows" -> (trans.read(spark, "transition_counts").map(_.count()).getOrElse(0L) +
          gotDistinct.count()),
        "store_bytes" -> (KpiWorkload.du(new File(s"$last/transitions/store")) +
          KpiWorkload.du(new File(s"$last/distinct/store")))))
  }
}
