package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}

import graft.airline.{AirlineFixture, AirlineKpis}
import graft.sources.Tables
import graft.streaming.{KpiStream, ParquetKpiStore}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** The paper's pipeline, first phase of the `streaming` workload, over
  * 1000-row airline segments and one `KpiStream.start(availableNow =
  * false)` checkpoint: start-up on a small backlog; live, where one
  * generator thread publishes one segment per second on a fixed schedule
  * that does not wait for the consumer; then catch-up, where a backlog
  * staged while the query is stopped is drained by the restarted query. */
object KpiWorkload {
  val RowsPerSegment = 1000
  val BacklogSegments = 100
  val StartupSegments = 2
  val LiveWarmupSegments = 2
  val PeriodMs = 1000L

  /** The seed offsets the row ids fed to `AirlineFixture.csvLine`. */
  def firstId(seed: Long, segment: Int): Int =
    (((seed % 1000) + 1000) % 1000).toInt * 1000000 + segment * RowsPerSegment

  def segmentText(first: Int): String = {
    val sb = new StringBuilder(AirlineFixture.header).append('\n')
    (first until first + RowsPerSegment).foreach(i => sb.append(AirlineFixture.csvLine(i)).append('\n'))
    sb.result()
  }

  /** Write a segment under `staging`, then rename it into the watched
    * directory, so the file source never lists a partial CSV. */
  def publish(text: String, staging: String, in: String, name: String): Unit = {
    val dir = new File(s"$staging/$name")
    dir.mkdirs()
    val w = new PrintWriter(new File(dir, "part-0.csv"))
    try w.write(text) finally w.close()
    Files.move(dir.toPath, new File(s"$in/$name").toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  private def segName(k: Int) = f"segment_$k%05d"

  /** Rows of a frame as sorted strings over name-sorted columns. */
  def dump(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(c => col(s"`$c`")): _*).collect().toSeq
      .map((r: Row) => r.toSeq.map(String.valueOf).mkString("|")).sorted
  }

  /** Wait until the query's triggers (all its runs) have taken `rows`. */
  private def awaitRows(ctx: Ctx, runs: Seq[StreamingQuery], rows: Long, timeoutS: Double): Unit = {
    val q = runs.last
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (runs.map(r => ctx.progress.ofRun(r).map(_.input_rows).sum).sum < rows &&
        System.nanoTime() < deadline) {
      if (!q.isActive) q.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
  }

  /** Segments in publish order: a small start-up backlog in two parts,
    * the live segments (the first `LiveWarmupSegments` unmeasured), then
    * the catch-up backlog. */
  final case class Plan(startup: Int, live: Int, backlog: Int) {
    def total: Int = startup + live + backlog
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val base = ctx.workDir
    val in = s"$base/in"
    val staging = s"$base/staging"
    new File(in).mkdirs()
    val plan = Plan(StartupSegments, ctx.seconds + LiveWarmupSegments, BacklogSegments)
    val texts = (0 until plan.total).map(k => segmentText(firstId(ctx.seed, k)))
    def put(k: Int): Unit = publish(texts(k), staging, in, segName(k))
    val store = new ParquetKpiStore(s"$base/store")
    def start() = KpiStream.start(spark, s"$in/*", s"$base/cp", store, availableNow = false)

    // start-up: the first part is written to each table, the second
    // merged into it, so both paths are compiled before anything is timed
    val t0 = System.nanoTime()
    val startCpu0 = Clock.cpuS
    val half = plan.startup / 2
    (0 until half).foreach(put)
    val q1 = start()
    awaitRows(ctx, Seq(q1), half.toLong * RowsPerSegment, 150)
    (half until plan.startup).foreach(put)
    awaitRows(ctx, Seq(q1), plan.startup.toLong * RowsPerSegment, 150)
    val startupS = (System.nanoTime() - t0) / 1e9
    val startupCpuS = Clock.cpuS - startCpu0

    // live: open-loop generator, due times fixed in advance, one thread
    val liveStartUs = Clock.nowUs + 200000
    val due = (0 until plan.live).map(k => liveStartUs + k * PeriodMs * 1000)
    val published = new Array[Long](plan.live)
    val liveCpu0 = Clock.cpuS
    val gen = new Thread(() => {
      (0 until plan.live).foreach { k =>
        val waitMs = (due(k) - Clock.nowUs) / 1000
        if (waitMs > 0) Thread.sleep(waitMs)
        while (Clock.nowUs < due(k)) Thread.onSpinWait()
        put(plan.startup + k)
        published(k) = Clock.nowUs
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    awaitRows(ctx, Seq(q1), (plan.startup + plan.live).toLong * RowsPerSegment, 60)
    val liveCpuS = Clock.cpuS - liveCpu0
    q1.stop()
    val liveProgress = ctx.progress.settle(q1)

    // catch-up: a backlog arrives while the consumer is down; the restarted
    // query resumes from its checkpoint and drains it
    (plan.startup + plan.live until plan.total).foreach(put)
    val restartUs = Clock.nowUs
    val cpu0 = Clock.cpuS
    val q2 = start()
    awaitRows(ctx, Seq(q1, q2), plan.total.toLong * RowsPerSegment, 120)
    val catchupCpuS = Clock.cpuS - cpu0
    q2.stop()
    ctx.progress.settle(q2)

    val replay = if (ctx.tracer.enabled) layerReplay(ctx, base, liveProgress, plan) else Map.empty
    val all = Tables.airlineCsv(spark, s"$in/*")
    val check = AirlineKpis.all.map { case (table, transform, _) =>
      table -> Map(
        "got" -> store.read(spark, table).map(dump).getOrElse(Seq.empty),
        "want" -> dump(transform(all)))
    }.toMap
    Map(
      "rows_per_segment" -> RowsPerSegment, "startup_segments" -> plan.startup,
      "live_segments" -> plan.live, "live_warmup_segments" -> LiveWarmupSegments,
      "backlog_segments" -> plan.backlog, "startup_s" -> startupS, "startup_cpu_s" -> startupCpuS,
      "due_us" -> due, "published_us" -> published.toSeq, "live_cpu_s" -> liveCpuS,
      "restart_us" -> restartUs, "catchup_cpu_s" -> catchupCpuS,
      "run_ids" -> Seq(q1.runId.toString, q2.runId.toString), "check" -> check, "replay" -> replay)
  }

  /** Traced only: the layers of one trigger replayed one at a time over
    * the same rows — CSV parse of the backlog, each KPI transform over the
    * persisted backlog, then the live phase's batch sizes merged into a
    * fresh store and read back. */
  private def layerReplay(ctx: Ctx, base: String, progress: Seq[Progress], plan: Plan): Map[String, Any] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val trace = tr.nextId()
    val root = tr.nextId()
    val backlogDirs = (plan.startup + plan.live until plan.total).map(segName)
    val backlogGlob = backlogDirs.mkString(s"$base/in/{", ",", "}")
    tr.span(trace, 0, "kpi.replay", root) {
      val (_, parseS) = tr.span(trace, root, "source.csv_parse") {
        Tables.airlineCsv(spark, backlogGlob).queryExecution.toRdd.count()
      }
      val rows = Tables.airlineCsv(spark, backlogGlob).persist()
      rows.count()
      val kpiSpan = tr.nextId()
      val (perTable, kpiS) = tr.span(trace, root, "kpis.transform", kpiSpan) {
        AirlineKpis.all.map { case (table, transform, _) =>
          table -> tr.span(trace, kpiSpan, s"kpis.$table")(transform(rows).queryExecution.toRdd.count())._2
        }.toMap
      }
      // live-phase batch sizes: rows per trigger after the start-up's
      val cum = progress.map(_.input_rows).scanLeft(0L)(_ + _).tail
      val sizes = progress.map(_.input_rows).zip(cum)
        .collect { case (n, c) if n > 0 && c > plan.startup.toLong * RowsPerSegment => n }
      val store = new ParquetKpiStore(s"$base/replay_store")
      val sinkSpan = tr.nextId()
      val ids = rows.withColumn("_rn", org.apache.spark.sql.functions.monotonically_increasing_id())
        .persist()
      ids.count()
      var from = 0L
      val merges = Seq.newBuilder[Double]
      tr.span(trace, root, "sink.merge", sinkSpan) {
        sizes.zipWithIndex.foreach { case (n, b) =>
          val batch = ids.filter(col("_rn") >= from && col("_rn") < from + n).drop("_rn")
          from += n
          AirlineKpis.all.foreach { case (table, transform, keys) =>
            merges += tr.span(trace, sinkSpan, s"sink.merge.$table") {
              store.merge(spark, table, keys, transform(batch), b.toLong)
            }._2
          }
        }
      }
      val (_, readS) = tr.span(trace, root, "sink.read") {
        AirlineKpis.all.foreach { case (table, _, _) => store.read(spark, table).foreach(_.collect()) }
      }
      ids.unpersist(); rows.unpersist()
      Map("csv_parse_s" -> parseS, "transform_s" -> kpiS, "table_s" -> perTable,
        "merge_s" -> merges.result(), "read_s" -> readS,
        "store_bytes" -> du(new File(s"$base/replay_store")), "batches" -> sizes.size)
    }._1
  }

  def du(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  /** The catch-up backlog drained by a fresh query on this session: the
    * single-core baseline. */
  def catchUpOnly(ctx: Ctx): Map[String, Any] = {
    val in = s"${ctx.workDir}/in"
    new File(in).mkdirs()
    (0 until BacklogSegments).foreach { k =>
      publish(segmentText(firstId(ctx.seed, k)), s"${ctx.workDir}/staging", in, segName(k))
    }
    val t0 = System.nanoTime()
    val q = KpiStream.start(ctx.spark, s"$in/*", s"${ctx.workDir}/cp",
      new ParquetKpiStore(s"${ctx.workDir}/store"), availableNow = false)
    awaitRows(ctx, Seq(q), BacklogSegments.toLong * RowsPerSegment, 150)
    val s = (System.nanoTime() - t0) / 1e9
    q.stop()
    Map("rows" -> BacklogSegments * RowsPerSegment, "catchup_s" -> s)
  }
}
