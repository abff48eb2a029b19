package graft

import graft.airline.{AirlineFixture, AirlineKpis}
import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.file.{Files, Paths}

/** Contracts every store-backed operator gets from the shared
  * [[StreamDriver]] and the [[ParquetKpiStore]] sink, checked once over
  * a table of all of them instead of operator by operator:
  *  - a read-back polled before the first batch answers with no rows of
  *    the drained read-back's schema;
  *  - a stop and restart against the same checkpoint converges to the
  *    uninterrupted run;
  *  - a batch Spark re-runs under the same id (its commit lost) is a
  *    no-op at the sink;
  *  - no operator drives its own `writeStream`.
  *
  * Inputs are synthetic and small (2 segments, one file and one
  * micro-batch each); the drains of each phase run concurrently, one
  * query per operator. */
class StreamDriverSpec extends SparkTestBase {

  private val nSegments = 2

  /** ~62 days of events over 40 users; each segment spans the whole
    * period, so every operator sees late data on every batch. */
  private lazy val events: DataFrame = spark.range(0, 3000).select(
    (col("id") % 40).as("user_id"),
    timestamp_micros(lit(1704067200000000L) + (col("id") * 1931L % 3000L) * 1800000000L)
      .as("ts"),
    col("id").as("event_id"),
    element_at(array(lit("view"), lit("click"), lit("purchase"), lit("cart")),
      (pmod(xxhash64(col("id")), lit(4L)) + 1).cast("int")).as("event_type"),
    (pmod(xxhash64(col("id"), lit(7)), lit(10000L)) / 100.0).as("value"),
    to_json(struct((col("id") % 97).as("k"))).as("props"),
    (col("id") * nSegments / 3000).cast("int").as("_seg"))

  private lazy val lineitem: DataFrame = spark.range(0, 2000).select(
    element_at(array(lit("A"), lit("N"), lit("R")), (pmod(col("id"), lit(3L)) + 1).cast("int"))
      .as("l_returnflag"),
    (pmod(xxhash64(col("id")), lit(100000L)) / 100.0).as("l_extendedprice"),
    (col("id") * nSegments / 2000).cast("int").as("_seg"))

  private lazy val base = tmpDir("sdriver")
  private lazy val t0 = System.currentTimeMillis()

  /** One directory per segment holding its single input file. */
  private def writeSegments(name: String, df: DataFrame): Unit =
    (0 until nSegments).foreach { i =>
      df.filter(col("_seg") === i).drop("_seg").coalesce(1)
        .write.parquet(s"$base/segs/$name/segment_$i")
    }

  private lazy val segments: Unit = {
    writeSegments("events", events)
    writeSegments("lineitem", lineitem)
    AirlineFixture.writeSegments(s"$base/segs/airline", nSegments, 50)
  }

  /** Publish segment `i` of `input` into an operator's watched
    * directory. Modification times are pinned so the file source
    * orders segments the same way in every run, whenever they land. */
  private def stage(input: String, i: Int, inDir: String): Unit = {
    segments
    val src = new File(s"$base/segs/$input/segment_$i")
    val dst = new File(s"$inDir/segment_$i")
    dst.mkdirs()
    src.listFiles().filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .foreach { f =>
        val out = new File(dst, f.getName)
        Files.copy(f.toPath, out.toPath)
        out.setLastModified(t0 + i * 1000L)
      }
  }

  private def parquetStream(input: String, inDir: String): DataFrame = {
    segments
    val schema: StructType = spark.read.parquet(s"$base/segs/$input/segment_0").schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
  }

  private case class ReadBack(name: String, read: ParquetKpiStore => DataFrame)

  /** A store-backed operator: its input, how it starts on a watched
    * directory, and the read-backs that expose its state. */
  private case class Op(
      name: String,
      input: String,
      start: (String, ParquetKpiStore, String) => StreamingQuery,
      readBacks: Seq[ReadBack])

  private def eventOp(name: String, readBacks: ReadBack*)(
      start: (DataFrame, ParquetKpiStore, String) => StreamingQuery): Op =
    Op(name, "events", (in, st, cp) => start(parquetStream("events", in), st, cp), readBacks)

  private def rb(name: String)(read: ParquetKpiStore => DataFrame) = ReadBack(name, read)

  /** Every operator with a read-back; the KPI fan-out's tables are
    * plain store tables, so it joins only the restart spec. */
  private lazy val operatorOps: Seq[Op] = Seq(
    eventOp("ohlc", rb("candleTable")(StreamingOhlc.candleTable(spark, _)))(
      StreamingOhlc.start(spark, _, _, _)),
    eventOp("burstiness", rb("fanoTable")(StreamingBurstiness.fanoTable(spark, _)))(
      StreamingBurstiness.start(spark, _, _, _)),
    eventOp("transitions",
      rb("transitionTable")(StreamingTransitions.transitionTable(spark, _)))(
      StreamingTransitions.start(spark, _, _, _)),
    eventOp("retention", rb("retentionTable")(StreamingRetention.retentionTable(spark, _)))(
      StreamingRetention.start(spark, _, _, _)),
    eventOp("attribution",
      rb("attributionTable")(StreamingAttribution.attributionTable(spark, _)))(
      StreamingAttribution.start(spark, _, _, _)),
    eventOp("distinct", rb("distinctTable")(StreamingDistinct.distinctTable(spark, _)))(
      StreamingDistinct.start(spark, _, _, _)),
    eventOp("skyline",
      rb("frontier")(StreamingSkyline.frontier(spark, _)),
      rb("totals")(StreamingSkyline.totals(spark, _)))(
      StreamingSkyline.start(spark, _, _, _)),
    eventOp("frequency",
      rb("cellsTable")(StreamingFrequency.cellsTable(spark, _)),
      // a point query answers for every probed item; "nothing arrived"
      // is an estimate of 0, so only seen items count as rows here
      rb("estimateTable")(st => StreamingFrequency.estimateTable(spark, st,
        spark.range(0, 120).select(col("id").cast("int").as("item")), "item")
        .filter(col("est") > 0)))(
      StreamingFrequency.start(spark, _, _, _)),
    eventOp("funnel", rb("funnelTable")(StreamingFunnel.funnelTable(spark, _)))(
      StreamingFunnel.start(spark, _, _, _)),
    eventOp("holt_winters", rb("hwTable")(StreamingHoltWinters.hwTable(spark, _)))(
      StreamingHoltWinters.start(spark, _, _, _)),
    eventOp("vwap", rb("vwapTable")(StreamingVwap.vwapTable(spark, _)))(
      StreamingVwap.start(spark, _, _, _)),
    eventOp("cusum", rb("cusumTable")(StreamingCusum.cusumTable(spark, _)))(
      StreamingCusum.start(spark, _, _, _)),
    eventOp("growth", rb("growthTable")(StreamingGrowth.growthTable(spark, _)))(
      StreamingGrowth.start(spark, _, _, _)),
    // the report spans the fixed bin spine; bins with no counts on
    // either side are the fresh state, so only counted bins are rows
    eventOp("drift", rb("psiTable")(st => StreamingDrift.psiTable(spark, st)
      .filter(col("n_ref") > 0 || col("n_cur") > 0)))(
      StreamingDrift.start(spark, _, events.filter(col("user_id") % 2 === 0)
        .select(col("value")), "value", _, _)),
    Op("median_mad", "lineitem",
      (in, st, cp) => StreamingMedianMad.start(spark, parquetStream("lineitem", in), st, cp),
      Seq(rb("medianMad")(StreamingMedianMad.medianMad(spark, _)),
        rb("counts")(StreamingMedianMad.counts(spark, _)))))

  private lazy val kpiOp = Op("kpi", "airline",
    (in, st, cp) => KpiStream.start(spark, s"$in/*", cp, st, maxFilesPerTrigger = Some(1)),
    AirlineKpis.all.map { case (table, _, _) => rb(table)(_.read(spark, table).get) })

  private lazy val storeOps: Seq[Op] = kpiOp +: operatorOps

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Start `runs` together (each operator's query runs on its own
    * stream thread) and wait for every drain. */
  private def drainAll(runs: Seq[() => StreamingQuery]): Seq[StreamingQuery] = {
    val qs = runs.map(_())
    qs.foreach(_.awaitTermination())
    qs
  }

  private def run(op: Op, variant: String): StreamingQuery =
    op.start(s"$base/${op.name}/$variant/in", store(op, variant),
      s"$base/${op.name}/$variant/cp")

  private def store(op: Op, variant: String) =
    new ParquetKpiStore(s"$base/${op.name}/$variant/store")

  /** Uninterrupted reference: every segment present, one drain. */
  private lazy val uninterrupted: Map[String, Map[String, Seq[String]]] = {
    storeOps.foreach(op =>
      (0 until nSegments).foreach(stage(op.input, _, s"$base/${op.name}/full/in")))
    drainAll(storeOps.map(op => () => run(op, "full")))
    storeOps.map(op =>
      op.name -> op.readBacks.map(r => r.name -> rows(r.read(store(op, "full")))).toMap).toMap
  }

  test("every store read-back on a never-written store is empty with its drained schema") {
    val fresh = new ParquetKpiStore(tmpDir("sdriver-fresh"))
    for (op <- operatorOps; r <- op.readBacks) {
      val drained = r.read(store(op, "full")).schema
      val empty = r.read(fresh)
      assert(empty.schema == drained,
        s"${op.name}.${r.name}: fresh schema ${empty.schema.simpleString} " +
          s"!= drained ${drained.simpleString}")
      assert(empty.count() == 0, s"${op.name}.${r.name}: fresh store returned rows")
      assert(uninterrupted(op.name)(r.name).nonEmpty,
        s"${op.name}.${r.name}: drained read-back is empty")
    }
  }

  test("stop + restart on the same checkpoint equals an uninterrupted drain; a re-run batch is a no-op") {
    val want = uninterrupted
    def inDir(op: Op) = s"$base/${op.name}/restart/in"

    // (a) the first half drains and the query stops; the rest lands
    // while it is down; a restart on the same checkpoint drains it
    storeOps.foreach(op => (0 until nSegments / 2).foreach(stage(op.input, _, inDir(op))))
    drainAll(storeOps.map(op => () => run(op, "restart")))
    storeOps.foreach(op => (nSegments / 2 until nSegments).foreach(stage(op.input, _, inDir(op))))
    val resumed = drainAll(storeOps.map(op => () => run(op, "restart")))
    resumed.foreach(q => assert(q.recentProgress.map(_.batchId).max == nSegments - 1,
      s"${q.name}: expected one micro-batch per segment across the restart"))
    for (op <- storeOps; r <- op.readBacks)
      assert(rows(r.read(store(op, "restart"))) == want(op.name)(r.name),
        s"${op.name}.${r.name}: the restarted drain diverged from the uninterrupted one")

    // (b) lose the last batch's commit: Spark re-runs batch n under the
    // same id, and the sink's per-(table, batchId) watermark must make
    // it a no-op. Reads resolve through the `_LATEST` pointers and group
    // manifests, so none of them being rewritten leaves every read-back
    // as checked above.
    def pointers(op: Op): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(s"$base/${op.name}/restart/store")).iterator().asScala
        .map(_.toFile)
        .filter(f => f.getName == "_LATEST" || f.getName.startsWith("_GROUP_"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = storeOps.map(op => op.name -> pointers(op)).toMap
    storeOps.foreach { op =>
      val commits = s"$base/${op.name}/restart/cp/commits"
      val last = new File(commits).list().filter(_.forall(_.isDigit)).map(_.toLong).max
      assert(last == nSegments - 1)
      Files.delete(Paths.get(s"$commits/$last"))
      Files.deleteIfExists(Paths.get(s"$commits/.$last.crc"))
    }
    val replayed = drainAll(storeOps.map(op => () => run(op, "restart")))
    replayed.foreach(q => assert(q.recentProgress.exists(_.batchId == nSegments - 1),
      s"${q.name}: the uncommitted batch did not re-run"))
    storeOps.foreach(op => assert(pointers(op) == before(op.name),
      s"${op.name}: the re-run batch was applied to the store a second time"))
  }

  test("no streaming operator drives writeStream or picks a trigger outside StreamDriver") {
    import scala.jdk.CollectionConverters._
    val allowed = Set("StreamDriver.scala", "EventStream.scala")
    val offenders = Files.list(Paths.get("src/main/scala/graft/streaming")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p.getFileName.toString))
      .filter(p => """writeStream|Trigger\.""".r.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toList
    assert(offenders.isEmpty,
      s"start foreachBatch streams through StreamDriver.start: ${offenders.mkString(", ")}")
  }
}
