package perfbench

import graft.{CachePool, SparkEntry}

/** `registry_mix`: named registry queries over the shipped fixture tables,
  * each execution timed as build (the query lambda, including any eager
  * jobs it runs), plan (`queryExecution.executedPlan`) and execute (a
  * full-output count). */
object Registry {

  /** Three groups, each dominated by a different cost: the fixed
    * per-query floor, eager driver-side loops in the build phase, and
    * execution that grows with data. */
  val groups: Seq[(String, Seq[String])] = Seq(
    "floor" -> Seq("a1_group_count_segment", "t3_token_count", "e2_time_window"),
    "iter" -> Seq("d8_neardup_groups", "d9_neardup_groups_logstar", "x14_curate"),
    "work" -> Seq("x33_triangles", "t14_lexical"))

  final case class Exec(
      query: String, group: String, trace: Long,
      build_span: Long, plan_span: Long, exec_span: Long,
      build_s: Double, plan_s: Double, exec_s: Double, cpu_s: Double, rows: Long,
      tracked_frames: Int, cache_bytes: Long, error: String, write_error: String = "",
      thread_cpu_s: Double = 0)

  /** Run one query once, released from `CachePool` afterwards. With
    * `outDir`, the built query's full output is then written there as
    * parquet for the comparison with the expected result, outside the
    * timed spans and the CPU figure. */
  def execute(ctx: Ctx, query: String, group: String, outDir: Option[String] = None): Exec = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val trace = tr.nextId()
    val root = tr.nextId()
    val (b, p, e) = (tr.nextId(), tr.nextId(), tr.nextId())
    var out = Exec(query, group, trace, b, p, e, 0, 0, 0, 0, -1, 0, 0, "")
    def failed(t: Throwable) = s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300)
    val cpu0 = Clock.cpuS
    val threads0 = Clock.threadCpuNs
    try {
      val df = tr.span(trace, 0, s"query.$query", root) {
        val (df, buildS) = tr.span(trace, root, "build", b)(SparkEntry.queries(query)(spark, ctx.dataDir))
        val tracked = CachePool.trackedCount
        val cacheBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        out = out.copy(build_s = buildS, tracked_frames = tracked, cache_bytes = cacheBytes)
        val (_, planS) = tr.span(trace, root, "plan", p)(df.queryExecution.executedPlan)
        out = out.copy(plan_s = planS)
        val (rows, execS) = tr.span(trace, root, "exec", e)(df.queryExecution.toRdd.count())
        out = out.copy(exec_s = execS, rows = rows)
        df
      }._1
      out = out.copy(cpu_s = Clock.cpuS - cpu0, thread_cpu_s = Clock.threadCpuSince(threads0))
      outDir.foreach { dir =>
        try df.write.parquet(s"$dir/$query")
        catch { case t: Throwable => out = out.copy(write_error = failed(t)) }
      }
    } catch {
      case t: Throwable => out = out.copy(error = failed(t), cpu_s = Clock.cpuS - cpu0)
    } finally CachePool.releaseAll()
    out
  }

  /** Every query of the mix in a seed-chosen order. */
  def order(seed: Long): Seq[(String, String)] =
    new scala.util.Random(seed).shuffle(for ((g, qs) <- groups; q <- qs) yield q -> g)

  /** Rounds of the floor block, each running every floor query once: the
    * first ones only warm the floor queries' code paths (their CPU still
    * falls in the second round), the rest are measured. */
  val FloorWarmupRounds = 2
  val FloorRounds = 6

  /** One measured pass of the mix, each query once, writing each query's
    * full output for the comparison with the expected results; then the
    * floor block, the floor queries in rounds, for a per-execution figure
    * of the fixed per-query cost. */
  def run(ctx: Ctx): Map[String, Any] = {
    val mix = order(ctx.seed)
    val outDir = s"${ctx.workDir}/out"
    val execs = Seq.newBuilder[Exec]
    // traced runs also execute each query with tracing off, the reference
    // for the tracing overhead, after an untimed pass so that neither of
    // the pair pays the query's first compilation; a coin per query
    // decides which of the pair goes first
    val reference = Seq.newBuilder[Exec]
    val coin = new scala.util.Random(ctx.seed)
    if (ctx.tracer.enabled) ctx.tracer.untraced(mix.foreach { case (q, g) => execute(ctx, q, g) })
    mix.foreach { case (q, g) =>
      val refFirst = ctx.tracer.enabled && coin.nextBoolean()
      if (refFirst) reference += ctx.tracer.untraced(execute(ctx, q, g))
      execs += execute(ctx, q, g, Some(outDir))
      if (ctx.tracer.enabled && !refFirst) reference += ctx.tracer.untraced(execute(ctx, q, g))
    }
    val floor = for {
      _ <- 1 to FloorWarmupRounds + FloorRounds
      (q, g) <- mix if g == "floor"
    } yield execute(ctx, q, g)
    Map(
      "execs" -> execs.result(), "floor_execs" -> floor,
      "floor_warmup_execs" -> FloorWarmupRounds * groups.toMap.apply("floor").size, "reference_execs" -> reference.result(),
      "output_dir" -> outDir, "groups" -> groups.toMap)
  }

  /** The DuckDB oracle SQL of every query of the mix. */
  def oracleSql: Map[String, String] =
    groups.flatMap(_._2).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap

  /** One pass on the current session, for the single-core baseline. */
  def onePass(ctx: Ctx): Seq[Exec] = order(ctx.seed).map { case (q, g) => execute(ctx, q, g) }
}
