package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Everything one workload run needs. */
final case class Ctx(
    spark: SparkSession, tracer: Tracer,
    progress: ProgressRecorder, seed: Long, seconds: Int,
    workDir: String, dataDir: String)

/** Benchmark JVM: runs one workload and writes its raw observations
  * (timings, progress events, spans, check dumps) as one JSON file. The
  * metrics and the correctness verdicts are computed from that file by
  * `perfbench/run.py`.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR --out FILE`
  */
object Main {

  /** Cores of the measured session (`local[4]`); the single-core baseline
    * of the traced run uses 1. */
  val Cores = 4

  def session(cores: Int, workDir: String): SparkSession = {
    val spark = GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set size of this process so far. */
  def vmHwmKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L) finally src.close()
  }

  /** The heap: committed (fixed and pre-touched, so resident from the
    * start), the sum of each heap pool's peak use, and the old
    * generation's peak use (data that outlives young collections). */
  def heapKb: Map[String, Long] = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    Map(
      "committed" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1024,
      "peak_used" -> pools.map(_.getPeakUsage.getUsed).sum / 1024,
      "old_peak_used" -> pools.filter(_.getName.contains("Old")).map(_.getPeakUsage.getUsed).sum / 1024)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    if (workload == "oracle_sql") {
      new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opt("out")), Registry.oracleSql)
      return
    }
    val traced = opt("trace") == "1"
    val startUs = ProcessHandle.current().info().startInstant()
      .map[Long](i => i.getEpochSecond * 1000000L + i.getNano / 1000).orElse(Clock.nowUs)
    val work = opt("work")
    val spark = session(Cores, work)
    val sessionS = (Clock.nowUs - startUs) / 1e6
    val tracer = new Tracer(traced, spark.sparkContext)
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    new File(work).mkdirs()
    val ctx = Ctx(spark, tracer, progress, opt("seed").toLong, opt("seconds").toInt, work, opt("data"))

    val result: Map[String, Any] = workload match {
      case "streaming" => Map("kpi" -> KpiWorkload.run(ctx), "events" -> EventWorkload.run(ctx))
      case "registry_mix" => Registry.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the listener bus is asynchronous: let the last job events land
    if (traced) Thread.sleep(1000)
    val record = Map(
      "workload" -> workload, "cores" -> Cores, "traced" -> traced, "vm_hwm_kb" -> vmHwmKb, "heap_kb" -> heapKb,
      "session_s" -> sessionS, "cpu_s" -> Clock.cpuS, "result" -> result,
      "progress" -> progress.all, "spans" -> tracer.all,
      "exec_counters" -> tracer.counters.map { case (k, v) => k.toString -> v })
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opt("out")), record)

    // the traced run adds the single-core baseline on a fresh session:
    // the catch-up backlog, or one pass of the mix
    if (traced && opt.contains("out-local1")) {
      spark.stop()
      val one = session(1, work)
      val ctx1 = ctx.copy(spark = one, tracer = new Tracer(false, one.sparkContext),
        progress = new ProgressRecorder, workDir = s"$work/local1")
      one.streams.addListener(ctx1.progress)
      val base: Map[String, Any] = workload match {
        case "streaming" => KpiWorkload.catchUpOnly(ctx1)
        case "registry_mix" => Map("execs" -> Registry.onePass(ctx1))
        case _ => Map.empty
      }
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new File(opt("out-local1")), Map("result" -> base, "progress" -> ctx1.progress.all))
      one.stop()
    } else spark.stop()
  }
}
