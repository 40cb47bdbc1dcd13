package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and run length, the
  * shared base-table dir, the run's private work dir and the tracer (a no-op
  * when untraced).
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, cores: Int,
    data: Path, work: Path, tracer: Tracer) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** A workload: input generation, a warm-up and the measured loop. The JVM
  * only measures and reports raw samples; run.py turns them into metrics and
  * decides which outputs were correct.
  */
trait Workload {
  type Inputs
  /** Writes the seed-independent base tables under `data`. run.py calls it
    * in a JVM of its own before the first timed run, so that every timed
    * set-up reads the same cached tables.
    */
  def prepare(spark: SparkSession, data: Path): Unit
  /** Generates the seeded inputs. */
  def generate(ctx: Ctx): Inputs
  def warmUp(ctx: Ctx, in: Inputs): Unit
  /** Runs an amount of work set by `ctx.seconds`, about that long on 4
    * cores; returns the raw result fields.
    */
  def measure(ctx: Ctx, in: Inputs): Map[String, Any]
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workloads = Map[String, Workload]("sync" -> SyncWorkload, "cdc_stream" -> CdcWorkload,
      "query_sweep" -> QueryWorkload)
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val work = Paths.get(a("work"))
    if (a("workload") == "prepare") {
      val spark = session(cores, work)
      try {
        workloads.values.foreach(_.prepare(spark, Paths.get(a("data"))))
        Json.write(Paths.get(a("out")), Map("workload" -> "prepare"))
      } finally spark.stop()
      return
    }
    val workload: Workload = workloads.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))
    val t0 = Clock.nowMs
    val spark = session(cores, work)
    val sessionS = (Clock.nowMs - t0) / 1000
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toInt, cores,
      Paths.get(a("data")), work,
      new Tracer(a.getOrElse("trace", "0") == "1"))
    try {
      val g0 = Clock.nowMs
      val inputs = workload.generate(ctx)
      val genS = (Clock.nowMs - g0) / 1000
      workload.warmUp(ctx, inputs)
      val warmS = (Clock.nowMs - g0) / 1000 - genS

      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val layers = if (ctx.tracer.on) Some(new Layers(ctx)) else None
      graft.Caches.resetStats()
      val gc0 = Jvm.gcMs
      Jvm.resetLive()
      val m0 = Clock.nowMs
      val raw = workload.measure(ctx, inputs)
      val wallS = (Clock.nowMs - m0) / 1000
      val peak = Jvm.liveMaxHeapMb
      val gcS = (Jvm.gcMs - gc0) / 1000.0
      org.apache.spark.BenchBus.drain(spark.sparkContext)

      val result = raw ++ Map(
        "workload" -> a("workload"), "seed" -> ctx.seed, "cores" -> cores,
        "setup" -> Map("session_s" -> sessionS, "gen_s" -> genS,
          "warmup_s" -> warmS),
        "measure_s" -> wallS, "live_heap_mb" -> peak, "gc_s" -> gcS) ++
        layers.map(l => Map("layers" -> l.report(wallS),
          "spans" -> ctx.tracer.resolved)).getOrElse(Map.empty)
      Json.write(Paths.get(a("out")), result)
    } finally spark.stop()
  }

  /** The engine's session settings (as `graft.Bench` sets them) with every
    * local dir inside the run's work dir.
    */
  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
}

/** Live-heap high-water and GC time of this JVM. */
object Jvm {
  private var liveMaxMb = 0.0

  /** Collects garbage and records the heap still in use. Workloads call it
    * between ops, outside any timed region: the live heap, unlike the raw
    * high-water mark, does not depend on when the collector happened to run.
    */
  def sampleLive(): Unit = synchronized {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    liveMaxMb = math.max(liveMaxMb, used / 1048576.0)
  }
  def resetLive(): Unit = synchronized { liveMaxMb = 0.0 }
  def liveMaxHeapMb: Double = synchronized { sampleLive(); liveMaxMb }
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime)
      .filter(_ >= 0).sum
}

/** The traced run's layer counters, installed after set-up so they cover
  * the measured loop only.
  */
final class Layers(ctx: Ctx) {
  val spark = new SparkStats(ctx.tracer)
  val catalyst = new CatalystStats(ctx.tracer)
  ctx.spark.sparkContext.addSparkListener(spark)
  ctx.spark.listenerManager.register(catalyst)

  def report(wallS: Double): Map[String, Any] = {
    org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
    val c = graft.Caches.stats
    spark.synchronized {
      catalyst.synchronized {
        Map(
          "spark.jobs" -> spark.jobs, "spark.stages" -> spark.stages,
          "spark.tasks" -> spark.tasks, "spark.task_busy_s" -> spark.busyMs / 1000.0,
          "spark.core_busy_ratio" -> spark.busyMs / 1000.0 / (wallS * ctx.cores),
          "spark.shuffle_read_mb" -> spark.shuffleReadBytes / 1048576.0,
          "spark.shuffle_write_mb" -> spark.shuffleWriteBytes / 1048576.0,
          "spark.spill_mb" -> spark.spillBytes / 1048576.0,
          "spark.stage_skew_max" -> spark.stageSkewMax,
          "tables.schema_jobs" -> spark.schemaJobs,
          "queries.build_jobs" -> spark.buildJobs,
          "stages_by_group" -> spark.stagesByGroup.toMap,
          "caches.fragment_hits" -> c.hits, "caches.fragment_builds" -> c.builds,
          "caches.fragment_evictions" -> c.evictions,
          "catalyst.analysis_ms" -> catalyst.ms("analysis"),
          "catalyst.optimization_ms" -> catalyst.ms("optimization"),
          "catalyst.planning_ms" -> catalyst.ms("planning"))
      }
    }
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(path: Path, value: Any): Unit =
    Files.write(path, mapper.writeValueAsBytes(value))
}
