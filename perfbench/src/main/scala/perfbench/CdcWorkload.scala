package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.state.StateStore

/** Open loop, one generator thread: pre-written seeded slices of issue
  * updates are released into the file source of `CdcStream.start` (delta-log
  * state with `partitionedState`, a git commit per micro-batch) on a fixed
  * schedule, whatever the engine is doing. Each slice holds new issues in
  * creation order plus ~20 % re-sends of released keys with a newer
  * `updated`; about half of all issues belong to one seeded hot project.
  * A slice's latency runs from its due time to the end of the micro-batch
  * that committed it, so it includes queue wait.
  */
object CdcWorkload extends Workload {
  final case class Inputs(staging: Path, warm: Path, schema: StructType,
      sliceRows: Seq[Long], distinctKeys: Long)

  /** The base tables the sync workload uses too: 15,000 issues. */
  val Sf = SyncWorkload.Sf
  /** Offered rate: 10 slices of ~35 rows per second. On 4 cores a
    * micro-batch takes 3-4 s almost whatever its size, so each batch commits
    * the 30-40 slices released while the one before ran.
    */
  val SlicesPerSecond = 10
  val NewPerSlice = 28
  /** Re-sent rows per slice, as a share of the slice: 7 / (28 + 7). */
  val ResendPerSlice = 7
  val WarmSlices = 2
  /** The sync clock: every generated `updated` lies before it and every
    * re-send after it, so each re-send is a real change.
    */
  val SyncTime: Timestamp = Timestamp.valueOf("2002-01-01 00:00:00")

  private def slices(ctx: Ctx): Int = SlicesPerSecond * ctx.seconds

  def prepare(spark: SparkSession, data: Path): Unit = {
    Data.ensure(spark, data, Sf, Seq("orders")); ()
  }

  def generate(ctx: Ctx): Inputs = {
    val spark = ctx.spark
    val dir = ctx.dir("inputs")
    val base = Data.ensure(spark, ctx.data, Sf, Seq("orders")).toString
    val n = slices(ctx)
    val hot = s"P${new scala.util.Random(ctx.seed).nextInt(7)}"
    val num = expr("cast(element_at(split(key, '-'), 2) as bigint)")
    val isHot = pmod(xxhash64(col("__n"), lit(ctx.seed)), lit(2L)) === 0
    val issues = graft.Tables.issues(spark, base)
      .select(col("key"), col("project_key"), col("summary"), col("updated"))
      .withColumn("__n", num)
      .withColumn("project_key", when(isHot, lit(hot)).otherwise(col("project_key")))
      .withColumn("key", concat(col("project_key"), lit("-"), col("__n").cast("string")))
    // slice i: the next NewPerSlice issues in creation order, and for i > 0
    // about ResendPerSlice re-sends drawn from the keys released before it;
    // slices n .. n+WarmSlices-1 hold unrelated issues for the warm-up
    val fresh = issues.filter(col("__n") < (n + WarmSlices) * NewPerSlice)
      .withColumn("slice", (col("__n") / NewPerSlice).cast("int"))
    val resends = issues.filter(col("__n") < (n - 1) * NewPerSlice)
      .crossJoin(spark.range(1, n).select(col("id").cast("int").as("slice")))
      .filter(col("__n") < col("slice") * NewPerSlice &&
        pmod(xxhash64(col("__n"), col("slice"), lit(ctx.seed)),
          col("slice").cast("long") * NewPerSlice) < ResendPerSlice)
      .withColumn("updated", expr("timestampadd(HOUR, slice, timestamp'2002-01-01 00:00:00')"))
      .withColumn("summary", concat(col("summary"), lit(" (resend "),
        col("slice").cast("string"), lit(")")))
    val all = fresh.unionByName(resends).drop("__n")
    val tmp = dir.resolve("slices_tmp")
    all.repartition(col("slice")).write.partitionBy("slice").parquet(tmp.toString)
    val staging = Files.createDirectories(dir.resolve("staging"))
    val warm = Files.createDirectories(dir.resolve("warm"))
    (0 until n + WarmSlices).foreach { i =>
      val part = Files.list(tmp.resolve(s"slice=$i")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(part.size == 1, s"slice $i has ${part.size} files")
      Files.move(part.head,
        (if (i < n) staging else warm).resolve(f"slice_$i%05d.parquet"))
    }
    Data.delete(tmp)
    val counted = all.filter(col("slice") < n)
    val rows = counted.groupBy("slice").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    Inputs(staging, warm, all.drop("slice").schema,
      (0 until n).map(i => rows.getOrElse(i, 0L)),
      counted.select("key").distinct().count())
  }

  private def start(ctx: Ctx, in: Inputs, src: Path, out: Path, filesPerBatch: Int = 0) = {
    val reader = ctx.spark.readStream.schema(in.schema)
    val stream = (if (filesPerBatch > 0) reader.option("maxFilesPerTrigger", filesPerBatch.toLong)
      else reader).parquet(src.toString)
    graft.streaming.CdcStream.start(stream, s"$out/repo", s"$out/state", s"$out/ckpt",
      commitEvery = 1, partitionedState = true, clock = () => SyncTime)
  }

  def warmUp(ctx: Ctx, in: Inputs): Unit = {
    val dir = ctx.dir("cdc_warm")
    val q = start(ctx, in, in.warm, dir, filesPerBatch = 1)
    try q.processAllAvailable() finally q.stop()
    Data.delete(dir)
  }

  /** Which micro-batch read each slice file, from the file source's own log
    * in the checkpoint (plain and compacted log files both list entries
    * with their batch id).
    */
  private[perfbench] def sliceBatches(ckpt: Path): Map[Int, Long] = {
    val log = ckpt.resolve("sources/0")
    if (!Files.isDirectory(log)) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val slice = "slice_(\\d+)\\.parquet$".r.unanchored
    Files.list(log).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?")).flatMap { f =>
      Files.readAllLines(f).asScala.filter(_.startsWith("{")).flatMap { line =>
        val j = mapper.readTree(line)
        j.get("path").asText() match {
          case slice(i) => Some(i.toInt -> j.get("batchId").asLong())
          case _ => None
        }
      }
    }.toMap
  }

  def measure(ctx: Ctx, in: Inputs): Map[String, Any] = {
    val spark = ctx.spark
    val out = ctx.dir("cdc")
    val src = Files.createDirectories(out.resolve("src"))
    val batches = ArrayBuffer.empty[Map[String, Any]]
    var deltasMax = 0
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          val endMs = startMs + d.getOrElse("triggerExecution", 0L)
          if (ctx.tracer.on) {
            deltasMax = math.max(deltasMax, StateStore.deltaCount(spark, s"$out/state"))
            val id = ctx.tracer.add(0L, "stream.batch", s"batch-${p.batchId}", startMs, endMs)
            // the trigger's components in execution order, laid end to end
            Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
              "addBatch", "commitOffsets").foldLeft(startMs) { (s, k) =>
              val e = s + d.getOrElse(k, 0L)
              if (e > s) ctx.tracer.add(id, s"stream.$k", s"batch-${p.batchId}", s, e)
              e
            }
          }
          batches.synchronized {
            batches += Map("id" -> p.batchId, "start_ms" -> startMs, "end_ms" -> endMs,
              "rows" -> p.numInputRows, "duration_ms" -> d)
          }
        }
      }
    }
    spark.streams.addListener(listener)
    val q = start(ctx, in, src, out)
    val n = in.sliceRows.size
    val due = Array.fill(n)(0.0)
    val released = Array.fill(n)(0.0)
    val generator = new Thread(() => {
      val t0 = Clock.nowMs + 100
      (0 until n).foreach { i =>
        due(i) = t0 + i * 1000.0 / SlicesPerSecond
        val wait = due(i) - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val name = f"slice_$i%05d.parquet"
        Files.move(in.staging.resolve(name), src.resolve(name),
          StandardCopyOption.ATOMIC_MOVE)
        released(i) = Clock.nowMs
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    val error =
      try { q.processAllAvailable(); "" }
      catch { case e: Throwable => String.valueOf(e.getMessage) }
      finally q.stop()
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(listener)

    val state = s"$out/state"
    val stateRows = StateStore.loadResolved(spark, state)
    val rowsNow = stateRows.count()
    val syncs = stateRows.agg(sum("sync_count")).head().get(0) match {
      case null => 0L
      case v => v.toString.toLong
    }
    val map = sliceBatches(out.resolve("ckpt"))
    val slices = (0 until n).map { i =>
      Map("id" -> i, "due_ms" -> due(i), "released_ms" -> released(i),
        "rows" -> in.sliceRows(i), "batch" -> map.getOrElse(i, -1L))
    }
    val processed = batches.map(_("rows").asInstanceOf[Long]).sum
    Map("slices" -> slices, "batches" -> batches.toSeq.sortBy(_("id").asInstanceOf[Long]),
      "error" -> Option(error).getOrElse(""),
      "checks" -> Seq(
        Map("op" -> -1, "name" -> "state_rows_eq_distinct_keys",
          "expected" -> in.distinctKeys, "observed" -> rowsNow),
        Map("op" -> -1, "name" -> "processed_rows_eq_released_rows",
          "expected" -> in.sliceRows.sum, "observed" -> processed),
        Map("op" -> -1, "name" -> "no_query_exception",
          "expected" -> 0, "observed" -> (if (error.isEmpty && q.exception.isEmpty) 0 else 1))),
      "sink" -> Map("repo_mb" -> Data.bytes(out.resolve("repo")) / 1048576.0,
        "repo_issues" -> rowsNow, "files_written" -> syncs),
      // the ledger is the base dir plus its state__delta_<n> siblings
      "state" -> Map("rows" -> rowsNow, "mb" -> Files.list(out).iterator().asScala
        .filter(_.getFileName.toString.startsWith("state")).map(Data.bytes).sum / 1048576.0,
        "deltas_max" -> deltasMax, "changed" -> syncs, "scanned" -> processed))
  }
}
