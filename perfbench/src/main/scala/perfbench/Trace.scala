package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for the benchmark's own spans and Spark's listener events
  * (which carry epoch milliseconds): epoch ms with sub-ms precision.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Long, parent: Long, name: String, req: String,
    startMs: Double, endMs: Double)

/** In-memory span recorder. Spans are kept until the run ends and written
  * out with the result. With `on = false` nothing is recorded and `span`
  * only runs its body, so untraced runs pay nothing for it.
  */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def add(parent: Long, name: String, req: String, startMs: Double,
      endMs: Double): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, req, startMs, endMs))
      id
    }

  /** Times `body` as span `name`; the body gets the span id to parent its
    * children on.
    */
  def span[T](name: String, req: String, parent: Long = 0L)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = ids.incrementAndGet()
      val s = Clock.nowMs
      try body(id)
      finally spans.add(Span(id, parent, name, req, s, Clock.nowMs))
    }

  /** All spans, with each parentless Spark job or Catalyst phase attached to
    * the innermost benchmark span that contains its start: jobs forked from
    * engine threads carry no local properties, so containment is the only
    * link back to the call that caused them.
    */
  def resolved: Seq[Span] = {
    val all = spans.asScala.toSeq.sortBy(_.startMs)
    val own = all.filterNot(s => Tracer.external(s.name))
    all.map { s =>
      if (s.parent != 0L || !Tracer.external(s.name)) s
      else {
        val hosts = own.filter(o => o.startMs <= s.startMs && s.startMs <= o.endMs)
        if (hosts.isEmpty) s
        else {
          val h = hosts.minBy(o => o.endMs - o.startMs)
          s.copy(parent = h.id, req = if (s.req.isEmpty) h.req else s.req)
        }
      }
    }
  }
}

object Tracer {
  /** Spans reported by Spark rather than timed by the benchmark. */
  def external(name: String): Boolean =
    name.startsWith("spark.") || name.startsWith("catalyst.")

  /** Local property naming the span whose thread starts a Spark job. */
  val SpanProp = "perfbench.span"
  /** Local property naming the query phase (`build` or `exec`). */
  val PhaseProp = "perfbench.phase"
}

/** Spark-side layer counters for the traced run: jobs, stages, tasks, busy
  * time, shuffle, spill and skew, plus a span per job. Runs on the listener
  * bus; read the fields only after the bus has drained.
  */
final class SparkStats(tracer: Tracer) extends SparkListener {
  var jobs, stages, tasks = 0L
  var busyMs, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var stageSkewMax = 0.0
  /** Jobs whose first stage is the parquet schema read in `Tables.t`. */
  var schemaJobs = 0L
  /** Jobs started while a query was being built (not yet run). */
  var buildJobs = 0L
  /** Stages per job group (the query workload sets the query name). */
  val stagesByGroup: mutable.Map[String, Long] = mutable.Map.empty

  private val stageGroup = mutable.Map.empty[Int, String]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val open = mutable.Map.empty[Int, (Double, Long, String)]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val group = prop(e.properties, "spark.jobGroup.id")
    if (prop(e.properties, Tracer.PhaseProp) == "build") buildJobs += 1
    if (e.stageInfos.exists(s => SparkStats.SchemaRead.matches(s.name))) schemaJobs += 1
    e.stageIds.foreach(stageGroup(_) = group)
    val parent = scala.util.Try(prop(e.properties, Tracer.SpanProp).toLong).getOrElse(0L)
    open(e.jobId) = (e.time.toDouble, parent, group)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (start, parent, group) =>
      tracer.add(parent, "spark.job", group, start, math.max(start, e.time.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      busyMs += m.executorRunTime
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val id = e.stageInfo.stageId
    stageGroup.get(id).filter(_.nonEmpty).foreach(g =>
      stagesByGroup(g) = stagesByGroup.getOrElse(g, 0L) + 1)
    taskMs.remove((id, e.stageInfo.attemptNumber())).foreach { ds =>
      if (ds.size >= 2) {
        val sorted = ds.sorted
        val median = math.max(1L, sorted((sorted.size - 1) / 2))
        stageSkewMax = math.max(stageSkewMax, sorted.last.toDouble / median)
      }
    }
  }
}

object SparkStats {
  /** Short call site Spark gives the schema-inference job of `Tables.t`. */
  val SchemaRead = "parquet at Tables\\.scala:\\d+".r
}

/** Catalyst phase times of every executed query (analysis, optimization,
  * planning), from each action's `QueryPlanningTracker`.
  */
final class CatalystStats(tracer: Tracer) extends QueryExecutionListener {
  val ms: mutable.Map[String, Long] = mutable.Map("analysis" -> 0L,
    "optimization" -> 0L, "planning" -> 0L)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, p) =>
      if (ms.contains(phase)) {
        ms(phase) += p.durationMs
        tracer.add(0L, s"catalyst.$phase", "", p.startTimeMs.toDouble,
          p.endTimeMs.toDouble)
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
