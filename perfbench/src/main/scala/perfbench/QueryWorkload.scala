package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Closed loop, one client: a fixed subset of `SparkEntry.queries`, each
  * built with `fn(spark, dir)` and then `count()`ed, build and count timed
  * apart, in a seeded order. Construction (`Tables`, `Iterative`, `Caches`),
  * Catalyst and Spark execution dominate; sink and state are barely used.
  */
object QueryWorkload extends Workload {
  final case class Inputs(dir: Path)

  /** Small enough that one cold pass over the subset fits a run. */
  val Sf = 0.01
  /** Passes: one per this many seconds of the run length (at least one); a
    * pass takes about 37 s on 4 cores. A count, so that every run measures
    * the same work.
    */
  val PassSeconds = 40

  /** Eight q* queries, four jql_* queries spanning the JQL compiler's
    * operator families, the five incremental-index cards and two
    * construction-heavy builders. run.py checks each row count against
    * expected_counts.json.
    */
  val Subset: Seq[String] =
    Seq("q01_pricing_summary", "q03_shipping_priority", "q04_revenue_by_nation",
      "q05_semi_join", "q07_union_dedup", "q09_cube", "q10_window_topn",
      "q13_events_json") ++
    Seq("jql_eq_and_in", "jql_linked", "jql_was", "jql_changed") ++
    Seq("pipe_dedup_incremental", "pipe_bm25_incremental", "pipe_ann_incremental",
      "pipe_spans_incremental", "mm_phash_incremental") ++
    Seq("cdc_state_pruned_resolve", "graph_scc_bounded")

  def prepare(spark: SparkSession, data: Path): Unit = {
    Data.ensure(spark, data, Sf, Data.AllTables); ()
  }

  def generate(ctx: Ctx): Inputs =
    Inputs(Data.ensure(ctx.spark, ctx.data, Sf, Data.AllTables))

  /** Compiles the common codegen templates (join, aggregate, window) once,
    * as `graft.Bench` does before its sweep. Each query then runs once per
    * pass, as it would the first time a service is asked for it.
    */
  def warmUp(ctx: Ctx, in: Inputs): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("project_key").orderBy("count")
    val i = graft.Tables.issues(ctx.spark, in.dir.toString).limit(2000).cache()
    i.join(i.select(col("key").as("k2")), col("key") === col("k2"))
      .groupBy("project_key").count()
      .withColumn("rn", row_number().over(w))
      .orderBy("project_key").count()
    i.unpersist()
    ()
  }

  def measure(ctx: Ctx, in: Inputs): Map[String, Any] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val order = new scala.util.Random(ctx.seed).shuffle(Subset)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Double]
    (0 until math.max(1, ctx.seconds / PassSeconds)).foreach { _ =>
      val p0 = Clock.nowMs
      // the forced GC between queries is the benchmark's, not the engine's:
      // the pass time leaves it out
      var paused = 0.0
      order.foreach { name =>
        ctx.tracer.span("query", name) { id =>
          sc.setJobGroup(name, name, interruptOnCancel = false)
          def phase[T](p: String)(body: => T): (scala.util.Try[T], Double) =
            ctx.tracer.span(s"query.$p", name, id) { pid =>
              sc.setLocalProperty(Tracer.PhaseProp, p)
              sc.setLocalProperty(Tracer.SpanProp, pid.toString)
              val t0 = Clock.nowMs
              val r = scala.util.Try(body)
              (r, Clock.nowMs - t0)
            }
          val (df, buildMs) = phase("build")(graft.SparkEntry.queries(name)(spark, in.dir.toString))
          val (rows, execMs) =
            if (df.isFailure) (scala.util.Failure(df.failed.get), 0.0)
            else phase("exec")(df.get.count())
          Seq(Tracer.PhaseProp, Tracer.SpanProp).foreach(sc.setLocalProperty(_, null))
          sc.clearJobGroup()
          ops += Map("name" -> name, "pass" -> passes.size, "build_ms" -> buildMs,
            "exec_ms" -> execMs, "ms" -> (buildMs + execMs),
            "rows" -> rows.getOrElse(-1L),
            "error" -> rows.failed.map(e => String.valueOf(e.getMessage).take(300))
              .getOrElse(""))
        }
        val g0 = Clock.nowMs
        Jvm.sampleLive()
        paused += Clock.nowMs - g0
      }
      passes += Clock.nowMs - p0 - paused
    }
    Map("ops" -> ops.toSeq, "passes_ms" -> passes.toSeq)
  }
}
