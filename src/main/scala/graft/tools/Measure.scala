package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graftbridge

import graft.{Caches, Session, SparkEntry, Tables}

/** Where a registered query's time goes, across one or more dataset dirs.
  *
  *   sbt "runMain graft.tools.Measure <dir[,dir…]> [name,…] [outDir]"
  *
  * Names are substrings of registered query names; none (or "") selects
  * every query. `SPARK_GRAFT_CPUS` sets the cores (default 32). For each dir
  * and each selected query it prints:
  *   - one cold run and [[WarmRuns]] warm runs, each split into build ms (the
  *     query's builder, before any action), the Spark jobs started while
  *     building, and action ms (`count()`, the action Bench times);
  *   - the stage table of the last warm run, build and action stages alike:
  *     duration, tasks, input, shuffle read and write, call site.
  * With `outDir` it also writes each query's fragment-bypassed `formatted`
  * plan to `outDir/<dir name>/<query>.txt`, and `outDir/measure.json`: per
  * query the per-dir series (rows, best run seconds, every run) and the
  * power-law exponent `log(t2/t1) / log(n2/n1)` between consecutive dirs, n
  * = the dir's lineitem+documents+embeddings+events rows. An exponent near 1
  * is linear scaling. Building a plan can run Spark jobs (see
  * [[graft.Iterative]]), so a plan dump costs what the build column shows.
  *
  * Sync phases are measured by perfbench's traced sync run:
  * `python3 perfbench/run.py --workload sync --seed 1 --seconds 30 --trace 1`.
  */
object Measure {

  val WarmRuns = 2

  final case class Stage(id: Int, name: String, ms: Long, tasks: Int,
      input: Long, shufRead: Long, shufWrite: Long)

  final case class Run(buildMs: Double, buildJobs: Int, actionMs: Double,
      jobIds: Seq[Int], stages: Seq[Stage]) {
    def sec: Double = (buildMs + actionMs) / 1e3
  }

  /** One query at one dir; `runs` is empty when the query failed there. */
  final case class Point(dir: String, rows: Long, runs: Seq[Run]) {
    def sec: Double = if (runs.isEmpty) Double.NaN else runs.map(_.sec).min
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus(32))
    try measure(spark, args(0).split(',').toSeq,
      args.lift(1).map(_.split(',').toSeq).getOrElse(Nil),
      args.lift(2).map(Paths.get(_)))
    finally spark.stop()
  }

  /** Measure `only`'s queries on every dir of `dirs`; never stops `spark`. */
  def measure(spark: SparkSession, dirs: Seq[String], only: Seq[String],
      outDir: Option[Path]): Seq[(String, Seq[Point])] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.exists(n.contains))
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val points = try dirs.flatMap { dir =>
      Tables.warm(spark, dir)
      val rows = Seq("lineitem", "documents", "embeddings", "events").map(t =>
        try Tables.t(spark, dir, t).count() catch { case _: Throwable => 0L }).sum
      val dirName = new java.io.File(dir).getName
      println(s"[measure] $dir rows=$rows cores=${spark.sparkContext.defaultParallelism}")
      val atDir = names.map { name =>
        val fn = SparkEntry.queries(name)
        val runs = try ("cold" +: (1 to WarmRuns).map(i => s"warm$i")).map { tag =>
          val r = rec.run(spark, s"$name $dirName $tag")(fn(spark, dir))
          println(f"[measure] $name%-34s $tag%-5s build ${r.buildMs}%8.1fms " +
            f"jobs=${r.buildJobs}%3d  action ${r.actionMs}%8.1fms")
          r
        } catch { case e: Throwable =>
          println(s"[measure] $name @ $dirName FAILED: ${e.getMessage}")
          Nil
        }
        runs.lastOption.foreach(r => printStages(r.stages))
        outDir.foreach(o => writePlan(spark, o.resolve(dirName), name, fn(spark, dir)))
        name -> Point(dirName, rows, runs)
      }
      // release this dir's memoized fragments before the next scale
      Caches.clearDir(spark, dir)
      atDir
    } finally spark.sparkContext.removeSparkListener(rec)
    val byQuery = names.map(n => n -> points.collect { case (`n`, p) => p })
    outDir.foreach { o =>
      Files.write(o.resolve("measure.json"), (toJson(byQuery) + "\n").getBytes("UTF-8"))
      println(s"[measure] wrote ${o.resolve("measure.json")}")
    }
    byQuery
  }

  private def writePlan(spark: SparkSession, dir: Path, name: String,
      build: => DataFrame): Unit =
    try {
      val plan = Caches.bypassed(build).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"$name.txt"), plan.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      println(s"[measure] $name plan FAILED: ${e.getMessage}")
    }

  private def printStages(rows: Seq[Stage]): Unit = {
    def mb(b: Long) = f"${b / 1048576.0}%8.2fMB"
    rows.foreach { r =>
      println(f"  stage ${r.id}%4d ${r.ms}%6dms tasks=${r.tasks}%3d " +
        f"in=${mb(r.input)} sr=${mb(r.shufRead)} sw=${mb(r.shufWrite)}  ${r.name}")
    }
    println(f"  stages=${rows.size} sumStageMs=${rows.map(_.ms).sum}%d " +
      f"sumShufRead=${mb(rows.map(_.shufRead).sum)} " +
      f"sumShufWrite=${mb(rows.map(_.shufWrite).sum)}")
  }

  /** `log(t2/t1) / log(n2/n1)`: not finite where a time failed, a dir has
    * no rows, or both dirs have the same rows.
    */
  def exponent(a: Point, b: Point): Double =
    if (a.rows <= 0 || b.rows <= 0) Double.NaN
    else math.log(b.sec / a.sec) / math.log(b.rows.toDouble / a.rows)

  /** A JSON number; `null` for NaN and ±Infinity, which JSON cannot hold. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else "%.4f".formatLocal(Locale.ROOT, d)

  def toJson(byQuery: Seq[(String, Seq[Point])]): String =
    byQuery.map { case (name, pts) =>
      val series = pts.map { p =>
        val runs = p.runs.map(r => s"""{"build_ms":${num(r.buildMs)},""" +
          s""""build_jobs":${r.buildJobs},"action_ms":${num(r.actionMs)}}""")
        s"""{"dir":"${p.dir}","rows":${p.rows},"sec":${num(p.sec)},""" +
          s""""runs":${runs.mkString("[", ",", "]")}}"""
      }
      val exps = pts.sliding(2).collect { case Seq(a, b) => num(exponent(a, b)) }
      s""""$name":{"series":${series.mkString("[", ",", "]")},""" +
        s""""exponents":${exps.mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")

  /** Jobs and completed stages per job group. Each run's build and action
    * carry their own group, so a stage is attributed by the job that ran it,
    * and the bus is drained before a run's numbers are read.
    */
  private final class Recorder extends SparkListener {
    private val jobs =
      mutable.Map.empty[String, Vector[Int]].withDefaultValue(Vector.empty)
    private val stageGroup = mutable.Map.empty[Int, String]
    private val stages =
      mutable.Map.empty[String, Vector[Stage]].withDefaultValue(Vector.empty)
    private var seq = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          jobs(g) :+= e.jobId
          e.stageIds.foreach(stageGroup(_) = g)
        }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        stageGroup.get(i.stageId).foreach { g =>
          val ms = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s)
            .getOrElse(-1L)
          val m = i.taskMetrics
          stages(g) :+= Stage(i.stageId,
            i.name.takeWhile(_ != '\n'), ms, i.numTasks, m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
        }
      }

    /** Build `df` and `count()` it, each under a fresh job group. */
    def run(spark: SparkSession, label: String)(
        build: => DataFrame): Run = {
      val sc = spark.sparkContext
      val group = synchronized { seq += 1; s"measure-$seq" }
      def timed[A](phase: String)(body: => A): (A, Double) = {
        sc.setJobGroup(s"$group-$phase", s"$label $phase")
        val t0 = System.nanoTime()
        try (body, (System.nanoTime() - t0) / 1e6) finally sc.clearJobGroup()
      }
      val (df, buildMs) = timed("build")(build)
      val (_, actionMs) = timed("action")(df.count())
      graftbridge.drainListenerBus(sc)
      synchronized {
        val gs = Seq(s"$group-build", s"$group-action")
        Run(buildMs, jobs(gs.head).size, actionMs, gs.flatMap(jobs),
          gs.flatMap(stages).sortBy(_.id))
      }
    }
  }
}
