package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Measure
import graft.tools.Measure.{Point, Run}

class MeasureSpec extends AnyFunSuite {
  import TestSpark._

  test("Measure's core times each run, writes plans and measure.json") {
    val out = Caches.scratchDir("measure")
    val res = Measure.measure(spark, Seq(sf),
      Seq("q01_pricing_summary", "jql_changed"), Some(out))
    assert(res.map(_._1).toSet.contains("q01_pricing_summary"))
    assert(res.map(_._1).toSet.contains("jql_changed"))
    val json = new ObjectMapper().readTree(out.resolve("measure.json").toFile)
    for ((name, _) <- res) {
      val q = json.get(name)
      assert(q.get("exponents").size == 0, name)
      val p = q.get("series").get(0)
      assert(p.get("dir").asText == "sf0.001")
      assert(p.get("rows").asLong > 0)
      assert(p.get("sec").asDouble > 0, name)
      val runs = p.get("runs")
      assert(runs.size == 1 + Measure.WarmRuns, name)
      for (i <- 0 until runs.size; f <- Seq("build_ms", "build_jobs", "action_ms"))
        assert(runs.get(i).get(f).isNumber, s"$name run $i $f")
      val plan = out.resolve("sf0.001").resolve(s"$name.txt")
      assert(new String(Files.readAllBytes(plan), "UTF-8")
        .contains("== Physical Plan =="), name)
    }
    assert(!spark.sparkContext.isStopped, "the core must not stop the session")
  }

  test("the warm run's stage table holds every stage its jobs ran") {
    // a slow listener ahead of Measure's on the shared queue delays every
    // stage event, so a table read before the bus drains misses stages
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slow)
    val Seq((_, Seq(p))) =
      try Measure.measure(spark, Seq(sf), Seq("q01_pricing_summary"), None)
      finally spark.sparkContext.removeSparkListener(slow)
    val warm = p.runs.last
    val st = spark.sparkContext.statusTracker
    val ran = warm.jobIds.flatMap(j => st.getJobInfo(j).toSeq.flatMap(_.stageIds))
      .distinct.filter(s => st.getStageInfo(s).exists(_.submissionTime > 0))
    assert(warm.jobIds.nonEmpty && ran.nonEmpty)
    assert(warm.stages.map(_.id).sorted == ran.sorted)
  }

  test("scaling exponents: equal sizes and failed runs give null, valid JSON") {
    def pt(rows: Long, ms: Double*) =
      Point(s"d$rows", rows, ms.map(m => Run(m, 0, 0, Nil, Nil)))
    val a = pt(1000, 100); val b = pt(2000, 250, 200)
    val same = pt(2000, 300); val failed = pt(4000)
    assert(math.abs(Measure.exponent(a, b) - 1.0) < 1e-9)
    assert(Measure.exponent(b, same).isInfinite)
    assert(Measure.exponent(same, failed).isNaN)
    // strict parse: a bare Infinity or NaN token is rejected
    val q = new ObjectMapper().readTree(
      Measure.toJson(Seq("q" -> Seq(a, b, same, failed)))).get("q")
    val exps = q.get("exponents")
    assert(exps.size == 3)
    assert(exps.get(0).asDouble == 1.0)
    assert(exps.get(1).isNull && exps.get(2).isNull)
    assert(q.get("series").get(1).get("sec").asDouble == 0.2)
    assert(q.get("series").get(3).get("sec").isNull)
    assert(q.get("series").get(3).get("runs").size == 0)
  }
}
