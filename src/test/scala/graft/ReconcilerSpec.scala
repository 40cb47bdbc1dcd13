package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{Cron, JobManager, Reconciler, RetryPolicy, SyncResource}
import graft.model.SyncJobSpec

/** The reconcile loop's two contracts, driven entirely on a fake clock:
  * cron schedules fire at exactly the matching minutes, and injected
  * failures follow the reference's `initialDelay × multiplier^k` backoff
  * sequence exactly (reference: types.go:57-67, jirasync_controller.go:
  * 612-646). Plus the cron matcher's own calendar arithmetic.
  */
class ReconcilerSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String) = Timestamp.valueOf(s)

  // ---- Cron ---------------------------------------------------------------

  test("cron: next-match arithmetic across days, months and weekdays") {
    val workdays = Cron.parse("0 9 * * 1-5")
    // Sat 2002-01-05 → Mon 2002-01-07 09:00
    assert(workdays.nextAfter(ts("2002-01-05 10:00:00"))
      == ts("2002-01-07 09:00:00"))
    // strictly after: a tick exactly ON the fire minute re-arms to tomorrow
    assert(workdays.nextAfter(ts("2002-01-07 09:00:00"))
      == ts("2002-01-08 09:00:00"))
    val q15 = Cron.parse("*/15 * * * *")
    assert(q15.nextAfter(ts("2002-01-01 00:07:00")) == ts("2002-01-01 00:15:00"))
    assert(q15.nextAfter(ts("2002-01-01 23:45:00")) == ts("2002-01-02 00:00:00"))
    // month + day-of-month pin (Feb 28, 14:30)
    assert(Cron.parse("30 14 28 2 *").nextAfter(ts("2002-03-01 00:00:00"))
      == ts("2003-02-28 14:30:00"))
    // leap day: next Feb 29 after 2002 is 2004
    assert(Cron.parse("0 0 29 2 *").nextAfter(ts("2002-01-01 00:00:00"))
      == ts("2004-02-29 00:00:00"))
    // dow 7 ≡ 0 ≡ Sunday
    assert(Cron.parse("0 0 * * 7").nextAfter(ts("2002-01-01 00:00:00"))
      == ts("2002-01-06 00:00:00"))
    // vixie OR-rule: both day fields restricted → either may match
    assert(Cron.parse("0 0 2 * 0").nextAfter(ts("2002-01-01 00:00:00"))
      == ts("2002-01-02 00:00:00")) // dom=2 matches before Sunday the 6th
    // impossible date never fires
    intercept[IllegalArgumentException] {
      Cron.parse("0 0 31 4 *").nextAfter(ts("2002-01-01 00:00:00"))
    }
    intercept[IllegalArgumentException] { Cron.parse("not a cron") }
    intercept[IllegalArgumentException] { Cron.parse("61 * * * *") }
  }

  // ---- Reconciler ---------------------------------------------------------

  private def jqlSpec(jql: String) =
    SyncJobSpec("jql", Nil, Some(jql), None, None, "repo", None,
      max_retries = 0, backoff_base_sec = 1, backoff_cap_sec = 2,
      dry_run = true)

  /** Advance a fake clock from `from` to `to` in `stepMs` increments,
    * ticking once per step. Returns (fire time, job id) for every
    * submission.
    */
  private def run(rec: Reconciler, from: Timestamp, to: Timestamp,
      stepMs: Long): Seq[(Timestamp, String)] = {
    var now = from
    val out = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, String)]
    while (!now.after(to)) {
      rec.tick(now, sleep = _ => ()).foreach(id => out += ((now, id)))
      now = new Timestamp(now.getTime + stepMs)
    }
    out.toSeq
  }

  private def mkReconciler(tag: String): (Reconciler, JobManager) = {
    val work = Files.createTempDirectory(s"graft-reconcile-$tag").toString
    val mgr = new JobManager(spark)
    val rec = new Reconciler(spark, mgr,
      () => Tables.issues(spark, sf), () => Tables.links(spark, sf),
      s"$work/repos", s"$work/states")
    (rec, mgr)
  }

  test("cron schedule fires exactly at matching minutes on a fake clock") {
    val (rec, mgr) = mkReconciler("cron")
    rec.apply(SyncResource("quarterly", jqlSpec("project = P1"),
      schedule = Some(Cron.parse("*/15 * * * *"))), ts("2002-01-01 00:00:00"))
    // one tick per simulated minute over one hour
    val fires = run(rec, ts("2002-01-01 00:01:00"), ts("2002-01-01 01:00:00"), 60000L)
    assert(fires.map(_._1) == Seq(
      ts("2002-01-01 00:15:00"), ts("2002-01-01 00:30:00"),
      ts("2002-01-01 00:45:00"), ts("2002-01-01 01:00:00")),
      s"got fires at ${fires.map(_._1)}")
    // every run completed and the resource re-armed for the next window
    fires.foreach { case (_, id) => assert(mgr.status(id).get.phase == "Completed") }
    val st = rec.status("quarterly").get
    assert(st.phase == "Scheduled" &&
      st.nextRunAt.contains(ts("2002-01-01 01:15:00")))
    assert(st.retryCount == 0)
  }

  test("injected failures follow initialDelay × multiplier^k exactly") {
    val (rec, mgr) = mkReconciler("backoff")
    // invalid JQL: every attempt fails at the engine door; job-level
    // retries are off (max_retries=0) so the reconcile policy is the only
    // retry loop in play
    rec.apply(SyncResource("doomed", jqlSpec("project = AND AND"),
      retryPolicy = Some(RetryPolicy(maxRetries = 3, backoffMultiplier = 2.0,
        initialDelaySec = 10))), ts("2002-01-01 00:00:00"))
    val fires = run(rec, ts("2002-01-01 00:00:00"), ts("2002-01-01 00:02:00"), 1000L)
    val t0 = ts("2002-01-01 00:00:00").getTime
    val offsets = fires.map(f => (f._1.getTime - t0) / 1000)
    // initial attempt, then retries delayed 10, 10×2, 10×2² seconds
    assert(offsets == Seq(0L, 10L, 30L, 70L),
      s"backoff sequence diverged from the reference formula: $offsets")
    // budget exhausted: one-shot rests in Failed with the error recorded
    val st = rec.status("doomed").get
    assert(st.phase == "Failed" && st.retryCount == 3 && st.lastError.isDefined)
    // all four submitted jobs are terminal failures in the job machine
    assert(fires.map(f => mgr.status(f._2).get.phase).forall(_ == "Failed"))
    // and no further fire ever happens
    assert(rec.tick(ts("2002-01-01 00:10:00"), sleep = _ => ()).isEmpty)
  }

  // ---- ApiServerReconciler (GraftApiServer) -------------------------------

  private def apiManifest(yaml: String): com.fasterxml.jackson.databind.JsonNode = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.valueToTree(new org.yaml.snakeyaml.Yaml().load[Object](yaml))
  }

  private val apiYaml =
    """apiVersion: graft.dev/v1alpha1
      |kind: GraftApiServer
      |metadata: {name: demo, namespace: ns1}
      |spec:
      |  jiraCredentials: {secretRef: {name: jira-creds}}
      |  image: {repository: graft/api-server, tag: v1.0.0}
      |  replicas: 2
      |""".stripMargin

  test("apiserver parseSpec: validation failures name every bad field") {
    import graft.jobs.ApiServerReconciler
    val bad = apiManifest(apiYaml
      .replace("replicas: 2", "replicas: 99")
      .replace("name: jira-creds", "name: ''"))
    val errs = ApiServerReconciler.parseSpec(bad).left.toOption
      .getOrElse(fail("an out-of-range spec must not parse"))
    assert(errs.exists(_.contains("replicas")) && errs.exists(_.contains("secretRef")))
    // the corrected spec parses
    assert(ApiServerReconciler.parseSpec(apiManifest(apiYaml)).isRight)
  }

  test("apiserver rendered manifests validate as the CRD example's shape") {
    import graft.jobs.ApiServerReconciler
    // the committed example parses with CRD defaults applied
    val exampleDocs = new org.yaml.snakeyaml.Yaml().loadAll(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("deploy/examples/graftapiserver-example.yaml")), "UTF-8"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    val ex = exampleDocs.asScala.filter(_ != null)
      .map(mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode]).head
    val spec = ApiServerReconciler.parseSpec(ex)
      .fold(e => fail(s"example must parse: $e"), identity)
    assert(spec.image == "graft/api-server:v1.0.0" && spec.replicas == 2)
    assert(spec.servicePort == 80 && spec.port == 8080)
    // defaults arc: a minimal spec gets the reference controller's defaults
    val minimal = ApiServerReconciler.parseSpec(apiManifest(apiYaml
      .replace("  replicas: 2\n", ""))).toOption.get
    assert(minimal.replicas == ApiServerReconciler.DefaultReplicas)
    assert(minimal.requests == ApiServerReconciler.DefaultRequests)
    // the rendered configmap data is the env contract the server reads
    val cm = ApiServerReconciler.configMapData(spec)
    assert(cm("API_PORT") == "8080" && cm("ENABLE_JOBS") == "true")
    assert(cm("JOB_IMAGE") == "graft/sync-job:v1.0.0")
    // config change → different hash → pod-template annotation rolls
    val h1 = ApiServerReconciler.configHash(spec)
    val h2 = ApiServerReconciler.configHash(spec.copy(logLevel = "DEBUG"))
    assert(h1 != h2)
    // the desired trio, ConfigMap first; the deployment carries the
    // config-hash annotation, the spec's replicas and the CRD-default
    // resources (apiserver_controller.go:44-57)
    val trio = ApiServerReconciler.desired(minimal)
    assert(trio.map(m => m.path("kind").asText -> m.path("metadata").path("name").asText) ==
      Seq("ConfigMap" -> "demo-api-config", "Deployment" -> "demo-api", "Service" -> "demo-api"))
    val dep = trio(1)
    val tpl = dep.path("spec").path("template")
    assert(tpl.path("metadata").path("annotations")
      .path("graft.dev/config-hash").asText == ApiServerReconciler.configHash(minimal))
    assert(tpl.path("spec").path("containers").get(0).path("resources")
      .path("requests").path("cpu").asText == "100m")
    assert(dep.path("spec").path("replicas").asInt == 2)
    val scaled = ApiServerReconciler.parseSpec(apiManifest(apiYaml
      .replace("replicas: 2", "replicas: 5"))).toOption.get
    assert(ApiServerReconciler.desired(scaled)(1).path("spec").path("replicas").asInt == 5)
  }

  test("success resets the retry budget; one-shots rest in Completed") {
    val (rec, _) = mkReconciler("oneshot")
    rec.apply(SyncResource("once", jqlSpec("project = P1")),
      ts("2002-01-01 00:00:00"))
    val fires = run(rec, ts("2002-01-01 00:00:00"), ts("2002-01-01 00:00:05"), 1000L)
    assert(fires.size == 1)
    val st = rec.status("once").get
    assert(st.phase == "Completed" && st.nextRunAt.isEmpty && st.retryCount == 0)
    // idle ticks change nothing
    assert(rec.tick(ts("2002-01-01 00:30:00"), sleep = _ => ()).isEmpty)
    assert(rec.status("once").get.phase == "Completed")
  }
}
