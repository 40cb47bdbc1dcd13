package graft

import java.sql.Timestamp

/** Thin command-line entry over the engine — the Spark spelling of the
  * reference's primary UX (`jira-sync sync --jql=... --repo=...`,
  * reference: cmd/jira-sync/main.go:17-30, internal/cli/sync.go:74):
  *
  * {{{
  * graft.Cli sync     --source <sfDir> --repo <dir> --state <path>
  *                    [--jql <query>] [--issues K1,K2]
  *                    [--profile <name> --store <dir>]
  *                    [--incremental] [--force] [--dry-run]
  *                    [--projects P1,P2]
  * graft.Cli recover  --source <sfDir> --repo <dir> --state <path> [--repair]
  * graft.Cli validate --jql <query>
  * graft.Cli profile  list|show|create|update|delete|templates|export|import
  * }}}
  *
  * Everything here is flag parsing and printing; all semantics live in
  * [[engine.SyncEngine]] / [[jql.Validator]], which the test suite and the
  * oracle gate already cover. `run` returns the exit code so tests can drive
  * the CLI in-process; `main` is the thinnest possible shell around it.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val rc = run(args)
    if (rc != 0) sys.exit(rc)
  }

  private def parse(args: Seq[String]): (Map[String, String], Set[String]) = {
    val kv = Map.newBuilder[String, String]
    val flags = Set.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val name = a.drop(2)
        // both spellings: `--flag value` and the reference's `--flag=value`
        if (name.contains("=")) {
          val Array(k, v) = name.split("=", 2)
          kv += k -> v; i += 1
        } else if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          kv += name -> args(i + 1); i += 2
        } else { flags += name; i += 1 }
      } else i += 1
    }
    (kv.result(), flags.result())
  }

  def run(args: Array[String]): Int = {
    if (args.isEmpty) { Console.err.println(usage); return 2 }
    val (kv, flags) = parse(args.toSeq.drop(1))
    args(0) match {
      case "validate" =>
        kv.get("jql") match {
          case None => Console.err.println("validate requires --jql"); 2
          case Some(q) =>
            val r = jql.Validator.validate(q)
            r.errors.foreach(e => println(s"error: $e"))
            r.warnings.foreach(w => println(s"warning: $w"))
            r.suggestions.foreach(s => println(s"suggestion: $s"))
            println(if (r.valid) "valid" else "invalid")
            if (r.valid) 0 else 1
        }
      case cmd @ ("sync" | "recover") =>
        val missing = Seq("source", "repo", "state").filterNot(kv.contains)
        if (missing.nonEmpty) {
          Console.err.println(s"$cmd requires ${missing.map("--" + _).mkString(", ")}")
          return 2
        }
        val spark = Session.cli()
        try {
          if (cmd == "recover") {
            val findings = engine.SyncEngine.recover(spark, kv("repo"),
              kv("state"), repair = flags.contains("repair"))
            val rows = findings.collect()
            rows.foreach(r => println((s"${r.getAs[String]("issue")}: " +
              s"${Option(r.getAs[String]("key")).getOrElse("")} " +
              s"${Option(r.getAs[String]("file_path")).getOrElse("")}").trim))
            println(s"findings: ${rows.length}")
            0
          } else {
            val src = kv("source")
            // profile-driven sync (reference: internal/cli/sync.go --profile):
            // the saved profile supplies jql/keys/epic + option defaults;
            // explicit flags override, and usage accounting flows back
            val store = new api.ProfileStore(kv.getOrElse("store", "."))
            val prof = kv.get("profile") match {
              case Some(n) => store.get(n) match {
                case some @ Some(_) => some
                case None =>
                  Console.err.println(s"profile not found: $n"); return 1
              }
              case None => None
            }
            // selection precedence: explicit --jql > explicit --issues >
            // profile jql > profile issue list > profile epic
            val keysOf = (s: String) =>
              s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
            def keysJql(ks: Seq[String]) =
              ks.map(k => "\"" + k + "\"").mkString("key in (", ", ", ")")
            val jql = kv.get("jql")
              .orElse(kv.get("issues").map(ks => keysJql(keysOf(ks))))
              .orElse(prof.map(_.jql).filter(_.nonEmpty))
              .orElse(prof.map(_.issue_keys).filter(_.nonEmpty).map(keysJql))
              .orElse(prof.map(_.epic_key).filter(_.nonEmpty)
                .map(k => s""""Epic Link" = $k"""))
            val opts = engine.SyncEngine.SyncOptions(
              jql = jql,
              incremental = flags.contains("incremental") ||
                prof.exists(_.options.incremental),
              force = flags.contains("force") || prof.exists(_.options.force),
              dryRun = flags.contains("dry-run") ||
                prof.exists(_.options.dry_run),
              projects = kv.get("projects").map(_.split(',').toSeq).getOrElse(Nil))
            val now = new Timestamp(System.currentTimeMillis())
            val r = engine.SyncEngine.run(spark,
              Tables.issuesFull(spark, src), Tables.links(spark, src),
              kv("repo"), kv("state"), opts, now = now)
            prof.foreach(p => store.recordUsage(p.name, r.elapsed_ms,
              success = r.failed == 0,
              new Timestamp(System.currentTimeMillis())))
            println(s"""{"op_id":"${r.op_id}","total":${r.total},""" +
              s""""successful":${r.successful},"failed":${r.failed},""" +
              s""""skipped":${r.skipped},"elapsed_ms":${r.elapsed_ms},""" +
              s""""issues_per_sec":${r.issues_per_sec}}""")
            if (r.failed > 0) 1 else 0
          }
        } catch {
          case e: Throwable =>
            Console.err.println(s"$cmd failed: ${e.getMessage}")
            1
        }
      case "reconcile" =>
        // the reference operator's long-running reconcile driver as a CLI:
        // declared resources (spec + cron schedule + retry policy) loop
        // through the JobManager phase machine until interrupted (or for
        // --ticks N, the bounded test/demo form)
        val missing = Seq("source", "repo", "state", "resources")
          .filterNot(kv.contains)
        if (missing.nonEmpty) {
          Console.err.println(
            s"reconcile requires ${missing.map("--" + _).mkString(", ")}")
          return 2
        }
        val resources =
          try parseResources(kv("resources"))
          catch {
            case e: Throwable =>
              Console.err.println(s"bad --resources file: ${e.getMessage}")
              return 2
          }
        val spark = Session.cli()
        val src = kv("source")
        val mgr = new jobs.JobManager(spark)
        val rec = new jobs.Reconciler(spark, mgr,
          () => Tables.issuesFull(spark, src), () => Tables.links(spark, src),
          kv("repo"), kv("state"))
        val t0 = new Timestamp(System.currentTimeMillis())
        resources.foreach(r => rec.apply(r, t0))
        println(s"""{"reconciling":${resources.size}}""")
        val ticks = kv.get("ticks").flatMap(_.toIntOption).getOrElse(Int.MaxValue)
        val stepMs = kv.get("step-ms").flatMap(_.toLongOption).getOrElse(10000L)
        var i = 0
        while (i < ticks) {
          val now = new Timestamp(System.currentTimeMillis())
          rec.tick(now).foreach(id =>
            println(s"""{"fired":"$id","at":"$now"}"""))
          i += 1
          if (i < ticks) Thread.sleep(stepMs)
        }
        rec.list().foreach(st => println(s"""{"resource":"${st.resource.name}",""" +
          s""""phase":"${st.phase}","retries":${st.retryCount}}"""))
        if (rec.list().exists(_.phase == "Failed")) 1 else 0
      case "serve" =>
        val missing = Seq("source", "repo", "state").filterNot(kv.contains)
        if (missing.nonEmpty) {
          Console.err.println(s"serve requires ${missing.map("--" + _).mkString(", ")}")
          return 2
        }
        val (_, port) = startServer(kv, flags)
        println(s"""{"listening":"${kv.getOrElse("host", "127.0.0.1")}:$port"}""")
        // serve forever (reference: cmd/api-server/main.go); ApiSpec drives
        // the server in-process instead of through this blocking path
        new java.util.concurrent.CountDownLatch(1).await()
        0
      case "profile" =>
        // the reference's profile management family (reference:
        // internal/cli/profile.go — list/create/show/update/delete/
        // templates/export/import) over the same file-backed store the
        // REST façade mutates; pure driver-side metadata, no Spark session
        if (args.length < 2) {
          Console.err.println(s"profile requires a subcommand\n$usage")
          return 2
        }
        val rest = args.toSeq.drop(2)
        val (pkv, pflags) = parse(rest)
        val store = new api.ProfileStore(pkv.getOrElse("store", "."))
        val now = new Timestamp(System.currentTimeMillis())
        // repeated --var k=v pairs (parse() keeps only the last duplicate key)
        val vars: Map[String, String] = rest.sliding(2).collect {
          case Seq("--var", kvs) if kvs.contains("=") =>
            val Array(k, v) = kvs.split("=", 2); k -> v
        }.toMap
        // first token that is neither a flag nor a flag's value
        def positional: Option[String] = {
          var i = 0
          while (i < rest.length) {
            if (rest(i).startsWith("--")) {
              i += (if (i + 1 < rest.length && !rest(i + 1).startsWith("--")) 2
                    else 1)
            } else return Some(rest(i))
          }
          None
        }
        def fmt(p: api.ProfileStore.Profile): String =
          s"${p.name}\t${if (p.jql.nonEmpty) p.jql
            else if (p.epic_key.nonEmpty) s"epic:${p.epic_key}"
            else s"keys:${p.issue_keys.mkString(",")}"}\t${p.repository}\t${p.description}"
        args(1) match {
          case "list" =>
            store.list().foreach(p => println(fmt(p))); 0
          case "templates" =>
            api.ProfileTemplates.all.foreach { t =>
              println(s"${t.id}\t${t.title}\t${t.description}")
              if (pflags.contains("details")) {
                t.variables.foreach(v => println(s"  var ${v.name}" +
                  (if (v.required) " (required)"
                   else s" [default: ${v.default}]") + s" - ${v.description}"))
                println(s"  example: ${t.example}")
              }
            }
            0
          case "show" =>
            positional.orElse(pkv.get("name")) match {
              case None => Console.err.println("show requires a profile name"); 2
              case Some(n) => store.get(n) match {
                case None => Console.err.println(s"not found: $n"); 1
                case Some(p) =>
                  println(fmt(p))
                  println(s"  tags: ${p.tags.mkString(",")}")
                  println(s"  options: concurrency=${p.options.concurrency} " +
                    s"rate_limit=${p.options.rate_limit} " +
                    s"incremental=${p.options.incremental} " +
                    s"include_links=${p.options.include_links}")
                  println(s"  usage: times_used=${p.usage.times_used} " +
                    s"success_rate=${p.usage.success_rate}")
                  0
              }
            }
          case "create" =>
            val built: Either[Seq[String], api.ProfileStore.Profile] =
              pkv.get("template") match {
                case Some(tid) => api.ProfileTemplates.byId(tid) match {
                  case None => Left(Seq(s"unknown template: $tid"))
                  case Some(t) =>
                    // --name/--repository/--jql flags double as variables so
                    // the reference's create spelling works unchanged
                    api.ProfileTemplates.expand(t,
                      vars ++ (pkv - "store" - "template" - "var"))
                }
                case None => pkv.get("name") match {
                  case None => Left(Seq("create requires --name"))
                  case Some(n) => Right(api.ProfileStore.Profile(
                    name = n,
                    description = pkv.getOrElse("description", ""),
                    repository = pkv.getOrElse("repository", ""),
                    jql = pkv.getOrElse("jql", ""),
                    epic_key = pkv.getOrElse("epic-key", ""),
                    issue_keys = pkv.get("issue-keys")
                      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
                      .getOrElse(Nil)))
                }
              }
            built match {
              case Left(errs) =>
                errs.foreach(e => Console.err.println(s"error: $e")); 2
              case Right(p) => store.create(p, now) match {
                case Left(v) =>
                  v.errors.foreach(e => Console.err.println(s"error: $e")); 1
                case Right(cp) => println(s"created ${cp.name}"); 0
              }
            }
          case "update" =>
            positional.orElse(pkv.get("name")) match {
              case None => Console.err.println("update requires a profile name"); 2
              case Some(n) => store.get(n) match {
                case None => Console.err.println(s"not found: $n"); 1
                case Some(p0) =>
                  val p = p0.copy(
                    description = pkv.getOrElse("description", p0.description),
                    repository = pkv.getOrElse("repository", p0.repository),
                    jql = pkv.getOrElse("jql", p0.jql),
                    epic_key = pkv.getOrElse("epic-key", p0.epic_key))
                  store.update(n, p, now) match {
                    case Left(v) =>
                      v.errors.foreach(e => Console.err.println(s"error: $e")); 1
                    case Right(None) => Console.err.println(s"not found: $n"); 1
                    case Right(Some(_)) => println(s"updated $n"); 0
                  }
              }
            }
          case "delete" =>
            positional.orElse(pkv.get("name")) match {
              case None => Console.err.println("delete requires a profile name"); 2
              case Some(n) =>
                if (store.delete(n)) { println(s"deleted $n"); 0 }
                else { Console.err.println(s"not found: $n"); 1 }
            }
          case "export" =>
            val json = store.exportJson()
            pkv.get("out") match {
              case Some(f) =>
                java.nio.file.Files.write(java.nio.file.Paths.get(f),
                  json.getBytes("UTF-8"))
                println(s"exported to $f"); 0
              case None => println(json); 0
            }
          case "import" =>
            pkv.get("in") match {
              case None => Console.err.println("import requires --in <file>"); 2
              case Some(f) =>
                val json = new String(java.nio.file.Files.readAllBytes(
                  java.nio.file.Paths.get(f)), "UTF-8")
                val (imported, skipped, invalid) =
                  store.importJson(json, now, pflags.contains("overwrite"))
                println(s"imported $imported, skipped $skipped" +
                  (if (invalid.nonEmpty) s", invalid: ${invalid.mkString(",")}"
                   else ""))
                if (invalid.nonEmpty) 1 else 0
            }
          case other =>
            Console.err.println(s"unknown profile subcommand: $other\n$usage"); 2
        }
      case "render" =>
        // the no-client-go operator story completed: parse GraftApiServer
        // CRs, render the managed ConfigMap/Deployment/Service trio
        // (jobs/ApiServerReconciler), and write them as kubectl-appliable
        // YAML. A CI pipeline
        // gets drift-free manifests from the CR without a controller in the
        // cluster.
        val missing = Seq("resources", "out").filterNot(kv.contains)
        if (missing.nonEmpty) {
          Console.err.println(s"render requires ${missing.map("--" + _).mkString(", ")}")
          return 2
        }
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        import scala.jdk.CollectionConverters._
        val docs = new org.yaml.snakeyaml.Yaml()
          .loadAll(new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(kv("resources"))), "UTF-8"))
          .asScala.toSeq.filter(_ != null)
          .map(mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode])
          .filter(_.path("kind").asText == "GraftApiServer")
        if (docs.isEmpty) {
          Console.err.println("no GraftApiServer documents in --resources"); return 1
        }
        val outDir = java.nio.file.Paths.get(kv("out"))
        java.nio.file.Files.createDirectories(outDir)
        var bad = 0
        docs.foreach { d =>
          jobs.ApiServerReconciler.parseSpec(d) match {
            case Left(errs) =>
              Console.err.println(s"invalid ${d.path("metadata").path("name").asText}: " +
                errs.mkString("; "))
              bad += 1
            case Right(spec) =>
              val opts = new org.yaml.snakeyaml.DumperOptions()
              opts.setDefaultFlowStyle(
                org.yaml.snakeyaml.DumperOptions.FlowStyle.BLOCK)
              val yaml = new org.yaml.snakeyaml.Yaml(opts)
              jobs.ApiServerReconciler.desired(spec).foreach { m =>
                val kind = m.path("kind").asText.toLowerCase
                val name = m.path("metadata").path("name").asText
                val obj = mapper.convertValue(m, classOf[java.util.Map[String, Object]])
                java.nio.file.Files.writeString(
                  outDir.resolve(s"$name-$kind.yaml"), yaml.dump(obj))
                println(s"rendered $name-$kind.yaml")
              }
          }
        }
        if (bad > 0) 1 else 0
      case other =>
        Console.err.println(s"unknown command: $other\n$usage"); 2
    }
  }

  /** Parse a reconcile resources file. Two shapes are accepted and may be
    * mixed in one file:
    *
    *  1. the flat shape: `{name, sync_type, jql_query?, project_key?,
    *     issue_keys?, schedule?, retry?: {max_retries, backoff_multiplier,
    *     initial_delay_sec}, dry_run?}`;
    *  2. a K8s custom-resource manifest (`deploy/crds/graftsync-crd.yaml`):
    *     `{apiVersion, kind: GraftSync, metadata: {name}, spec: {syncType,
    *     target: {issueKeys|jqlQuery|projectKey|epicKey}, destination:
    *     {repository, ...}, schedule?, retryPolicy?: {maxRetries,
    *     backoffMultiplier, initialDelay}, dryRun?}}` — the camelCase spec
    *     grammar of the reference CRD
    *     (reference: internal/operator/types/types.go:12-67), so a manifest
    *     written for `kubectl apply` drives `serve --reconcile` unchanged.
    *
    * A `.yaml`/`.yml` file may be a single document, a YAML array, or a
    * `---`-separated multi-document stream (the normal kubectl layout);
    * everything else parses as JSON (object or array). YAML loads through
    * snakeyaml (already the YAML sink's parser) and re-serializes to a
    * Jackson tree so both formats flow through one field extractor.
    */
  private[graft] def parseResources(path: String): Seq[jobs.SyncResource] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val lower = path.toLowerCase
    import scala.jdk.CollectionConverters._
    val docs: Seq[com.fasterxml.jackson.databind.JsonNode] =
      if (lower.endsWith(".yaml") || lower.endsWith(".yml")) {
        new org.yaml.snakeyaml.Yaml()
          .loadAll(new String(bytes, "UTF-8")).asScala.toSeq
          .filter(_ != null)
          .map(mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode])
      } else Seq(mapper.readTree(bytes))
    val nodes = docs.flatMap { d =>
      if (d.isArray) d.elements().asScala.toSeq else Seq(d)
    }
    require(nodes.nonEmpty, "resources file holds no resources")
    nodes.map { n =>
      if (n.has("spec") && n.has("metadata")) parseManifestResource(n)
      else parseFlatResource(n)
    }
  }

  private def jstr(n: com.fasterxml.jackson.databind.JsonNode, f: String)
      : Option[String] =
    Option(n.get(f)).filter(!_.isNull).map(_.asText).filter(_.nonEmpty)

  private def parseFlatResource(
      n: com.fasterxml.jackson.databind.JsonNode): jobs.SyncResource = {
    import scala.jdk.CollectionConverters._
    def str(f: String) = jstr(n, f)
    val name = str("name").getOrElse(
      throw new IllegalArgumentException("resource needs a 'name'"))
    val spec = model.SyncJobSpec(
      sync_type = str("sync_type").getOrElse("jql"),
      issue_keys = Option(n.get("issue_keys")).filter(_.isArray)
        .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil),
      jql_query = str("jql_query"),
      project_key = str("project_key"),
      epic_key = str("epic_key"),
      destination = str("destination").getOrElse("repo"),
      schedule = str("schedule"),
      max_retries = 0, backoff_base_sec = 1, backoff_cap_sec = 2,
      dry_run = Option(n.get("dry_run")).exists(_.asBoolean(false)))
    val retry = Option(n.get("retry")).filter(!_.isNull).map { r =>
      jobs.RetryPolicy(
        maxRetries = Option(r.get("max_retries")).map(_.asInt(0)).getOrElse(0),
        backoffMultiplier = Option(r.get("backoff_multiplier"))
          .map(_.asDouble(2.0)).getOrElse(2.0),
        initialDelaySec = Option(r.get("initial_delay_sec"))
          .map(_.asInt(30)).getOrElse(30))
    }
    jobs.SyncResource(name, spec, str("schedule").map(jobs.Cron.parse), retry)
  }

  /** K8s GraftSync manifest → SyncResource. Unknown kinds are rejected so a
    * file that accidentally includes a Deployment doesn't silently become a
    * sync job.
    */
  private def parseManifestResource(
      n: com.fasterxml.jackson.databind.JsonNode): jobs.SyncResource = {
    import scala.jdk.CollectionConverters._
    val kind = jstr(n, "kind").getOrElse("")
    require(kind == "GraftSync",
      s"unsupported manifest kind '$kind' (expected GraftSync)")
    val name = Option(n.get("metadata")).flatMap(jstr(_, "name")).getOrElse(
      throw new IllegalArgumentException("manifest needs metadata.name"))
    val spec = n.get("spec")
    val target = Option(spec.get("target")).getOrElse(
      com.fasterxml.jackson.databind.node.MissingNode.getInstance()
        : com.fasterxml.jackson.databind.JsonNode)
    val dest = Option(spec.get("destination")).flatMap(jstr(_, "repository"))
    val job = model.SyncJobSpec(
      sync_type = jstr(spec, "syncType").getOrElse("jql"),
      issue_keys = Option(target.get("issueKeys")).filter(_.isArray)
        .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil),
      jql_query = jstr(target, "jqlQuery"),
      project_key = jstr(target, "projectKey"),
      epic_key = jstr(target, "epicKey"),
      destination = dest.getOrElse("repo"),
      schedule = jstr(spec, "schedule"),
      max_retries = 0, backoff_base_sec = 1, backoff_cap_sec = 2,
      dry_run = Option(spec.get("dryRun")).exists(_.asBoolean(false)))
    val retry = Option(spec.get("retryPolicy")).filter(!_.isNull).map { r =>
      jobs.RetryPolicy(
        maxRetries = Option(r.get("maxRetries")).map(_.asInt(0)).getOrElse(0),
        backoffMultiplier = Option(r.get("backoffMultiplier"))
          .map(_.asDouble(2.0)).getOrElse(2.0),
        initialDelaySec = Option(r.get("initialDelay"))
          .map(_.asInt(30)).getOrElse(30))
    }
    jobs.SyncResource(name, job, jstr(spec, "schedule").map(jobs.Cron.parse),
      retry)
  }


  /** Build and start the REST façade from CLI flags
    * (reference: cmd/api-server/main.go flag surface).
    */
  private[graft] def startServer(kv: Map[String, String],
      flags: Set[String] = Set.empty): (api.ApiServer, Int) = {
    val spark = Session.cli()
    val src = kv("source")
    val mgr = new jobs.JobManager(spark)
    val issuesFn = () => Tables.issuesFull(spark, src)
    val linksFn = () => Tables.links(spark, src)
    // --reconcile <resources file> runs the operator's control loop inside
    // serve: declared resources fire on the real clock every
    // --reconcile-interval-ms (reference requeues every 30 s,
    // internal/operator/controllers/jirasync_controller.go:472-554), and
    // their phase/backoff state is readable at GET /api/v1/resources
    val reconciler = kv.get("reconcile").map { path =>
      val rec = new jobs.Reconciler(spark, mgr, issuesFn, linksFn,
        kv("repo"), kv("state"))
      val t0 = new Timestamp(System.currentTimeMillis())
      parseResources(path).foreach(r => rec.apply(r, t0))
      rec
    }
    val server = new api.ApiServer(spark,
      mgr,
      new api.ProfileStore(s"${kv("state")}/profiles"),
      issuesFn, linksFn,
      kv("repo"), kv("state"),
      host = kv.getOrElse("host", "127.0.0.1"),
      port = kv.get("port").flatMap(_.toIntOption).getOrElse(8080),
      rateLimitPerMinute = kv.get("rate-limit").flatMap(_.toIntOption).getOrElse(0),
      // flag wins; GRAFT_AUTH_TOKEN is the K8s-secret-friendly spelling
      // (deploy/operator.yaml mounts the token as env, never as argv)
      authToken = kv.get("auth-token").orElse(sys.env.get("GRAFT_AUTH_TOKEN")),
      version = "0.1.0",
      reconciler = reconciler,
      reconcileIntervalMs = kv.get("reconcile-interval-ms")
        .flatMap(_.toLongOption).getOrElse(30000L),
      // both spellings: bare `--open-metrics` and `--open-metrics=true`
      openMetrics = flags.contains("open-metrics") ||
        kv.get("open-metrics").exists(_.equalsIgnoreCase("true")))
    val port = server.start()
    (server, port)
  }

  private val usage: String =
    """usage:
      |  sync     --source <sfDir> --repo <dir> --state <path>
      |           [--jql <query>] [--issues K1,K2] [--profile <name>
      |            --store <dir>] [--incremental] [--force] [--dry-run]
      |           [--projects P1,P2]
      |           (selection precedence: --jql > --issues > profile jql >
      |            profile issue list > profile epic; profile options set
      |            incremental/force/dry-run defaults and usage is recorded
      |            back; parallelism/rate are Spark-session-level, not flags)
      |  recover  --source <sfDir> --repo <dir> --state <path> [--repair]
      |  validate --jql <query>
      |  reconcile --source <sfDir> --repo <dir> --state <path>
      |           --resources <file.json> [--ticks N] [--step-ms MS]
      |  render   --resources <graftapiserver.yaml> --out <dir>
      |           (writes the CR's managed ConfigMap/Deployment/Service
      |            as kubectl-appliable YAML)
      |  serve    --source <sfDir> --repo <dir> --state <path>
      |           [--host 127.0.0.1] [--port 8080] [--rate-limit N]
      |           [--auth-token T] [--reconcile <resources.json>]
      |           [--reconcile-interval-ms 30000] [--open-metrics]
      |           (a configured --auth-token is always enforced as a
      |            Bearer token — except GET /api/v1/health, which probes
      |            must reach, and /metrics when --open-metrics is set for
      |            tokenless Prometheus scrapes; loopback binds
      |            additionally get wildcard CORS, non-loopback do not)
      |  profile  list|show <name>|create|update <name>|delete <name>|
      |           templates [--details]|export [--out f]|import --in f
      |           [--overwrite]
      |           [--store <dir>] [--name N] [--jql Q] [--repository R]
      |           [--description D] [--epic-key K] [--issue-keys K1,K2]
      |           [--template <id> --var k=v ...]""".stripMargin
}
