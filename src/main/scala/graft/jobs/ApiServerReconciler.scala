package graft.jobs

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** GraftApiServer spec parsing and manifest rendering — the desired-state
  * half of the reference operator's APIServer controller (reference:
  * internal/operator/controllers/apiserver_controller.go:244-325
  * reconcileConfigMap/Deployment/Service, :340-453 builders,
  * CRD deploy/crds/graftapiserver-crd.yaml): `graft.Cli render` turns a
  * GraftApiServer resource into the ConfigMap/Deployment/Service trio it
  * manages, and `kubectl apply` is the loop that converges the cluster on
  * it. No client-go, no code generation: manifests are plain JsonNode
  * trees, rendered by the same grammar `kubectl apply` consumes.
  *
  * A bad spec is rejected with every violated field named
  * ([[ApiServerReconciler.parseSpec]]), never rendered. The deployment pod
  * template carries a config-hash annotation of the ConfigMap content
  * (reference :385) so a config change rolls pods by construction.
  */
object ApiServerReconciler {

  /** Defaults, verbatim from the reference controller
    * (apiserver_controller.go:44-57).
    */
  val DefaultPort = 8080
  val DefaultServicePort = 80
  val DefaultReplicas = 2
  val DefaultRequests: Map[String, String] = Map("cpu" -> "100m", "memory" -> "128Mi")
  val DefaultLimits: Map[String, String] = Map("cpu" -> "500m", "memory" -> "512Mi")

  /** Parsed + defaulted GraftApiServer spec (CRD: spec.*). */
  final case class Spec(
      name: String,
      namespace: String,
      secretName: String,
      imageRepository: String,
      imageTag: String,
      pullPolicy: String,
      replicas: Int,
      port: Int,
      servicePort: Int,
      serviceType: String,
      serviceAnnotations: Map[String, String],
      logLevel: String,
      logFormat: String,
      enableJobs: Boolean,
      jobImage: Option[String],
      safeMode: Boolean,
      requests: Map[String, String],
      limits: Map[String, String]) {
    def image: String = s"$imageRepository:$imageTag"
    def deploymentName: String = s"$name-api"
    def serviceName: String = s"$name-api"
    def configMapName: String = s"$name-api-config"
  }

  /** Parse a GraftApiServer manifest into a [[Spec]], applying CRD defaults;
    * Left = validation errors (the ConfigValidator arc,
    * apiserver_controller.go:112-119 — every violated field is named, and
    * a bad spec is never rendered).
    */
  def parseSpec(manifest: JsonNode): Either[Seq[String], Spec] = {
    val errs = Seq.newBuilder[String]
    val name = manifest.path("metadata").path("name").asText("")
    if (name.isEmpty) errs += "metadata.name is required"
    val namespace = manifest.path("metadata").path("namespace").asText("default")
    if (manifest.path("kind").asText("") != "GraftApiServer")
      errs += s"kind must be GraftApiServer, got '${manifest.path("kind").asText("")}'"
    val spec = manifest.path("spec")
    val secretName = spec.path("jiraCredentials").path("secretRef").path("name").asText("")
    if (secretName.isEmpty) errs += "spec.jiraCredentials.secretRef.name is required"
    val repo = spec.path("image").path("repository").asText("")
    val tag = spec.path("image").path("tag").asText("")
    if (!repo.matches("^[a-z0-9._/-]+$")) errs += s"spec.image.repository invalid: '$repo'"
    if (!tag.matches("^[a-zA-Z0-9._-]+$")) errs += s"spec.image.tag invalid: '$tag'"
    val pullPolicy = spec.path("image").path("pullPolicy").asText("IfNotPresent")
    if (!Set("Always", "Never", "IfNotPresent")(pullPolicy))
      errs += s"spec.image.pullPolicy invalid: '$pullPolicy'"
    val replicas = if (spec.path("replicas").isMissingNode) DefaultReplicas
      else spec.path("replicas").asInt(-1)
    if (replicas < 1 || replicas > 10) errs += s"spec.replicas out of range: $replicas"
    val cfg = spec.path("config")
    val port = if (cfg.path("port").isMissingNode) DefaultPort else cfg.path("port").asInt(-1)
    if (port < 1024 || port > 65535) errs += s"spec.config.port out of range: $port"
    val logLevel = cfg.path("logLevel").asText("INFO")
    if (!Set("DEBUG", "INFO", "WARN", "ERROR")(logLevel))
      errs += s"spec.config.logLevel invalid: '$logLevel'"
    val logFormat = cfg.path("logFormat").asText("json")
    if (!Set("json", "console")(logFormat))
      errs += s"spec.config.logFormat invalid: '$logFormat'"
    val svc = spec.path("service")
    val serviceType = svc.path("type").asText("ClusterIP")
    if (!Set("ClusterIP", "NodePort", "LoadBalancer")(serviceType))
      errs += s"spec.service.type invalid: '$serviceType'"
    val servicePort = if (svc.path("port").isMissingNode) DefaultServicePort
      else svc.path("port").asInt(-1)
    if (servicePort < 1 || servicePort > 65535)
      errs += s"spec.service.port out of range: $servicePort"
    def strMap(n: JsonNode): Map[String, String] =
      if (!n.isObject) Map.empty
      else n.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    val e = errs.result()
    if (e.nonEmpty) Left(e)
    else Right(Spec(name, namespace, secretName, repo, tag, pullPolicy, replicas,
      port, servicePort, serviceType, strMap(svc.path("annotations")),
      logLevel, logFormat,
      enableJobs = !cfg.has("enableJobs") || cfg.path("enableJobs").asBoolean(true),
      jobImage = Option(cfg.path("jobImage").asText("")).filter(_.nonEmpty),
      safeMode = cfg.path("safeModeEnabled").asBoolean(false),
      requests = DefaultRequests ++ strMap(spec.path("resources").path("requests")),
      limits = DefaultLimits ++ strMap(spec.path("resources").path("limits"))))
  }

  // ---- manifest rendering ---------------------------------------------------
  // JsonNode trees built through jackson, the exact shapes the reference
  // builders emit (buildConfigMapData :341-362, buildDeploymentSpec
  // :365-421, buildServiceSpec :424-453).

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def node(v: Any): JsonNode = v match {
    case m: Map[_, _] =>
      val o = mapper.createObjectNode()
      m.foreach { case (k, x) => o.set[JsonNode](k.toString, node(x)) }
      o
    case s: Seq[_] =>
      val a = mapper.createArrayNode()
      s.foreach(x => a.add(node(x)))
      a
    case s: String => mapper.getNodeFactory.textNode(s)
    case i: Int => mapper.getNodeFactory.numberNode(i)
    case b: Boolean => mapper.getNodeFactory.booleanNode(b)
    case null => mapper.getNodeFactory.nullNode()
    case other => mapper.getNodeFactory.textNode(other.toString)
  }

  def labels(s: Spec): Map[String, String] = Map(
    "app.kubernetes.io/name" -> "graft-api-server",
    "app.kubernetes.io/instance" -> s.name,
    "app.kubernetes.io/managed-by" -> "graft-operator")

  /** ConfigMap data (reference buildConfigMapData): the serving pod's
    * environment.
    */
  def configMapData(s: Spec): Map[String, String] = {
    val base = Map(
      "LOG_LEVEL" -> s.logLevel,
      "LOG_FORMAT" -> s.logFormat,
      "API_PORT" -> s.port.toString,
      "API_HOST" -> "0.0.0.0")
    val jobs = if (s.enableJobs)
      Map("ENABLE_JOBS" -> "true", "KUBERNETES_NAMESPACE" -> s.namespace) ++
        s.jobImage.map("JOB_IMAGE" -> _)
    else Map.empty[String, String]
    val safe = if (s.safeMode) Map("SAFE_MODE" -> "true") else Map.empty[String, String]
    base ++ jobs ++ safe
  }

  /** Deterministic content hash of the ConfigMap data — the pod-template
    * annotation that makes a config change roll the deployment.
    */
  def configHash(s: Spec): String = {
    val joined = configMapData(s).toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(joined.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }

  def renderConfigMap(s: Spec): JsonNode = node(Map(
    "apiVersion" -> "v1", "kind" -> "ConfigMap",
    "metadata" -> Map("name" -> s.configMapName, "namespace" -> s.namespace,
      "labels" -> labels(s)),
    "data" -> configMapData(s)))

  def renderDeployment(s: Spec): JsonNode = node(Map(
    "apiVersion" -> "apps/v1", "kind" -> "Deployment",
    "metadata" -> Map("name" -> s.deploymentName, "namespace" -> s.namespace,
      "labels" -> labels(s)),
    "spec" -> Map(
      "replicas" -> s.replicas,
      "strategy" -> Map("type" -> "RollingUpdate",
        "rollingUpdate" -> Map("maxUnavailable" -> 1, "maxSurge" -> 1)),
      "selector" -> Map("matchLabels" -> labels(s)),
      "template" -> Map(
        "metadata" -> Map("labels" -> labels(s),
          "annotations" -> Map("graft.dev/config-hash" -> configHash(s))),
        "spec" -> Map(
          "securityContext" -> Map("runAsNonRoot" -> true, "runAsUser" -> 1000,
            "fsGroup" -> 1000),
          "containers" -> Seq(Map(
            "name" -> "api-server",
            "image" -> s.image,
            "imagePullPolicy" -> s.pullPolicy,
            "ports" -> Seq(Map("name" -> "http", "containerPort" -> s.port,
              "protocol" -> "TCP")),
            "envFrom" -> Seq(
              Map("configMapRef" -> Map("name" -> s.configMapName)),
              Map("secretRef" -> Map("name" -> s.secretName))),
            "resources" -> Map("requests" -> s.requests, "limits" -> s.limits),
            "livenessProbe" -> Map(
              "httpGet" -> Map("path" -> "/api/v1/health", "port" -> s.port),
              "initialDelaySeconds" -> 10, "periodSeconds" -> 15),
            "readinessProbe" -> Map(
              "httpGet" -> Map("path" -> "/api/v1/health", "port" -> s.port),
              "initialDelaySeconds" -> 5, "periodSeconds" -> 10))))))))

  def renderService(s: Spec): JsonNode = node(Map(
    "apiVersion" -> "v1", "kind" -> "Service",
    "metadata" -> (Map("name" -> s.serviceName, "namespace" -> s.namespace,
      "labels" -> labels(s)) ++
      (if (s.serviceAnnotations.nonEmpty) Map("annotations" -> s.serviceAnnotations)
       else Map.empty)),
    "spec" -> Map(
      "type" -> s.serviceType,
      "selector" -> labels(s),
      "ports" -> Seq(Map("name" -> "http", "port" -> s.servicePort,
        "targetPort" -> s.port, "protocol" -> "TCP")))))

  /** The desired trio, keyed by (kind, name) — apply order matters only in
    * that the ConfigMap precedes the Deployment that hashes it (reference
    * reconciles ConfigMap first, :138-144).
    */
  def desired(s: Spec): Seq[JsonNode] =
    Seq(renderConfigMap(s), renderDeployment(s), renderService(s))
}
