package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.queries.{q, GQuery}

/** Embedding-space clustering for corpus curation: Lloyd's k-means over the
  * `embeddings` table, run as real iterative training (assign → recompute
  * centroids), unlike the deliberately training-free fixed centroids the ANN
  * IVF index uses ([[Similarity]]). Clustering is the backbone of
  * cluster-balanced sampling and SemDeDup-style pruning — the pieces that
  * decide WHAT a 100 TB corpus keeps, not just how it's indexed.
  *
  * Cross-engine exactness (the oracle hash) comes from fixed-point integer
  * arithmetic end to end:
  *   - components quantize once: `floor(x * 1e6 + 0.5)::BIGINT` (identical
  *     doubles in, identical longs out — no engine-specific round() rule);
  *   - distances are integer squared-L2 (exact, order-independent);
  *   - centroid updates are `sum(component) / count` in truncating integer
  *     division (Scala `Long./` ≡ DuckDB `//`, verified on negatives);
  *   - ties in assignment break to the smallest centroid id.
  * Float k-means sums in partition order and drifts in the last ulp;
  * integer k-means is bit-identical on any plan, any parallelism.
  *
  * Scale shape: centroids live on the driver between rounds — k×dim longs,
  * bounded by construction, the same discipline as the IVF centroid
  * broadcast. Assignment is a map-side argmin fold over a centroid literal
  * (no ×k row explosion, no per-vector window); the update is ONE hash
  * aggregate whose partial state is a dim-length array per (partition,
  * cluster) via [[graft.functions.VecSum]] — the exchange carries k×dim
  * longs total, so a round costs one scan + one k-row shuffle at any corpus
  * size. Inertia sums fit comfortably in longs here (≤ ~2.6e14 per row at
  * 1e6-scale components); at true corpus scale sum in decimal(38,0) like the
  * components convergence test does.
  */
object Clustering {

  private val K = 4
  private val Iters = 2
  private val Dim = 64

  /** `floor(x * 1e6 + 0.5)` quantization of an array<double> column. */
  private def quantize(c: Column): Column =
    transform(c, x => floor(x * lit(1000000.0) + lit(0.5)).cast("long"))

  /** Exact integer squared L2 distance between two array<long> columns —
    * the native codegen'd [[graft.functions.SqDistL]] (one fused loop; the
    * higher-order aggregate(zip_with(...)) chain it replaced evaluated its
    * lambdas interpretively per element, k times per vector in the argmin).
    */
  private def sqd(a: Column, b: Column): Column = graft.functions.SqDistL(a, b)

  /** embeddings → (vec_id, label, v: array<long>) quantized vectors. */
  private def qvecs(s: SparkSession, dir: String): DataFrame =
    embD(s, dir).select(col("vec_id"), col("label").cast("long").as("label"),
      quantize(col("e")).as("v"))

  /** Map-side assignment: nearest centroid id + its exact distance, via an
    * argmin fold over the inlined centroid array (struct min orders by
    * (distance, cid), so ties pick the smallest cid — the oracle's
    * `ORDER BY d, cid` tiebreak).
    */
  private def assign(vecs: DataFrame, cents: Seq[(Long, Array[Long])]): DataFrame = {
    val centArr = array(cents.sortBy(_._1).map { case (cid, c) =>
      struct(typedLit(c.toSeq).as("c"), lit(cid).as("cid"))
    }: _*)
    vecs.withColumn("__best",
        array_min(transform(centArr, ct =>
          struct(sqd(ct("c"), col("v")).as("d"), ct("cid").as("cid")))))
      .withColumn("cid", col("__best.cid"))
      .withColumn("d", col("__best.d"))
      .drop("__best")
  }

  /** Run `iters` Lloyd rounds from centroids = vectors of the `k` smallest
    * vec_ids; returns the final centroids. Each round: one scan-side assign,
    * one [[graft.functions.VecSum]] aggregate, one k×dim driver collect.
    * A cluster that captures no vectors drops out (both engines).
    */
  def train(vecs: DataFrame, k: Int = K, iters: Int = Iters): Seq[(Long, Array[Long])] = {
    var cents: Seq[(Long, Array[Long])] =
      vecs.filter(col("vec_id") < k)
        .select(col("vec_id"), col("v")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq.sortBy(_._1)
    (1 to iters).foreach { _ =>
      cents = assign(vecs, cents)
        .groupBy("cid")
        .agg(graft.functions.VecSum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val n = r.getLong(2)
          r.getLong(0) -> r.getSeq[Long](1).map(_ / n).toArray
        }.toSeq.sortBy(_._1)
    }
    cents
  }

  /** [[train]] memoized per (session, dir) through [[graft.Caches.memo]] —
    * the trained centroids are consumed by the k-means telemetry AND
    * cluster-balanced sampling, and training costs `Iters` collect rounds
    * that downstream queries must not repeat (driver-held k×dim longs,
    * bounded by construction). */
  def trained(s: SparkSession, dir: String): Seq[(Long, Array[Long])] =
    graft.Caches.memo(s, dir, "kmeans_centroids")(train(qvecs(s, dir)))

  // ---- DuckDB oracle fragments --------------------------------------------

  private def sqlSqd(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, $Dim), i -> ($a[i]-$b[i])*($a[i]-$b[i])))"

  private val qvCte =
    s"""qv AS (
       |  SELECT vec_id, label::BIGINT AS label,
       |    list_transform(e, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS v
       |  FROM emb)""".stripMargin

  /** One oracle Lloyd round: assignment (argmin over the cross join of the
    * k-row centroid table — k is tiny, this is the oracle not the engine)
    * then the element-wise integer-mean update.
    */
  private def roundCtes(i: Int): String =
    s"""a$i AS (
       |  SELECT vec_id, label, v, cid, d FROM (
       |    SELECT q.vec_id, q.label, q.v, c.cid,
       |      ${sqlSqd("q.v", "c.c")} AS d,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${sqlSqd("q.v", "c.c")}, c.cid) AS rn
       |    FROM qv q, c${i - 1} c) WHERE rn = 1),
       |c$i AS (
       |  SELECT cid, list(comp ORDER BY i) AS c FROM (
       |    SELECT cid, i, CAST(sum(v[i]) // count(*) AS BIGINT) AS comp
       |    FROM a$i, generate_series(1, $Dim) t(i)
       |    GROUP BY cid, i)
       |  GROUP BY cid)""".stripMargin

  /** Registered k-means: per-cluster size, exact integer inertia, majority
    * label and its share — the telemetry a curation pipeline reads before
    * deciding per-cluster sampling rates. Deterministic end to end (fixed
    * init, fixed rounds, integer math), so the oracle replays training
    * round by round and the hash pins both the algorithm and the stats.
    */
  /** Oracle CTE chain ending in `af (vec_id, label, cid, d)` — training
    * replayed round by round to the final assignment. Shared by the
    * k-means telemetry and cluster-balanced sampling oracles. */
  private val trainCtes: String =
    s"""c0 AS (SELECT vec_id AS cid, v AS c FROM qv WHERE vec_id < $K),
       |${(1 to Iters).map(roundCtes).mkString(",\n")},
       |af AS (
       |  SELECT vec_id, label, cid, d FROM (
       |    SELECT q.vec_id, q.label, c.cid,
       |      ${sqlSqd("q.v", "c.c")} AS d,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${sqlSqd("q.v", "c.c")}, c.cid) AS rn
       |    FROM qv q, c$Iters c) WHERE rn = 1)""".stripMargin

  private val kmeans = q("pipe_cluster_kmeans",
    s"""WITH $embCte,
       |$qvCte,
       |$trainCtes,
       |base AS (
       |  SELECT cid, count(*)::BIGINT AS n_vecs,
       |    CAST(sum(d) AS BIGINT) AS inertia
       |  FROM af GROUP BY cid),
       |lbl AS (
       |  SELECT cid, cnt, label, tot FROM (
       |    SELECT cid, label, cnt, sum(cnt) OVER (PARTITION BY cid) AS tot,
       |      row_number() OVER (PARTITION BY cid
       |        ORDER BY cnt DESC, label) AS rn
       |    FROM (SELECT cid, label, count(*) AS cnt FROM af GROUP BY cid, label))
       |  WHERE rn = 1)
       |SELECT b.cid, b.n_vecs, b.inertia, l.label AS maj_label,
       |  round(l.cnt::DOUBLE / l.tot, 6) AS maj_frac
       |FROM base b JOIN lbl l ON l.cid = b.cid
       |ORDER BY b.cid""".stripMargin) { (s, dir) =>
    val vecs = qvecs(s, dir)
    // fin feeds BOTH the size/inertia aggregate and the majority-label
    // aggregate — truncate so the k×dim argmin assignment runs once, not
    // once per consumer (guide §2.4 duplicated-subtree)
    val fin = assign(vecs, trained(s, dir)).transform(graft.Iterative.truncate)
    val base = fin.groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"), sum(col("d")).as("inertia"))
    // majority label per cluster WITHOUT a per-cluster window: max over
    // (count, -label) structs — one extra k×labels-row aggregate.
    val lbl = fin.groupBy("cid", "label").agg(count(lit(1)).as("cnt"))
      .groupBy("cid")
      .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"),
        sum(col("cnt")).as("tot"))
      .select(col("cid"), (-col("m.nl")).as("maj_label"),
        round(col("m.cnt").cast("double") / col("tot"), 6).as("maj_frac"))
    base.join(lbl, Seq("cid")).orderBy("cid")
  }

  /** Label-noise QA — the embedding-side data audit: for each label class,
    * compute its exact integer centroid (one [[graft.functions.VecSum]]
    * aggregate — same shape as a k-means update) and surface the 5 members
    * FARTHEST from their own class centroid with their distances. Points
    * far from their class center are the mislabeled / out-of-distribution
    * candidates a curation run re-reviews before training a classifier on
    * the labels.
    *
    * Scale shape: the centroid table is |labels|×dim longs (bounded by the
    * label vocabulary, same discipline as the k-means driver state) and
    * broadcasts into a map-side distance pass; the only rank is a window
    * PARTITIONED BY label. A label class holding a corpus-scale fraction
    * would swap the rank for an approx-quantile threshold join — the
    * output contract (top-5 per label) is unchanged. All arithmetic
    * integer (quantize → sqd →
    * truncating mean), so the oracle hash pins centroid AND ranking.
    */
  private val outliers = q("pipe_emb_outliers",
    s"""WITH $embCte,
       |$qvCte,
       |lc AS (
       |  SELECT label, list(comp ORDER BY i) AS c FROM (
       |    SELECT label, i, CAST(sum(v[i]) // count(*) AS BIGINT) AS comp
       |    FROM qv, generate_series(1, $Dim) t(i)
       |    GROUP BY label, i)
       |  GROUP BY label),
       |d AS (
       |  SELECT q.vec_id, q.label,
       |    CAST(${sqlSqd("q.v", "c.c")} AS BIGINT) AS dist
       |  FROM qv q JOIN lc c ON c.label = q.label)
       |SELECT vec_id, label, dist, rnk::INT AS rnk FROM (
       |  SELECT vec_id, label, dist,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY dist DESC, vec_id) AS rnk
       |  FROM d) WHERE rnk <= 5
       |ORDER BY label, rnk""".stripMargin) { (s, dir) =>
    val vecs = qvecs(s, dir)
    val cents = vecs.groupBy("label")
      .agg(graft.functions.VecSum(col("v")).as("sv"), count(lit(1)).as("n"))
      .select(col("label"), expr("transform(sv, x -> x div n)").as("c"))
    val d = vecs.join(broadcast(cents), Seq("label"))
      .select(col("vec_id"), col("label"), sqd(col("v"), col("c")).as("dist"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("label").orderBy(desc("dist"), col("vec_id"))
    d.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("vec_id", "label", "dist", "rnk")
      .orderBy("label", "rnk")
  }

  /** Per-cluster sampling cap for [[clusterSample]]. */
  private val SampleCap = 60

  /** Cluster-balanced sampling — the curation move k-means exists for:
    * cap every trained cluster at [[SampleCap]] members so over-dense
    * regions of embedding space (boilerplate, template clones, crawl
    * bursts) can't dominate the training mix, while sparse clusters
    * survive whole. Selection within a cluster is the deterministic
    * hash-order prefix (`hash64(vec_id)` — reproducible on any plan, any
    * re-run), not RNG. Output: kept members with their cluster and
    * within-cluster rank.
    *
    * Scale shape: assignment rides the same map-side argmin over the
    * memoized trained centroids (zero training cost here — [[trained]]
    * memoizes per session/dir), and the only rank is a window partitioned
    * by cid. k is bounded by construction, but a single over-dense
    * cluster holding a corpus-scale fraction would swap the rank for an
    * approx-quantile threshold join — same capped output, no per-cluster
    * sort ceiling.
    */
  private val clusterSample = q("pipe_cluster_sample",
    s"""WITH $embCte,
       |$qvCte,
       |$trainCtes,
       |h AS (
       |  SELECT vec_id, cid, ${sqlHash64("vec_id::VARCHAR")} AS hk
       |  FROM af)
       |SELECT vec_id, cid, rnk::INT AS rnk FROM (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY cid ORDER BY hk, vec_id) AS rnk
       |  FROM h) WHERE rnk <= $SampleCap
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val a = assign(qvecs(s, dir), trained(s, dir))
      .select(col("vec_id"), col("cid"),
        hash64(col("vec_id").cast("string")).as("hk"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cid").orderBy("hk", "vec_id")
    a.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= SampleCap)
      .select("vec_id", "cid", "rnk")
      .orderBy("vec_id")
  }

  /** Per-source SEMANTIC signature — the embedding-space complement of the
    * quality-histogram drift card: for each source, how far its centroid
    * sits from the corpus centroid (cosine). A source whose cosine falls
    * away from the pack is out-of-distribution content — a re-crawl gone
    * wrong, a language mix shift, a scraper pulling boilerplate — caught
    * BEFORE it skews the training mix, which n-gram quality signals miss
    * when the text merely looks fluent.
    *
    * Exactness: components quantize to integer MILLI-units (1e3, not the
    * kmeans 1e6 — deliberately coarse so every dot-product term AND every
    * partial sum stays an exactly-representable integer below 2^53 at the
    * oracle scales, making the cosine independent of either engine's
    * summation order; the 1e6 variant was measured 1 ulp apart on one
    * source, exactly the accumulation-order hazard). Per-source sums are
    * ONE `vec_sum` hash aggregate (dim-length long state per source
    * through the exchange), and the corpus vector is the sum of the
    * ≤|sources| source vectors. Cosine is scale-invariant, so the
    * UNNORMALIZED sum vectors stand in for the centroids — no division
    * before the final cosine. A corpus big enough to push these sums past
    * 2^53 moves the dot products to HUGEINT/DECIMAL exact arithmetic (the
    * kmeans discipline); the card pins the float-exact form. Scale
    * shape: one
    * map-side quantize pass, one vec_sum exchange, a |sources|-row
    * epilogue with a 1-row broadcast — nothing corpus² anywhere.
    */
  private val sourceCentroids = q("pipe_emb_source_centroids",
    s"""WITH src AS (
       |  SELECT d.source,
       |    list_transform(e.embedding,
       |      x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS v
       |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
       |per AS (
       |  SELECT source, dim, sum(val)::BIGINT AS s
       |  FROM (SELECT source, unnest(v) AS val,
       |          generate_subscripts(v, 1) AS dim FROM src)
       |  GROUP BY 1, 2),
       |cnt AS (SELECT source, count(*)::BIGINT AS n_vecs FROM src GROUP BY 1),
       |sv AS (
       |  SELECT source,
       |    list_transform(list(s ORDER BY dim), x -> x::DOUBLE) AS cv
       |  FROM per GROUP BY source),
       |tot AS (
       |  SELECT list_transform(list(st ORDER BY dim), x -> x::DOUBLE) AS tv
       |  FROM (SELECT dim, sum(s)::BIGINT AS st FROM per GROUP BY dim))
       |SELECT sv.source, cnt.n_vecs,
       |  ${sqlCosine("sv.cv", "tot.tv")} AS cos_centroid
       |FROM sv JOIN cnt USING (source), tot
       |ORDER BY source""".stripMargin) { (s, dir) =>
    val vecs = graft.Tables.t(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast("long"))
          .as("v"))
      .join(graft.Tables.t(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
    val per = vecs.groupBy("source")
      .agg(graft.functions.VecSum(col("v")).as("sv"), count(lit(1)).as("n_vecs"))
    // corpus vector = element-wise sum of the <=|sources| source vectors —
    // a second tiny vec_sum over the aggregate, then a 1-row broadcast
    val tot = per.agg(graft.functions.VecSum(col("sv")).as("tv"))
    def d(c: Column) = transform(c, x => x.cast("double"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_vecs"),
        (dotD(d(col("sv")), d(col("tv"))) /
          (sqrt(dotD(d(col("sv")), d(col("sv")))) *
            sqrt(dotD(d(col("tv")), d(col("tv")))))).as("cos_centroid"))
      .orderBy("source")
  }

  /** IVF over TRAINED centroids — the ANN family's index cells upgraded
    * from the training-free "first 8 vectors" ([[Similarity]]) to real
    * Lloyd's centroids: trained cells track the data distribution, so the
    * same nprobe buys strictly better candidate quality on clustered
    * corpora. Everything stays in the k-means integer fixed-point domain
    * (quantized vectors, integer squared-L2) so the oracle replays
    * training AND search bit-for-bit: assignment is the same map-side
    * argmin fold over the memoized centroids (zero training cost here),
    * the probe ranks the k driver-held centroids against the query, and
    * candidates fold through TakeOrderedAndProject — the only exchange is
    * the probe semi-join, exactly the [[Similarity]] IVF shape.
    */
  private val ivfTrained = q("pipe_ann_ivf_trained",
    s"""WITH $embCte,
       |$qvCte,
       |$trainCtes,
       |qv0 AS (SELECT v AS qv FROM qv WHERE vec_id = 0),
       |probe AS (
       |  SELECT cid FROM (
       |    SELECT c.cid,
       |      row_number() OVER (ORDER BY ${sqlSqd("c.c", "q0.qv")}, c.cid) AS rn
       |    FROM c$Iters c, qv0 q0) WHERE rn <= 2)
       |SELECT a.vec_id, CAST(${sqlSqd("qv.v", "q0.qv")} AS BIGINT) AS dist
       |FROM af a JOIN qv ON qv.vec_id = a.vec_id
       |JOIN probe p ON p.cid = a.cid, qv0 q0
       |WHERE a.vec_id <> 0
       |ORDER BY dist, a.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
    val vecs = qvecs(s, dir)
    val cents = trained(s, dir)
    val fin = assign(vecs, cents)
    val qv0 = vecs.filter(col("vec_id") === 0).select(col("v").as("qv"))
    import s.implicits._
    val cdf = cents.map { case (cid, c) => (cid, c.toSeq) }.toDF("cid", "c")
    val probe = cdf.crossJoin(broadcast(qv0))
      .select(col("cid"), sqd(col("c"), col("qv")).as("pd"))
      .orderBy("pd", "cid").limit(2).select("cid")
    fin.join(broadcast(probe), Seq("cid"), "left_semi")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv0))
      .select(col("vec_id"), sqd(col("v"), col("qv")).as("dist"))
      .orderBy("dist", "vec_id").limit(10)
  }

  val all: Seq[GQuery] =
    Seq(kmeans, outliers, clusterSample, sourceCentroids, ivfTrained)
}
