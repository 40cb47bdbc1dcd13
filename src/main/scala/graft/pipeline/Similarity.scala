package graft.pipeline

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.{q, GQuery}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md north-star; generalizes the reference's top-k similar profiles,
  * reference: pkg/profile/manager.go:517).
  *
  * Two variants: brute-force cosine top-k (the correctness baseline — one
  * scan × a 1-row broadcast query vector, no shuffle beyond top-k), and
  * IVF-style cluster pruning (the scale path — assign every vector to its
  * nearest centroid once, then probe only the query's closest buckets; at
  * 100 TB the assignment is a scan × small-broadcast-centroids map-join and
  * the probe touches nprobe/C of the data).
  */
object Similarity {

  /** The fixed query vector: embedding of vec_id = 0 (deterministic). */
  private val querySql =
    "q AS (SELECT e AS qe FROM emb WHERE vec_id = 0)"

  /** Map-side centroid assignment: appends the argmax-cosine `cid` to every
    * vector row. Centroids are collected to the driver — they are small by
    * construction (an IVF system ships its centroids with the job) — and
    * inlined as a literal array, so assignment is a per-row fold inside the
    * scan stage: NO ×C crossJoin row explosion and NO per-vec_id window
    * shuffle, which is the difference between a map-only pass and shuffling
    * C copies of a 100 TB corpus. Ties pick the smallest cid (struct max on
    * (sim, -cid)), matching the oracle's window-rank tiebreak.
    */
  private[pipeline] def assignMapSide(vecs: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cl = cents.select("cid", "ce", "cn").collect()
    val centArr = array(cl.map { r =>
      struct(lit(r.getLong(0)).as("cid"),
        typedLit(r.getSeq[Double](1).toSeq).as("ce"),
        lit(r.getDouble(2)).as("cn"))
    }: _*)
    // cid is ONE self-contained expression (fold + field extraction fused),
    // and it is wrapped in an always-true nondeterministic guard: a
    // deterministic `cid = <fold>` alias becomes an equality CONSTRAINT on
    // the projection, and when the assignment later equi-joins a probe
    // fragment on cid, constraint inference substitutes the fold across the
    // join equivalence — producing a filter on the probe side that
    // references this scan's `e`/`nrm` attributes and fails binding at
    // execution (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — reproduced by
    // pipe_ann_knn_join in isolation; survives even lineage truncation,
    // since LogicalRDD carries origin constraints). Nondeterministic
    // expressions generate no constraints, closing the hole; the VALUE is
    // exactly as deterministic as before (a `shuffle` of a singleton array
    // — a rand()-comparison guard gets constant-folded away, this doesn't).
    val best = array_max(transform(centArr, c =>
      struct((dotD(c("ce"), col("e")) / (c("cn") * col("nrm"))).as("sim"),
        (-c("cid")).as("negcid"))))
    vecs.withColumn("cid",
      element_at(shuffle(array(-best.getField("negcid"))), 1))
  }

  private val brute = q("pipe_ann_brute",
    s"""WITH $embCte,
       |$querySql
       |SELECT vec_id, ${sqlCosine("e", "qe")} AS score
       |FROM emb, q WHERE vec_id <> 0
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
    val e = embDN(s, dir)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("e").as("qe"), col("nrm").as("qn"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv)) // 1-row dimension: broadcast is the plan at any scale
      .select(col("vec_id"),
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("score"))
      .orderBy(desc("score"), col("vec_id")).limit(10)
  }

  /** IVF: centroids = first 8 vectors (deterministic, training-free);
    * assign each vector to argmax-cosine centroid; probe the query's top-2
    * centroids; exact top-10 within the probed buckets.
    */
  private val ivf = q("pipe_ann_ivf",
    s"""WITH $embCte,
       |$querySql,
       |cents AS (SELECT vec_id AS cid, e AS ce FROM emb WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${sqlCosine("v.e", "c.ce")} DESC, c.cid) AS rn
       |    FROM emb v, cents c) WHERE rn = 1),
       |probe AS (
       |  SELECT cid FROM (
       |    SELECT c.cid,
       |      row_number() OVER (ORDER BY ${sqlCosine("q.qe", "c.ce")} DESC, c.cid) AS rn
       |    FROM cents c, q) WHERE rn <= 2)
       |SELECT v.vec_id, ${sqlCosine("v.e", "q.qe")} AS score
       |FROM emb v JOIN assign a ON a.vec_id = v.vec_id
       |JOIN probe p ON p.cid = a.cid, q
       |WHERE v.vec_id <> 0
       |ORDER BY score DESC, v.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
    val e = embDN(s, dir)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("e").as("qe"), col("nrm").as("qn"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    // assignment: map-side argmax fold over inlined centroids (no explosion,
    // no window shuffle)
    val assign = assignMapSide(e, cents).select("vec_id", "cid")
    // probe: query's top-2 centroids
    val probe = cents.crossJoin(broadcast(qv))
      .select(col("cid"),
        (dotD(col("ce"), col("qe")) / (col("cn") * col("qn"))).as("sim"))
      // constant-valued partition key (pmod(x, 1) = 0, non-foldable): same
      // single-partition rank over the ≤8-row centroid frame, without
      // WindowExec's empty-partition warning
      .withColumn("rn", row_number().over(
        Window.partitionBy(pmod(col("cid"), lit(1L)))
          .orderBy(desc("sim"), col("cid"))))
      .filter(col("rn") <= 2)
      .select("cid")
    e.join(assign, Seq("vec_id"))
      .join(broadcast(probe), Seq("cid"), "left_semi")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("score"))
      .orderBy(desc("score"), col("vec_id")).limit(10)
  }

  /** LSH-bucketed ANN: sign-random-projection with 6 deterministic
    * hyperplanes (vectors 1..6 — training-free, like the IVF centroids).
    * Candidates = vectors whose 6-bit sign bucket is within hamming ≤ 1 of
    * the query's bucket (multi-probe); exact top-10 among candidates. At
    * scale the bucket is a shuffle key: each probe touches ~7/64 of the data.
    */
  private val lsh = q("pipe_ann_lsh",
    s"""WITH $embCte,
       |$querySql,
       |planes AS (SELECT vec_id AS pid, e AS pe FROM emb WHERE vec_id BETWEEN 1 AND 6),
       |sigs AS (
       |  SELECT v.vec_id, sum(CASE WHEN list_dot_product(v.e, p.pe) >= 0
       |    THEN 1 << (p.pid - 1)::INT ELSE 0 END)::BIGINT AS sig
       |  FROM emb v, planes p GROUP BY v.vec_id),
       |qsig AS (SELECT sig AS qs FROM sigs WHERE vec_id = 0)
       |SELECT s.vec_id, ${sqlCosine("v.e", "q.qe")} AS score
       |FROM sigs s JOIN emb v ON v.vec_id = s.vec_id, qsig, q
       |WHERE bit_count(xor(s.sig, qsig.qs)) <= 1 AND s.vec_id <> 0
       |ORDER BY score DESC, s.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
    val e = embDN(s, dir)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("e").as("qe"), col("nrm").as("qn"))
    val planes = e.filter(col("vec_id").between(1, 6))
      .select(col("vec_id").as("pid"), col("e").as("pe"))
    val sigs = e.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("e"), col("nrm"),
        when(dotD(col("e"), col("pe")) >= 0,
          expr("shiftleft(1L, cast(pid - 1 as int))")).otherwise(0L).as("bit"))
      .groupBy("vec_id").agg(sum("bit").as("sig"),
        first("e").as("e"), first("nrm").as("nrm"))
    val qsig = sigs.filter(col("vec_id") === 0).select(col("sig").as("qs"))
    sigs.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qsig))
      .filter(bit_count(expr("sig ^ qs")) <= 1)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("score"))
      .orderBy(desc("score"), col("vec_id")).limit(10)
  }

  /** Batch k-NN join: top-3 neighbors for EVERY query in a query set (the
    * training-pipeline shape — dedup/retrieval runs ANN for millions of
    * queries, not one). Same IVF index as [[ivf]], but the probe becomes a
    * JOIN keyed on centroid id: queries × their top-2 buckets against the
    * assignment table, so the only large operation is a bucket-keyed join —
    * per query it touches nprobe/C of the data, and there is no crossJoin of
    * query set × corpus anywhere.
    */
  /** Shared CTE chain for the batch k-NN join (reused by the recall probe):
    * IVF assignment, a 20-query set, per-query top-2 bucket probe, and the
    * scored candidates.
    */
  private def knnCtesFor(negOnly: Boolean): String = {
    val negPred = if (negOnly) " AND v.label <> s.ql" else ""
    s"""cents AS (SELECT vec_id AS cid, e AS ce FROM emb WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${sqlCosine("v.e", "c.ce")} DESC, c.cid) AS rn
       |    FROM emb v, cents c) WHERE rn = 1),
       |qset AS (
       |  SELECT vec_id AS qid, label AS ql, e AS qe FROM emb WHERE vec_id < 20),
       |qprobe AS (
       |  SELECT qid, cid FROM (
       |    SELECT s.qid, c.cid,
       |      row_number() OVER (PARTITION BY s.qid
       |        ORDER BY ${sqlCosine("s.qe", "c.ce")} DESC, c.cid) AS rn
       |    FROM qset s, cents c) WHERE rn <= 2),
       |scored AS (
       |  SELECT p.qid, a.vec_id, v.label, ${sqlCosine("v.e", "s.qe")} AS score
       |  FROM qprobe p JOIN assign a ON a.cid = p.cid
       |  JOIN emb v ON v.vec_id = a.vec_id
       |  JOIN qset s ON s.qid = p.qid
       |  WHERE a.vec_id <> p.qid$negPred),
       |approx AS (
       |  SELECT qid, vec_id, label, score FROM (
       |    SELECT qid, vec_id, label, score,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
       |    FROM scored) WHERE rn <= 3)""".stripMargin
  }

  private val knnCtes = knnCtesFor(negOnly = false)

  private val knnJoin = q("pipe_ann_knn_join",
    s"""WITH $embCte,
       |$knnCtes
       |SELECT qid, vec_id, score FROM approx
       |ORDER BY qid, vec_id""".stripMargin) { (s, dir) =>
    knnTop3(s, dir).orderBy("qid", "vec_id")
  }

  /** Hard-negative mining — the contrastive-training data shape: for every
    * query vector, the most-similar corpus vectors whose label DIFFERS from
    * the query's (the negatives that actually move an embedding model,
    * per in-batch/ANCE-style training). Identical machinery to the batch
    * k-NN join — same IVF assignment, same broadcast bucket probe — with
    * the label constraint applied BEFORE the per-query rank, so the top-3
    * are guaranteed usable negatives rather than a post-filtered remnant.
    * At scale this stays one bucket-keyed join + a per-query bounded rank;
    * the label predicate rides the candidate scan for free.
    */
  private val hardNegatives = q("pipe_ann_hard_negatives",
    s"""WITH $embCte,
       |${knnCtesFor(negOnly = true)}
       |SELECT qid, vec_id, label, score FROM approx
       |ORDER BY qid, vec_id""".stripMargin) { (s, dir) =>
    knnTop3(s, dir, negOnly = true).orderBy("qid", "vec_id")
  }

  /** The batch k-NN top-3 as a DataFrame (shared by [[knnJoin]] and
    * [[recall]]).
    */
  private def knnTop3(s: org.apache.spark.sql.SparkSession, dir: String,
      negOnly: Boolean = false) = {
    val e = embDN(s, dir)
    // FRESH scan lineage for the probe-side fragments (cents/qset): sharing
    // one lineage between the map-side assignment fold and the probe's
    // cents/qset projections trips a CollapseProject self-join ambiguity in
    // isolation (the fold's `e` reference gets bound against the probe
    // window's output — INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution).
    // A second read is free: both sides prune to the same footer-driven
    // column set, and cents/qset are 8/20-row slices.
    val ep = embDN(s, dir)
    val cents = ep.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    val assign = assignMapSide(e, cents).select("vec_id", "cid")
    val qsBase = ep.filter(col("vec_id") < 20)
    val qset =
      if (negOnly) qsBase.select(col("vec_id").as("qid"), col("label").as("ql"),
        col("e").as("qe"), col("nrm").as("qn"))
      else qsBase.select(col("vec_id").as("qid"),
        col("e").as("qe"), col("nrm").as("qn"))
    val qprobeW = Window.partitionBy("qid").orderBy(desc("sim"), col("cid"))
    val qprobe = qset.crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"),
        (dotD(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rn", row_number().over(qprobeW))
      .filter(col("rn") <= 2)
      .select("qid", "cid")
    // the scale-critical join: (query, bucket) × assignment, keyed on cid —
    // qprobe is |queries|×nprobe rows, so it broadcasts; assign streams
    val cand = assign.join(broadcast(qprobe), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    val rankW = Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))
    val eCols =
      if (negOnly) e.select(col("vec_id"), col("label"), col("e"), col("nrm"))
      else e.select(col("vec_id"), col("e"), col("nrm"))
    val scoredIn = cand.join(eCols, Seq("vec_id")).join(broadcast(qset), Seq("qid"))
    // the hard-negative constraint prunes BEFORE the rank window, so the
    // top-3 are always 3 usable negatives (when the probed buckets hold
    // that many), not a post-filtered remnant
    val outCols =
      if (negOnly) Seq(col("qid"), col("vec_id"), col("label"))
      else Seq(col("qid"), col("vec_id"))
    (if (negOnly) scoredIn.filter(col("label") =!= col("ql")) else scoredIn)
      .select(outCols :+
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("score"): _*)
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= 3)
      .select(outCols :+ col("score"): _*)
  }

  /** Index-quality measurement: recall@3 of the IVF batch k-NN against
    * exhaustive ground truth, per query. The truth pass is bounded by the
    * query SAMPLE (|qset| × corpus, a 1-broadcast-side join — at 100 TB you
    * recall-check a sample, never the full query load), so "is nprobe=2
    * enough" is a measured number instead of a guess, recomputable on every
    * corpus or index change.
    */
  private val recall = q("pipe_ann_recall",
    s"""WITH $embCte,
       |$knnCtes,
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT s.qid, v.vec_id,
       |      row_number() OVER (PARTITION BY s.qid
       |        ORDER BY ${sqlCosine("v.e", "s.qe")} DESC, v.vec_id) AS rn
       |    FROM qset s, emb v WHERE v.vec_id <> s.qid) WHERE rn <= 3)
       |SELECT t.qid,
       |  sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 3.0
       |    AS recall_at_3
       |FROM truth t LEFT JOIN approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
       |GROUP BY t.qid ORDER BY t.qid""".stripMargin) { (s, dir) =>
    val e = embDN(s, dir)
    val qset = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    val truthW = Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))
    val truth = e.crossJoin(broadcast(qset))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("score"))
      .withColumn("rn", row_number().over(truthW))
      .filter(col("rn") <= 3)
      .select("qid", "vec_id")
    val approx = knnTop3(s, dir).select(col("qid"), col("vec_id"), lit(1).as("hit"))
    truth.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / 3.0).as("recall_at_3"))
      .orderBy("qid")
  }

  /** nprobe sweep — the tuning curve [[recall]] reads ONE point of:
    * recall@3 of the IVF probe at nprobe = 1..4 over the same query
    * sample, in one pass. Every IVF deployment picks nprobe from exactly
    * this curve (each +1 cell costs ~1/C more index scanned per query;
    * recall is what it buys), and the curve moves with every re-index or
    * corpus shift, so it must be cheap to recompute.
    *
    * One-pass shape: each candidate is scored ONCE carrying pr = the rank
    * of its cell in the query's centroid ordering; the nprobe=p shortlist
    * is then the top-3 of candidates with pr ≤ p — a 4-row broadcast
    * explode over an already query-sample-bounded frame, NOT four probe
    * pipelines. Truth is the same sample-bounded exhaustive pass as
    * [[recall]]. Output: 4 rows of exact integer hit counts + one
    * division each.
    */
  private val nprobeSweep = q("pipe_ann_nprobe_sweep",
    s"""WITH $embCte,
       |cents AS (SELECT vec_id AS cid, e AS ce FROM emb WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${sqlCosine("v.e", "c.ce")} DESC, c.cid) AS rn
       |    FROM emb v, cents c) WHERE rn = 1),
       |qset AS (SELECT vec_id AS qid, e AS qe FROM emb WHERE vec_id < 20),
       |qprobe AS (
       |  SELECT qid, cid, pr FROM (
       |    SELECT s.qid, c.cid,
       |      row_number() OVER (PARTITION BY s.qid
       |        ORDER BY ${sqlCosine("s.qe", "c.ce")} DESC, c.cid) AS pr
       |    FROM qset s, cents c) WHERE pr <= 4),
       |scored AS (
       |  SELECT p.qid, a.vec_id, p.pr, ${sqlCosine("v.e", "s.qe")} AS score
       |  FROM qprobe p JOIN assign a ON a.cid = p.cid
       |  JOIN emb v ON v.vec_id = a.vec_id
       |  JOIN qset s ON s.qid = p.qid
       |  WHERE a.vec_id <> p.qid),
       |per AS (
       |  SELECT p, qid, vec_id FROM (
       |    SELECT t.p, sc.qid, sc.vec_id,
       |      row_number() OVER (PARTITION BY t.p, sc.qid
       |        ORDER BY sc.score DESC, sc.vec_id) AS rn
       |    FROM scored sc
       |    JOIN (SELECT unnest(generate_series(1, 4)) AS p) t ON sc.pr <= t.p)
       |  WHERE rn <= 3),
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT s.qid, v.vec_id,
       |      row_number() OVER (PARTITION BY s.qid
       |        ORDER BY ${sqlCosine("v.e", "s.qe")} DESC, v.vec_id) AS rn
       |    FROM qset s, emb v WHERE v.vec_id <> s.qid) WHERE rn <= 3)
       |SELECT per.p::BIGINT AS nprobe,
       |  sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
       |  sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |    / (3 * (SELECT count(*) FROM qset)) AS recall_at_3
       |FROM per LEFT JOIN truth t ON t.qid = per.qid AND t.vec_id = per.vec_id
       |GROUP BY per.p ORDER BY nprobe""".stripMargin) { (s, dir) =>
    val e = embDN(s, dir)
    val ep = embDN(s, dir) // fresh lineage for probe-side slices (see knnTop3)
    val cents = ep.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    val assign = assignMapSide(e, cents).select("vec_id", "cid")
    val qset = ep.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    val probeW = Window.partitionBy("qid").orderBy(desc("sim"), col("cid"))
    val qprobe = qset.crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"),
        (dotD(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= 4)
      .select("qid", "cid", "pr")
    val scored = assign.join(broadcast(qprobe), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .join(e.select(col("vec_id"), col("e"), col("nrm")), Seq("vec_id"))
      .join(broadcast(qset), Seq("qid"))
      .select(col("qid"), col("vec_id"), col("pr"),
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("score"))
    val perW = Window.partitionBy("p", "qid").orderBy(desc("score"), col("vec_id"))
    val per = scored
      .withColumn("p", explode(sequence(lit(1), lit(4))))
      .filter(col("pr") <= col("p"))
      .withColumn("rn", row_number().over(perW))
      .filter(col("rn") <= 3)
      .select("p", "qid", "vec_id")
    val truthW = Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))
    val truth = e.crossJoin(broadcast(qset))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("score"))
      .withColumn("rn", row_number().over(truthW))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
    val nq = qset.count()
    per.join(truth, Seq("qid", "vec_id"), "left")
      .groupBy(col("p").cast("long").as("nprobe"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_at_3",
        col("n_hits").cast("double") / lit(3.0 * nq))
      .orderBy("nprobe")
  }

  // ---- Incremental IVF index (CDC × ANN) ----------------------------------

  /** IVF posting rows for a vector batch against fixed centroids:
    * `(vec_id, cid, e, nrm)` — the index stores the vectors themselves in
    * their posting lists (real IVF layout), so probes are self-contained.
    */
  def ivfAssign(vecs: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    assignMapSide(vecs, cents).select("vec_id", "cid", "e", "nrm")

  /** Maintain a persisted IVF index incrementally: re-assign every vector in
    * `vecs` (new or re-embedded), keep everyone else's posting rows. Same
    * CDC-proportional argument as [[Dedup.upsertSignatures]] — assignment
    * cost follows the changed batch, never the corpus — and the same
    * crash-recoverable keyed replace. At 100 TB the table lives
    * partitioned by `cid` in a row-merge table format; the atomic-parquet
    * stand-in keeps identical semantics. Centroids are fixed at index
    * creation (re-clustering is a rebuild, as in any IVF system).
    */
  def upsertIvf(vecs: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, path: String): Unit =
    graft.state.StateStore.replaceKeys(ivfAssign(vecs, cents), vecs, "vec_id", path)

  /** Top-k neighbors for a query batch via the persisted index: each query
    * probes its top-`nprobe` centroid buckets; candidates come from the
    * index's posting rows by a `cid`-keyed join (per query touches
    * ~nprobe/C of the index — never query-set × corpus).
    */
  def ivfProbeTopK(queries: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, path: String,
      k: Int = 3, nprobe: Int = 2): org.apache.spark.sql.DataFrame = {
    val spark = queries.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("e",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("nrm",
        org.apache.spark.sql.types.DoubleType)))
    val index = graft.state.StateStore.loadTable(spark, path, schema)
    val qprobeW = Window.partitionBy("qid").orderBy(desc("sim"), col("cid"))
    val qprobe = queries.crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"),
        (dotD(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rn", row_number().over(qprobeW))
      .filter(col("rn") <= nprobe)
      .select("qid", "cid")
    val rankW = Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))
    index.join(broadcast(qprobe), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("score"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "score")
  }

  /** The incremental path as an oracle-checked query: index the 90% "existing
    * corpus", upsert the 10% "late batch" of re-embedded vectors, probe the
    * late batch for its top-3 neighbors. After the upsert the persisted index
    * equals the full assignment set, so DuckDB replays the probe as
    * late-queries ⋈ full-assignment on cid — exact cross-engine parity for
    * the whole upsert→probe cycle, filesystem state included.
    */
  private val incremental = q("pipe_ann_incremental",
    s"""WITH $embCte,
       |cents AS (SELECT vec_id AS cid, e AS ce FROM emb WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${sqlCosine("v.e", "c.ce")} DESC, c.cid) AS rn
       |    FROM emb v, cents c) WHERE rn = 1),
       |late AS (SELECT vec_id AS qid, e AS qe FROM emb WHERE vec_id % 10 = 0),
       |qprobe AS (
       |  SELECT qid, cid FROM (
       |    SELECT s.qid, c.cid,
       |      row_number() OVER (PARTITION BY s.qid
       |        ORDER BY ${sqlCosine("s.qe", "c.ce")} DESC, c.cid) AS rn
       |    FROM late s, cents c) WHERE rn <= 2)
       |SELECT qid, vec_id, score FROM (
       |  SELECT p.qid, a.vec_id, ${sqlCosine("v.e", "s.qe")} AS score,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY ${sqlCosine("v.e", "s.qe")} DESC, a.vec_id) AS rn
       |  FROM qprobe p JOIN assign a ON a.cid = p.cid
       |  JOIN emb v ON v.vec_id = a.vec_id
       |  JOIN late s ON s.qid = p.qid
       |  WHERE a.vec_id <> p.qid)
       |WHERE rn <= 3 ORDER BY qid, vec_id""".stripMargin) { (s, dir) =>
    val e = embDN(s, dir)
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    val path = graft.Caches.scratchDir("incr-ivf").toString + "/ivf"
    upsertIvf(e.filter(col("vec_id") % 10 =!= 0).select("vec_id", "e", "nrm"),
      cents, path)
    val late = e.filter(col("vec_id") % 10 === 0)
    upsertIvf(late.select("vec_id", "e", "nrm"), cents, path)
    ivfProbeTopK(
      late.select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn")),
      cents, path)
      .orderBy("qid", "vec_id")
  }

  /** Int8 scalar quantization — the storage-scale path for a 100 TB
    * embedding store (4× smaller than float32, 8× smaller than the double
    * compute form): per-vector symmetric scale `127 / max|x|`, values
    * `clamp(floor(x·scale + 0.5), ±127)`, plus the two acceptance metrics a
    * real pipeline gates on — worst per-dimension reconstruction error and
    * the cosine between the original and reconstructed vector (how much
    * retrieval geometry the quantization cost). Map-only per-row math;
    * `floor(x+0.5)` instead of `round` because round's half-way rule differs
    * between engines while floor is IEEE-exact in both.
    */
  private val quantize = q("pipe_emb_quantize",
    s"""WITH $embCte,
       |s AS (
       |  SELECT vec_id, e,
       |    127.0 / greatest(list_max(list_transform(e, x -> abs(x))), 1e-12) AS scale
       |  FROM emb),
       |r AS (
       |  SELECT vec_id, e, scale,
       |    list_transform(e,
       |      x -> least(greatest(floor(x * scale + 0.5), -127.0), 127.0) / scale) AS recon
       |  FROM s)
       |SELECT vec_id, scale,
       |  list_max(list_transform(generate_series(1, len(e)),
       |    i -> abs(e[i] - recon[i]))) AS max_abs_err,
       |  ${sqlCosine("e", "recon")} AS cos_recon
       |FROM r ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val e = embD(s, dir)
      .withColumn("scale",
        lit(127.0) / greatest(array_max(transform(col("e"), x => abs(x))), lit(1e-12)))
      .withColumn("recon", transform(col("e"), x =>
        least(greatest(floor(x * col("scale") + 0.5), lit(-127.0)), lit(127.0))
          / col("scale")))
    e.select(col("vec_id"), col("scale"),
      array_max(zip_with(col("e"), col("recon"), (a, b) => abs(a - b)))
        .as("max_abs_err"),
      cosineD(col("e"), col("recon")).as("cos_recon"))
      .orderBy("vec_id")
  }

  /** Product quantization + asymmetric-distance search — the compressed-
    * domain ANN path a 100 TB embedding store actually serves from: each
    * 64-dim vector is encoded as M=4 sub-space codes (8 codewords per
    * sub-space, taken training-free from the first vectors like the IVF
    * centroids), i.e. 4 small ints instead of 512 bytes of doubles; a query
    * probes with one 32-entry lookup table of exact sub-distances, so
    * ranking touches only codes + the lut, never the original vectors.
    *
    * Scale shape: ENCODE is map-side — codewords are inlined literals and
    * each row folds its own argmin per sub-space (no ×K row explosion, no
    * per-vector window shuffle). SEARCH is the wide codes table joined to
    * the broadcast lut once per sub-space with an explicitly-parenthesized
    * 4-term sum (aggregate SUM over doubles is merge-order-dependent and
    * would not hash-match cross-engine), then global top-k. All distances
    * in both engines use the same `dss + dcc - 2*dsc` sequential-fold
    * arithmetic, so ADC values are bit-identical.
    */
  /** Shared product-quantization machinery for [[pq]] and [[ivfpq]]: ONE
    * definition of the codebook / encode / lookup-table arithmetic on both
    * the oracle-SQL and the Spark side, so the two queries cannot drift —
    * IVF-PQ must produce the identical ADC value for any candidate the
    * unpruned PQ ranking also surfaces (pinned by PipelineSpec).
    */
  private[pipeline] object Pq {
    import org.apache.spark.sql.{Column, DataFrame, SparkSession}

    val M = 4; val Sub = 16; val K = 8

    def d2Sql(s: String, c: String): String =
      s"list_dot_product($s, $s) + list_dot_product($c, $c) - 2*list_dot_product($s, $c)"

    /** The cb/sub/enc/codes/qlut CTE block (`emb` CTE must be in scope). */
    val ctesSql: String =
      s"""cb AS (
         |  SELECT m, vec_id AS code, list_slice(e, (m-1)*$Sub+1, m*$Sub) AS ce
         |  FROM emb, generate_series(1, $M) t(m) WHERE vec_id < $K),
         |sub AS (
         |  SELECT vec_id, m, list_slice(e, (m-1)*$Sub+1, m*$Sub) AS sv
         |  FROM emb, generate_series(1, $M) t(m)),
         |enc AS (
         |  SELECT vec_id, m, code FROM (
         |    SELECT s.vec_id, s.m, c.code,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY ${d2Sql("s.sv", "c.ce")}, c.code) AS rn
         |    FROM sub s JOIN cb c ON c.m = s.m) WHERE rn = 1),
         |codes AS (
         |  SELECT vec_id,
         |    ${(1 to M).map(m => s"max(CASE WHEN m = $m THEN code END) AS c$m")
                .mkString(",\n    ")}
         |  FROM enc GROUP BY vec_id),
         |qlut AS (
         |  SELECT c.m, c.code, ${d2Sql("qs.sv", "c.ce")} AS d2
         |  FROM cb c JOIN (SELECT m, sv FROM sub WHERE vec_id = 0) qs
         |    ON qs.m = c.m)""".stripMargin

    /** Explicitly-parenthesized 4-term ADC sum (aggregate SUM over doubles
      * is merge-order-dependent and would not hash-match cross-engine). */
    val adcSql: String = "((l1.d2 + l2.d2) + l3.d2) + l4.d2 AS adc"

    /** One lut join per sub-space against the `codes v` relation. */
    val lutJoinsSql: String =
      (1 to M).map(m => s"JOIN qlut l$m ON l$m.m = $m AND l$m.code = v.c$m")
        .mkString("\n")

    /** Codebook rows (vec_id < K), collected and sorted — bounded by
      * construction: a PQ system ships its codebook with the job. */
    def codebook(e: DataFrame): Array[(Long, Seq[Double])] =
      e.filter(col("vec_id") < K).select("vec_id", "e").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).sortBy(_._1)

    private def svc(c: Column, m: Int): Column = slice(c, (m - 1) * Sub + 1, Sub)

    private def d2(svCol: Column, ce: Seq[Double]): Column = {
      val lc = typedLit(ce)
      dotD(svCol, svCol) + dotD(lc, lc) - lit(2.0) * dotD(svCol, lc)
    }

    /** Map-side encode: append codes c1..cM, each the per-row argmin
      * (d2, code) over the inlined codewords — no ×K explosion, no window. */
    def encode(df: DataFrame, cl: Array[(Long, Seq[Double])]): DataFrame =
      (1 to M).foldLeft(df) { (acc, m) =>
        val cands = array(cl.map { case (code, full) =>
          val ce = full.slice((m - 1) * Sub, m * Sub)
          struct(d2(svc(col("e"), m), ce).as("d2"), lit(code).as("code"))
        }: _*)
        acc.withColumn(s"c$m", array_min(cands).getField("code"))
      }

    /** The M×K exact sub-distance lookup table for the query (codebook row
      * 0), computed ON THE DRIVER from the already-collected codebook:
      * `lut(m-1)(code)` = d2 between query sub-vector m and codeword
      * `code`. Same sequential-fold dot products the previous in-plan qlut
      * ran (bit-identical doubles), but as a LITERAL — the 32-entry table
      * inlines into the scan projection as `element_at` lookups, replacing
      * FOUR broadcast-join stages per PQ card with map-side arithmetic
      * (guide §3.1: the cheapest join is the one that isn't planned).
      */
    def qlutLocal(cl: Array[(Long, Seq[Double])]): Array[Array[Double]] = {
      def sdot(a: Seq[Double], b: Seq[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }
      val q = cl.find(_._1 == 0L).get._2
      Array.tabulate(M) { mi =>
        val qs = q.slice(mi * Sub, (mi + 1) * Sub)
        val byCode = new Array[Double](K)
        cl.foreach { case (code, full) =>
          val ce = full.slice(mi * Sub, (mi + 1) * Sub)
          byCode(code.toInt) =
            sdot(qs, qs) + sdot(ce, ce) - 2.0 * sdot(qs, ce)
        }
        byCode
      }
    }

    /** Rank codes by ADC from the literal lut: one element_at per
      * sub-space, the parenthesized 4-term sum, global top-k (folds to
      * TakeOrderedAndProject — no exchange, no broadcast). */
    def adcTopK(codes: DataFrame, lut: Array[Array[Double]], k: Int): DataFrame = {
      def d(m: Int): Column =
        element_at(typedLit(lut(m - 1).toSeq), col(s"c$m").cast("int") + 1)
      codes.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (((d(1) + d(2)) + d(3)) + d(4)).as("adc"))
        .orderBy(col("adc"), col("vec_id")).limit(k)
    }
  }

  private val pq = q("pipe_ann_pq",
    s"""WITH $embCte,
       |${Pq.ctesSql}
       |SELECT v.vec_id, ${Pq.adcSql}
       |FROM codes v
       |${Pq.lutJoinsSql}
       |WHERE v.vec_id <> 0
       |ORDER BY adc, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
    val e = embD(s, dir)
    val cl = Pq.codebook(e)
    val codes = Pq.encode(e, cl)
      .select(col("vec_id") +: (1 to Pq.M).map(m => col(s"c$m")): _*)
    Pq.adcTopK(codes, Pq.qlutLocal(cl), 10)
  }

  /** IVF-PQ — the production composition: the IVF cell id prunes partitions
    * (probe nprobe/C of the corpus), PQ codes rank the survivors from the
    * broadcast lookup table, and only the final short-list would ever read
    * original vectors (the re-rank step, elided here — ADC is the output).
    * Plan: map-side assign + map-side encode in ONE scan stage, a semi-join
    * on the probed cells, the lut joins, top-k. Zero exchanges before the
    * cell semi-join.
    */
  /** IVF-PQ shared plumbing for [[ivfpq]] and [[rerank]] — one definition
    * of the prune + encode + lut machinery on both sides so the two
    * queries cannot drift.
    */
  private object IvfPq {
    import Pq.{M, K}

    /** Oracle CTE chain ending in `adcr (vec_id, adc)` — ADC-ranked,
      * cell-pruned candidates (`emb`/`q` CTEs must be in scope). */
    val ctesSql: String =
      s"""cents AS (SELECT vec_id AS cid, e AS ce FROM emb WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT v.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${sqlCosine("v.e", "c.ce")} DESC, c.cid) AS rn
         |    FROM emb v, cents c) WHERE rn = 1),
         |probe AS (
         |  SELECT cid FROM (
         |    SELECT c.cid,
         |      row_number() OVER (ORDER BY ${sqlCosine("q.qe", "c.ce")} DESC, c.cid) AS rn
         |    FROM cents c, q) WHERE rn <= 2),
         |${Pq.ctesSql},
         |adcr AS (
         |  SELECT v.vec_id, ${Pq.adcSql}
         |  FROM codes v
         |  JOIN assign a ON a.vec_id = v.vec_id
         |  JOIN probe p ON p.cid = a.cid
         |  ${Pq.lutJoinsSql}
         |  WHERE v.vec_id <> 0)""".stripMargin

    /** Spark twin: `(pruned codes, query lut, query vector (qe, qn))`. */
    def prunedCodes(s: org.apache.spark.sql.SparkSession, dir: String):
        (org.apache.spark.sql.DataFrame, Array[Array[Double]],
         org.apache.spark.sql.DataFrame) = {
      val en = embDN(s, dir)
      val e = en.select("vec_id", "e")
      val cents = embDN(s, dir).filter(col("vec_id") < K)
        .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
      val qv = embDN(s, dir).filter(col("vec_id") === 0)
        .select(col("e").as("qe"), col("nrm").as("qn"))
      val cl = Pq.codebook(e)
      // probe cells resolved at plan build from the collected codebook rows
      // (centroids ARE codebook vectors here; the query is row 0): the same
      // sequential-fold dot product both engines run, so the top-2 ranking
      // is identical — and the probe becomes a literal isin PARTITION FILTER
      // on the cell id, the partition-pruning form the 100 TB layout wants
      def sdot(a: Seq[Double], b: Seq[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i) * b(i); i += 1 }
        acc
      }
      val qvec = cl.find(_._1 == 0L).get._2
      val qn = math.sqrt(sdot(qvec, qvec))
      val probeCids: Seq[Long] = cl
        .map { case (cid, ce) =>
          (cid, sdot(ce, qvec) / (math.sqrt(sdot(ce, ce)) * qn)) }
        .sortBy { case (cid, sim) => (-sim, cid) }.take(2).map(_._1).toSeq
      // ONE scan stage appends the cell id AND the 4 codes per row
      val encoded = Pq.encode(assignMapSide(en, cents), cl)
        .select(col("vec_id") +: col("cid") +: (1 to M).map(m => col(s"c$m")): _*)
      val pruned = encoded.filter(col("cid").isin(probeCids: _*))
      (pruned, Pq.qlutLocal(cl), qv)
    }
  }

  private val ivfpq =
    q("pipe_ann_ivfpq",
      s"""WITH $embCte,
         |$querySql,
         |${IvfPq.ctesSql}
         |SELECT vec_id, adc FROM adcr
         |ORDER BY adc, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val (pruned, qlut, _) = IvfPq.prunedCodes(s, dir)
      Pq.adcTopK(pruned, qlut, 10)
    }

  /** Two-stage retrieval — the full production serving shape: the ADC
    * ranking ([[ivfpq]]) is only a SHORTLIST; the final order comes from
    * exact cosine against the original vectors, read for the shortlist
    * rows alone. At 100 TB this is the design that makes PQ viable: the
    * compressed codes (32 B/vector) drive a cheap cell-pruned scan to ~50
    * candidates, then one point-lookup join fetches 50 raw vectors — the
    * only full-precision reads in the whole query — and the top-10 is
    * exact where it matters. The shortlist is LIMIT-bounded, so the
    * rerank join broadcasts and the rank window is 50 rows.
    */
  private val rerank =
    q("pipe_ann_rerank",
      s"""WITH $embCte,
         |$querySql,
         |${IvfPq.ctesSql},
         |short AS (
         |  SELECT vec_id, adc FROM adcr ORDER BY adc, vec_id LIMIT 50)
         |SELECT s.vec_id, s.adc,
         |  ${sqlCosine("e.e", "q.qe")} AS cos_exact
         |FROM short s JOIN emb e ON e.vec_id = s.vec_id, q
         |ORDER BY cos_exact DESC, s.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val (pruned, qlut, qv) = IvfPq.prunedCodes(s, dir)
      val short = Pq.adcTopK(pruned, qlut, 50)
      val en = embDN(s, dir).select("vec_id", "e", "nrm")
      en.join(broadcast(short), Seq("vec_id"))
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("adc"),
          (dotD(col("e"), col("qe")) / (col("nrm") * col("qn")))
            .as("cos_exact"))
        .orderBy(desc("cos_exact"), col("vec_id")).limit(10)
    }

  /** Filtered vector search: top-10 cosine restricted to a metadata
    * predicate (`label = 1`) — the "retrieve only from this tenant /
    * language / license class" query every production vector store serves.
    * The design point: the predicate applies BEFORE ranking, so the scan is
    * pruned to the matching slice and the result always holds k matching
    * rows; rank-then-filter (the naive composition) both scores the full
    * corpus and can return fewer than k survivors. The filter reaches the
    * parquet scan as a pushed predicate, and at scale the same shape
    * composes with the IVF cell probe (filter ∧ cell, both pushed).
    */
  private val filtered = q("pipe_ann_filtered",
    s"""WITH $embCte,
       |$querySql
       |SELECT vec_id, label, ${sqlCosine("e", "qe")} AS score
       |FROM emb, q WHERE vec_id <> 0 AND label = 1
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
    val e = embDN(s, dir)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("e").as("qe"), col("nrm").as("qn"))
    e.filter(col("vec_id") =!= 0 && col("label") === 1)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"),
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("score"))
      .orderBy(desc("score"), col("vec_id")).limit(10)
  }

  /** Hybrid retrieval — the RAG-serving shape: a lexical BM25 ranking and a
    * dense cosine ranking fused by reciprocal-rank fusion (RRF, the
    * standard score-free combiner: `Σ 1/(60 + rank)` over the lists a doc
    * appears in). Documents and embeddings share ids, so the fusion join is
    * doc-keyed.
    *
    * Scale shape, stage by stage: BM25's corpus statistics (df per query
    * term, N, Σdl) are term-count-sized — broadcast; per-doc term
    * frequencies filter the exploded words to the query terms INSIDE the
    * scan stage (one shuffle, by doc, map-side combinable). Each modality
    * reduces to its top-50 via `TakeOrderedAndProject` (never a global
    * sort), and ranks come from a window over that 50-row bounded frame —
    * allowlisted in ExplainAudit with the bound. The RRF full-outer join
    * touches ≤100 rows.
    *
    * Cross-engine hashability: BM25 term contributions quantize to
    * `floor(score·1e9 + 0.5)` longs BEFORE the per-doc sum (exact integer
    * sum — double addition order can never flip a rank); the cosine ranks
    * ride [[dotD]]'s bit-identical fold; RRF adds two doubles in fixed
    * expression order and quantizes the same way.
    */
  /** Semantic decontamination — the embedding-space twin of the n-gram
    * check (`pipe_decontaminate`): a paraphrased eval question shares no
    * 3-gram with its training leak, but their embeddings sit together. Per
    * train vector, the nearest eval-set vector (every 97th id) within its
    * IVF cell, with the cosine and the τ-flag (same τ = 0.35 as semantic
    * dedup).
    *
    * Scale shape: the eval suite is benchmark-sized by construction, so
    * its (cell, vector) rows broadcast; train vectors get their cell from
    * the same map-side argmax fold as every IVF path (zero exchanges
    * before the probe), the join is cell-keyed — never corpus × eval —
    * and the per-train-vector best is a max-over-structs aggregate, no
    * window. Cross-cell neighbors are missed exactly as IVF recall misses
    * them; nprobe on the EVAL side (assign each eval vector to its top-n
    * cells) widens coverage without touching the corpus-side plan.
    */
  private val decontaminateSemantic = q("pipe_decontaminate_semantic",
    s"""WITH $embCte,
       |cents AS (SELECT vec_id AS cid, e AS ce FROM emb WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${sqlCosine("v.e", "c.ce")} DESC, c.cid) AS rn
       |    FROM emb v, cents c) WHERE rn = 1),
       |ev AS (
       |  SELECT a.cid, e.vec_id AS eid, e.e AS ee
       |  FROM assign a JOIN emb e ON e.vec_id = a.vec_id
       |  WHERE e.vec_id % 97 = 0),
       |pairs AS (
       |  SELECT t.vec_id, ev.eid, ${sqlCosine("e.e", "ev.ee")} AS sim
       |  FROM assign t JOIN emb e ON e.vec_id = t.vec_id
       |  JOIN ev ON ev.cid = t.cid
       |  WHERE t.vec_id % 97 <> 0),
       |best AS (
       |  SELECT vec_id, eid, sim FROM (
       |    SELECT vec_id, eid, sim,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, eid) AS rn
       |    FROM pairs) WHERE rn = 1)
       |SELECT vec_id, eid AS eval_id, sim AS max_sim,
       |  sim >= 0.35 AS contaminated
       |FROM best ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val en = embDN(s, dir)
    val cents = en.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    val assigned = assignMapSide(en, cents)
    val ev = assigned.filter(col("vec_id") % 97 === 0)
      .select(col("cid"), col("vec_id").as("eid"), col("e").as("ee"),
        col("nrm").as("enrm"))
    assigned.filter(col("vec_id") % 97 =!= 0)
      .join(broadcast(ev), Seq("cid"))
      .select(col("vec_id"), col("eid"),
        (dotD(col("e"), col("ee")) / (col("nrm") * col("enrm"))).as("sim"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("eid")).as("ne"))).as("m"))
      .select(col("vec_id"), (-col("m.ne")).as("eval_id"),
        col("m.sim").as("max_sim"), (col("m.sim") >= 0.35).as("contaminated"))
      .orderBy("vec_id")
  }

  private val hybrid = {
    val terms = Seq("spark", "window", "agg")
    val termsSql = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    q("pipe_search_hybrid",
      s"""WITH $docsNormCte,
         |$wordsCte,
         |$embCte,
         |$querySql,
         |dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM words),
         |stats AS (
         |  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl),
         |tf AS (
         |  SELECT doc_id, tok, count(*)::BIGINT AS tf FROM (
         |    SELECT doc_id, unnest(w) AS tok FROM words)
         |  WHERE tok IN $termsSql
         |  GROUP BY doc_id, tok),
         |dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
         |contrib AS (
         |  SELECT t.doc_id,
         |    CAST(floor(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
         |      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75
         |        * (d.dl / (s.sum_dl::DOUBLE / s.n_docs)))))
         |      * 1000000000 + 0.5) AS BIGINT) AS c
         |  FROM tf t JOIN dl d ON d.doc_id = t.doc_id
         |  JOIN dfreq f ON f.tok = t.tok, stats s),
         |bm AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS bm25
         |  FROM contrib GROUP BY doc_id),
         |topb AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS brank
         |  FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50)),
         |topv AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS vrank
         |  FROM (
         |    SELECT vec_id, ${sqlCosine("e", "qe")} AS score
         |    FROM emb, q WHERE vec_id <> 0
         |    ORDER BY score DESC, vec_id LIMIT 50)),
         |fused AS (
         |  SELECT coalesce(b.doc_id, v.vec_id) AS doc_id,
         |    coalesce(b.brank, 0)::BIGINT AS bm25_rank,
         |    coalesce(v.vrank, 0)::BIGINT AS vec_rank,
         |    CAST(floor((coalesce(1.0 / (60 + b.brank), 0.0)
         |      + coalesce(1.0 / (60 + v.vrank), 0.0)) * 1000000000 + 0.5)
         |      AS BIGINT) AS rrf
         |  FROM topb b FULL OUTER JOIN topv v ON v.vec_id = b.doc_id)
         |SELECT doc_id, bm25_rank, vec_rank, rrf
         |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // ---- lexical leg: BM25(k1 = 1.2, b = 0.75) over the query terms ----
      // local fanOut: the word arrays feed both the length table and the
      // token explode — heavy maps that single-task off the one-file scan
      // NOT truncated/shared, deliberately: dl and tf replay the split
      // pass per consumer (4 subtree executions), but those replays run as
      // concurrent stages of ONE job; both checkpointed rewrites measured
      // worse (one shared split checkpoint 0.89 → 1.45s, narrow dl/tf
      // checkpoints 0.89 → 1.23s — the eager builds serialize, r15)
      val dw = graft.Tables.fanOut(
          graft.Tables.t(s, dir, "documents").select("doc_id", "text"),
          col("doc_id"))
        .select(col("doc_id"), split(normText(col("text")), " ").as("w"))
      val dl = dw.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val tf = dw.select(col("doc_id"), explode(col("w")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val avgdl = col("sum_dl").cast("double") / col("n_docs")
      val contrib = tf.join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .join(broadcast(dfreq), Seq("tok"))
        .select(col("doc_id"),
          floor(log((col("n_docs") - col("df") + lit(0.5))
              / (col("df") + lit(0.5)) + lit(1.0))
            * ((col("tf") * lit(2.2)) / (col("tf") + lit(1.2) * (lit(0.25)
              + lit(0.75) * (col("dl") / avgdl))))
            * lit(1000000000.0) + lit(0.5)).as("c"))
      val topb = contrib.groupBy("doc_id").agg(sum(col("c")).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id")).limit(50)
        // constant-valued partition key over the 50-row list: pmod(x, 1)
        // is 0 for every row but references a column, so the optimizer
        // cannot fold it away like a literal — same global rank, single
        // partition, without WindowExec's empty-partition warning
        .withColumn("brank",
          row_number().over(Window.partitionBy(pmod(col("doc_id"), lit(1L)))
            .orderBy(desc("bm25"), col("doc_id")))
            .cast("long"))
        .select("doc_id", "brank")
      // ---- dense leg: cosine top-50 against the fixed query vector ----
      val e = embDN(s, dir)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("e").as("qe"), col("nrm").as("qn"))
      val topv = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("score"))
        .orderBy(desc("score"), col("vec_id")).limit(50)
        .withColumn("vrank",
          row_number().over(Window.partitionBy(pmod(col("vec_id"), lit(1L)))
            .orderBy(desc("score"), col("vec_id")))
            .cast("long"))
        .select("vec_id", "vrank")
      // ---- RRF fusion over the two bounded rank lists ----
      topb.join(topv.withColumnRenamed("vec_id", "doc_id"),
          Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("brank"), lit(0L)).as("bm25_rank"),
          coalesce(col("vrank"), lit(0L)).as("vec_rank"),
          floor((coalesce(lit(1.0) / (lit(60) + col("brank")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("vrank")), lit(0.0)))
            * lit(1000000000.0) + lit(0.5)).as("rrf"))
        .orderBy(desc("rrf"), col("doc_id")).limit(10)
    }
  }

  /** Matryoshka (MRL) truncation recall card: shortlist by cosine on the
    * FIRST [[MatryoshkaDims]] dimensions only, rerank the shortlist at full
    * dimension, and measure recall@3 against the full-dim exhaustive truth —
    * the tuning curve behind "how few dims can the first stage read".
    * Prefix-truncated embeddings are the standard cheap first pass at scale
    * (Kusupati et al. 2022): a 16-of-64 prefix scan reads 1/4 the bytes and
    * the rerank touches only |qset|×10 rows. Truth is bounded by the query
    * SAMPLE exactly like [[recall]]; both passes share one scored frame.
    */
  private val MatryoshkaDims = 16
  private val matryoshka = q("pipe_ann_matryoshka",
    s"""WITH $embCte,
       |qset AS (SELECT vec_id AS qid, e AS qe FROM emb WHERE vec_id < 20),
       |sc AS (
       |  SELECT s.qid, v.vec_id,
       |    ${sqlCosine(s"v.e[1:$MatryoshkaDims]", s"s.qe[1:$MatryoshkaDims]")} AS pscore,
       |    ${sqlCosine("v.e", "s.qe")} AS fscore
       |  FROM emb v, qset s WHERE v.vec_id <> s.qid),
       |approx AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY fscore DESC, vec_id) AS rn
       |    FROM (
       |      SELECT qid, vec_id, fscore,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY pscore DESC, vec_id) AS prn
       |      FROM sc) WHERE prn <= 10) WHERE rn <= 3),
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY fscore DESC, vec_id) AS rn
       |    FROM sc) WHERE rn <= 3)
       |SELECT t.qid,
       |  sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 3.0
       |    AS recall_at_3
       |FROM truth t LEFT JOIN approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
       |GROUP BY t.qid ORDER BY t.qid""".stripMargin) { (s, dir) =>
    val e = embDN(s, dir)
      .withColumn("ep", slice(col("e"), 1, MatryoshkaDims))
      .withColumn("pnrm", sqrt(dotD(col("ep"), col("ep"))))
    val qset = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        col("ep").as("qep"), col("pnrm").as("qpn"))
    val scored = e.crossJoin(broadcast(qset))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (dotD(col("ep"), col("qep")) / (col("pnrm") * col("qpn"))).as("pscore"),
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("fscore"))
    val shortW = Window.partitionBy("qid").orderBy(desc("pscore"), col("vec_id"))
    val fullW = Window.partitionBy("qid").orderBy(desc("fscore"), col("vec_id"))
    val approx = scored
      .withColumn("prn", row_number().over(shortW)).filter(col("prn") <= 10)
      .withColumn("rn", row_number().over(fullW)).filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    val truth = scored
      .withColumn("rn", row_number().over(fullW)).filter(col("rn") <= 3)
      .select("qid", "vec_id")
    truth.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / 3.0)
        .as("recall_at_3"))
      .orderBy("qid")
  }

  /** Late-interaction (ColBERT-shaped) MaxSim retrieval: the query is a SET
    * of vectors (a multi-vector query — vec_ids 0..3 standing in for query
    * token embeddings), a "document" is a label group, and
    * score(doc) = Σ over query vectors of max cosine to any doc vector.
    * MaxSim is the retrieval function single-vector search can't express
    * (each query token matches its own best doc region).
    *
    * Scale shape: one corpus scan × a broadcast 4-row query set; the max
    * folds map-side per (label, qtoken) — the shuffle carries |labels|×|Q|
    * rows, never the corpus — and the sum over query tokens is a |labels|-
    * row aggregate. Exactness: max over doubles is order-free; each per-
    * group max is floored to integer nano-units BEFORE the cross-token sum,
    * so no float accumulation crosses an aggregation boundary.
    */
  private val maxsim = q("pipe_ann_maxsim",
    s"""WITH $embCte,
       |qset AS (SELECT vec_id AS qid, e AS qe FROM emb WHERE vec_id < 4),
       |ms AS (
       |  SELECT v.label, s.qid, max(${sqlCosine("v.e", "s.qe")}) AS ms
       |  FROM emb v, qset s GROUP BY 1, 2),
       |mi AS (
       |  SELECT label,
       |    CAST(floor(ms * 1000000000 + 0.5) AS BIGINT) AS msi
       |  FROM ms)
       |SELECT label, CAST(sum(msi) AS BIGINT) AS maxsim_nano,
       |  count(*)::BIGINT AS n_query_tokens
       |FROM mi GROUP BY label
       |ORDER BY maxsim_nano DESC, label LIMIT 5""".stripMargin) { (s, dir) =>
    val e = embDN(s, dir)
    val qset = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    e.crossJoin(broadcast(qset))
      .select(col("label"), col("qid"),
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("sim"))
      .groupBy("label", "qid").agg(max("sim").as("ms"))
      .select(col("label"),
        floor(col("ms") * lit(1000000000.0) + lit(0.5)).as("msi"))
      .groupBy("label")
      .agg(sum("msi").as("maxsim_nano"),
        count(lit(1)).as("n_query_tokens"))
      .orderBy(desc("maxsim_nano"), col("label")).limit(5)
  }

  // ---- incremental BM25 postings index -------------------------------------

  private val Bm25Terms = Seq("spark", "window", "agg")

  /** `(doc_id, tok, tf, dl)` postings for an arbitrary `(doc_id, text)`
    * batch — term frequencies per doc plus the doc length the BM25
    * normalizer needs, one self-contained row per posting.
    */
  def postingsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val words = docs.select(col("doc_id"),
      split(normText(col("text")), " ").as("w"))
    words.select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
      .select("doc_id", "tok", "tf", "dl")
  }

  /** Upsert a changed batch into the persisted postings index at `path`
    * (replace-by-doc semantics, like the span/MinHash indexes): CDC-
    * proportional maintenance — the corpus is never re-tokenized. At scale
    * the index parquet is written sorted by `tok` so a term lookup is a
    * pushed-down range scan, not a full index read.
    */
  def upsertPostings(docs: org.apache.spark.sql.DataFrame, path: String): Unit =
    graft.state.StateStore.replaceKeys(postingsOf(docs), docs, "doc_id", path)

  /** BM25 query over a PERSISTED postings index maintained incrementally:
    * index the 90% "existing corpus", upsert the 10% "late batch", then
    * score the query terms reading ONLY the index — collection stats
    * (N, avgdl) from the per-doc lengths, df from the term postings, the
    * same k1=1.2 / b=0.75 contribution formula as [[hybrid]] in exact
    * integer nano-units. After the upsert the index equals the full-corpus
    * postings, so DuckDB replays the score from scratch — exact parity for
    * the whole upsert→query cycle, filesystem state included.
    *
    * Scale shape: stats are one map-combinable aggregate over (doc_id, dl)
    * distinct rows; the scoring join touches only the query terms'
    * postings (a pushed-down filter on `tok`); the final top-10 is
    * TakeOrderedAndProject. Nothing rereads the corpus.
    */
  private val bm25Incremental = {
    val termsSql = Bm25Terms.map(t => s"'$t'").mkString("(", ", ", ")")
    q("pipe_bm25_incremental",
      s"""WITH $docsNormCte,
         |$wordsCte,
         |post AS (
         |  SELECT doc_id, tok, count(*)::BIGINT AS tf, len(w)::BIGINT AS dl
         |  FROM (SELECT doc_id, w, unnest(w) AS tok FROM words)
         |  WHERE tok <> '' GROUP BY doc_id, tok, len(w)),
         |dl AS (SELECT DISTINCT doc_id, dl FROM post),
         |stats AS (
         |  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl),
         |tf AS (SELECT doc_id, tok, tf, dl FROM post WHERE tok IN $termsSql),
         |dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
         |contrib AS (
         |  SELECT t.doc_id,
         |    CAST(floor(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
         |      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75
         |        * (t.dl / (s.sum_dl::DOUBLE / s.n_docs)))))
         |      * 1000000000 + 0.5) AS BIGINT) AS c
         |  FROM tf t JOIN dfreq f ON f.tok = t.tok, stats s)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS bm25
         |FROM contrib GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
      val docs = graft.Tables.t(s, dir, "documents").select("doc_id", "text")
      val path = graft.Caches.scratchDir("incr-bm25").toString + "/postings"
      upsertPostings(docs.filter(col("doc_id") % 10 =!= 0), path)
      upsertPostings(docs.filter(col("doc_id") % 10 === 0), path)
      val idx = graft.state.StateStore.loadTable(s, path,
        postingsOf(docs.limit(0)).schema)
      val dl = idx.select("doc_id", "dl").distinct()
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val tf = idx.filter(col("tok").isin(Bm25Terms: _*))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val avgdl = col("sum_dl").cast("double") / col("n_docs")
      tf.crossJoin(broadcast(stats))
        .join(broadcast(dfreq), Seq("tok"))
        .select(col("doc_id"),
          floor(log((col("n_docs") - col("df") + lit(0.5))
              / (col("df") + lit(0.5)) + lit(1.0))
            * ((col("tf") * lit(2.2)) / (col("tf") + lit(1.2) * (lit(0.25)
              + lit(0.75) * (col("dl") / avgdl))))
            * lit(1000000000.0) + lit(0.5)).as("c"))
        .groupBy("doc_id").agg(sum(col("c")).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id")).limit(10)
    }
  }

  /** Binary (1-bit sign) quantization recall card: each 64-dim vector
    * compresses to its SIGN PATTERN — two 32-bit words, a 32× memory cut —
    * Hamming distance ranks a top-10 shortlist, full-precision cosine
    * reranks it, and recall@3 vs exhaustive truth prices the compression
    * (the same harness as [[matryoshka]]; binary codes are the other
    * standard cheap first stage, and unlike PQ they need no codebook).
    * Bits pack as two BIGINTs holding 32 bits each (`bit i ⇔ e[i] > 0`),
    * so no value ever nears the signed-64 edge and `xor`+`bit_count` is
    * exact in both engines; packing is a per-row fold inside the scan
    * (map-only), Hamming is two xors per candidate pair.
    */
  private val binary = q("pipe_ann_binary",
    s"""WITH $embCte,
       |packed AS (
       |  SELECT vec_id, e,
       |    list_sum(list_transform(generate_series(1, 32),
       |      i -> CASE WHEN e[i] > 0 THEN 1::BIGINT << (i - 1) ELSE 0 END))::BIGINT AS p1,
       |    list_sum(list_transform(generate_series(33, 64),
       |      i -> CASE WHEN e[i] > 0 THEN 1::BIGINT << (i - 33) ELSE 0 END))::BIGINT AS p2
       |  FROM emb),
       |qset AS (SELECT vec_id AS qid, e AS qe, p1 AS q1, p2 AS q2
       |         FROM packed WHERE vec_id < 20),
       |sc AS (
       |  SELECT s.qid, v.vec_id,
       |    (bit_count(xor(v.p1, s.q1)) + bit_count(xor(v.p2, s.q2)))::BIGINT AS ham,
       |    ${sqlCosine("v.e", "s.qe")} AS fscore
       |  FROM packed v, qset s WHERE v.vec_id <> s.qid),
       |approx AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY fscore DESC, vec_id) AS rn
       |    FROM (
       |      SELECT qid, vec_id, fscore,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY ham, vec_id) AS hrn
       |      FROM sc) WHERE hrn <= 10) WHERE rn <= 3),
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY fscore DESC, vec_id) AS rn
       |    FROM sc) WHERE rn <= 3)
       |SELECT t.qid,
       |  sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 3.0
       |    AS recall_at_3
       |FROM truth t LEFT JOIN approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
       |GROUP BY t.qid ORDER BY t.qid""".stripMargin) { (s, dir) =>
    val packExpr = (lo: Int, hi: Int) => expr(
      s"""aggregate(sequence($lo, $hi), 0L,
         |  (acc, i) -> acc | IF(element_at(e, i) > 0D,
         |    shiftleft(1L, i - $lo), 0L))""".stripMargin)
    val e = embDN(s, dir)
      .withColumn("p1", packExpr(1, 32))
      .withColumn("p2", packExpr(33, 64))
    val qset = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        col("p1").as("q1"), col("p2").as("q2"))
    val scored = e.crossJoin(broadcast(qset))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (bit_count(col("p1").bitwiseXOR(col("q1"))) +
          bit_count(col("p2").bitwiseXOR(col("q2")))).cast("long").as("ham"),
        (dotD(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("fscore"))
    val hamW = Window.partitionBy("qid").orderBy(col("ham"), col("vec_id"))
    val fullW = Window.partitionBy("qid").orderBy(desc("fscore"), col("vec_id"))
    val approx = scored
      .withColumn("hrn", row_number().over(hamW)).filter(col("hrn") <= 10)
      .withColumn("rn", row_number().over(fullW)).filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    val truth = scored
      .withColumn("rn", row_number().over(fullW)).filter(col("rn") <= 3)
      .select("qid", "vec_id")
    truth.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / 3.0)
        .as("recall_at_3"))
      .orderBy("qid")
  }

  /** Embedding-norm health gate — the pre-flight every vector load needs:
    * a broken encoder shows up as degenerate L2 norms (near-zero vectors,
    * runaway magnitudes) long before any similarity metric moves. Norms
    * land in integer nano-units, the histogram buckets them by
    * tenth-of-the-mean band, and the outlier gates are the standard
    * half-mean / double-mean cut in EXACT integer arithmetic
    * (`2·norm < mean` / `norm > 2·mean`) — no float comparison at the
    * decision boundary. One scan + a broadcast 1-row mean; |bands| output
    * rows.
    */
  private val embNorms = q("pipe_embed_norms",
    s"""WITH $embCte,
       |n AS (
       |  SELECT vec_id,
       |    CAST(floor(sqrt(list_dot_product(e, e)) * 1000000000 + 0.5)
       |      AS BIGINT) AS nn
       |  FROM emb),
       |m AS (SELECT (sum(nn) // count(*))::BIGINT AS mean_nn FROM n),
       |b AS (
       |  SELECT (nn * 10 // m.mean_nn)::BIGINT AS band, nn,
       |    CASE WHEN nn * 2 < m.mean_nn THEN 1 ELSE 0 END AS low,
       |    CASE WHEN nn > m.mean_nn * 2 THEN 1 ELSE 0 END AS high
       |  FROM n, m)
       |SELECT band, count(*)::BIGINT AS n_vectors,
       |  min(nn)::BIGINT AS min_nano, max(nn)::BIGINT AS max_nano,
       |  sum(low)::BIGINT AS n_low_outliers,
       |  sum(high)::BIGINT AS n_high_outliers
       |FROM b GROUP BY band ORDER BY band""".stripMargin) { (s, dir) =>
    val n = embD(s, dir)
      .select(col("vec_id"),
        floor(sqrt(dotD(col("e"), col("e"))) * lit(1000000000.0) + lit(0.5))
          .as("nn"))
    val m = n.agg(expr("sum(nn) div count(1)").as("mean_nn"))
    n.crossJoin(broadcast(m))
      .select(expr("(nn * 10) div mean_nn").as("band"), col("nn"),
        when(col("nn") * 2 < col("mean_nn"), 1L).otherwise(0L).as("low"),
        when(col("nn") > col("mean_nn") * 2, 1L).otherwise(0L).as("high"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_vectors"),
        min("nn").as("min_nano"), max("nn").as("max_nano"),
        sum("low").as("n_low_outliers"), sum("high").as("n_high_outliers"))
      .orderBy("band")
  }

  /** Exact phrase search over positional postings — the retrieval feature
    * BM25's bag-of-words scoring cannot express ("table hash" as a phrase,
    * not two independent terms). Postings are `(tok, doc_id, pos)`; a
    * 2-term phrase match is ONE equi-join on `(doc_id, pos)` between the
    * first term's postings and the second term's postings shifted by −1 —
    * never a scan of document text at query time, and never a positions²
    * blowup (the join key includes the position itself).
    *
    * Scale shape: at 100 TB the postings live materialized and
    * TERM-BUCKETED (the same layout [[bm25Incremental]] maintains
    * CDC-incrementally), so a phrase probe reads exactly the phrase terms'
    * buckets — index-only, corpus-size-independent; each term's posting
    * slice is df-bounded and the adjacency join is equi-keyed on
    * `(doc_id, pos)`, so it hashes, never sorts globally. This card builds
    * the postings inline from the fixture (the probe plan is identical
    * either way) and returns per-doc match counts with the first match
    * position — exact integers end to end.
    */
  private val phrase = {
    val p0t = "table"; val p1t = "hash"
    q("pipe_search_phrase",
      s"""WITH $docsNormCte,
         |$wordsCte,
         |pos AS (
         |  SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS p
         |  FROM words),
         |hits AS (
         |  SELECT a.doc_id, a.p AS pos
         |  FROM (SELECT doc_id, p FROM pos WHERE tok = '$p0t') a
         |  JOIN (SELECT doc_id, p FROM pos WHERE tok = '$p1t') b
         |    ON b.doc_id = a.doc_id AND b.p = a.p + 1)
         |SELECT doc_id, count(*)::BIGINT AS n_matches,
         |  min(pos)::BIGINT AS first_pos
         |FROM hits GROUP BY doc_id
         |ORDER BY n_matches DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val pos = docWords(s, dir)
        .select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "tok")))
        .select(col("doc_id"), col("tok"),
          (col("p0") + 1).cast("long").as("p"))
      val a = pos.filter(col("tok") === p0t).select(col("doc_id"), col("p"))
      val b = pos.filter(col("tok") === p1t)
        .select(col("doc_id"), (col("p") - 1).as("p"))
      a.join(b, Seq("doc_id", "p"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_matches"), min(col("p")).as("first_pos"))
        .orderBy(desc("n_matches"), col("doc_id")).limit(20)
    }
  }

  val all: Seq[GQuery] = Seq(brute, ivf, lsh, knnJoin, recall, incremental,
    quantize, pq, ivfpq, rerank, filtered, hybrid, hardNegatives,
    decontaminateSemantic, nprobeSweep, matryoshka, maxsim, bm25Incremental,
    binary, embNorms, phrase)
}
