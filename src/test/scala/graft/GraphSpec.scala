package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-7 operators (the oracle gate checks
  * cross-engine equality; these check the MATH means what it claims).
  */
class GraphSpec extends AnyFunSuite {
  import TestSpark._

  private def edgeSlice = Tables.links(spark, sf)
    .filter(col("link_type") === "blocks" && col("project_key") === "P1")

  /** Long `(a, b)` edges in both directions, the undirected kernel input. */
  private def sym(edges: org.apache.spark.sql.DataFrame) = {
    val e = edges.toDF("a", "b")
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    e.union(e.select(col("b").as("a"), col("a").as("b"))).distinct()
  }

  /** Connected components to convergence: `(labels, rounds)`. */
  private def converged(edges: org.apache.spark.sql.DataFrame,
      gate: Long = queries.Graph.DriverGateEdges) =
    queries.Graph.minLabels(sym(edges), 50, untilStable = true, driverGateEdges = gate)

  test("kcore: independent peeling replay; survivors all have degree >= 2") {
    val got = SparkEntry.queries("graph_kcore")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay the peeling on the collected slice over the raw key strings
    // (dst may cross projects, so suffix-only encoding would merge nodes)
    val raw = edgeSlice.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    var und = raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    (1 to 3).foreach { _ =>
      val deg = und.groupBy(_._1).view.mapValues(_.length).toMap
      val keep = deg.filter(_._2 >= 2).keySet
      und = und.filter { case (a, b) => keep(a) && keep(b) }
    }
    val expected = und.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(got.size == expected.size && got.values.forall(_ >= 2))
    // same survivor count per degree (ids differ by the project encoding)
    assert(got.values.groupBy(identity).view.mapValues(_.size).toMap ==
      expected.values.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("minLabels fixed rounds: gated and distributed paths agree label for label") {
    val enc = (c: String) =>
      expr(s"substring($c, 2, 1)").cast("long") * lit(1000000000000L) +
        element_at(split(col(c), "-"), 2).cast("long")
    val edges = sym(edgeSlice.select(enc("src").as("a"), enc("dst").as("b")))
    val gated = queries.Graph.minLabels(edges, 5)._1
    val dist = queries.Graph.minLabels(edges, 5, driverGateEdges = 0L)._1
    assert(gated.except(dist).count() == 0 && dist.except(gated).count() == 0)
    assert(gated.count() == dist.count() && gated.count() > 0)
  }

  test("lpaLabels: gated and distributed paths agree; communities refine components") {
    val enc = (c: String) =>
      expr(s"substring($c, 2, 1)").cast("long") * lit(1000000000000L) +
        element_at(split(col(c), "-"), 2).cast("long")
    val edges = edgeSlice.select(enc("src").as("a"), enc("dst").as("b"))
    val gated = queries.Graph.lpaLabels(edges, 3)
    val dist = queries.Graph.lpaLabels(edges, 3, driverGateEdges = 0L)
    assert(gated.except(dist).count() == 0 && dist.except(gated).count() == 0)
    assert(gated.count() == dist.count() && gated.count() > 0)
    // LPA communities REFINE connected components: two nodes sharing an LPA
    // label must share a component label (a community never straddles two
    // components — labels only travel over edges)
    val comp = converged(edges)._1
      .withColumnRenamed("lbl", "comp")
    val straddle = gated.join(comp, Seq("node"))
      .groupBy("lbl").agg(countDistinct("comp").as("nc"))
      .filter(col("nc") > 1).count()
    assert(straddle == 0, "an LPA community straddles two components")
  }

  test("components histogram covers every node exactly once") {
    val hist = SparkEntry.queries("graph_components")(spark, sf).collect()
    val nodesInHist = hist.map(r =>
      r.getAs[Long]("n_members") * r.getAs[Long]("n_labels")).sum
    val nodes = edgeSlice.select(col("src").as("n"))
      .union(edgeSlice.select(col("dst").as("n"))).distinct().count()
    assert(nodesInHist == nodes,
      s"histogram accounts for $nodesInHist nodes, graph has $nodes")
  }

  test("pagerank ranks are >= base, sorted desc, and decode to valid keys") {
    val rows = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val prs = rows.map(_.getAs[Long]("pr"))
    assert(prs.forall(_ >= 150000000L), "a rank fell below the base mass")
    assert(prs.sameElements(prs.sortBy(-_)), "output not sorted by rank desc")
    rows.map(_.getAs[String]("node_key")).foreach { k =>
      assert(k.matches("^P\\d-\\d+$"), s"un-decodable node key $k")
    }
  }

  test("pagerank receives mass: some node ranks strictly above base") {
    val rows = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
    assert(rows.exists(_.getAs[Long]("pr") > 150000000L),
      "no node accumulated inbound mass — contribution join is broken")
  }

  test("khop: reach is monotone in k and bounded by the seed's component") {
    import org.apache.spark.sql.functions._
    val k3 = SparkEntry.queries("graph_khop")(spark, sf).cache()
    assert(k3.count() > 0)
    // n_reached counts OTHER nodes: non-negative, and someone reaches > 0
    assert(k3.filter(col("n_reached") < 0).count() == 0)
    assert(k3.filter(col("n_reached") > 0).count() > 0)
    // 1-hop reach (out-degree of the seed slice) can never exceed 3-hop reach
    val links = Tables.links(spark, sf)
      .filter(col("link_type") === "blocks" && col("project_key") === "P1")
      .select(col("src"), col("dst")).distinct()
    val oneHop = links.filter(
        element_at(split(col("src"), "-"), 2).cast("long") % 100 < 5)
      .groupBy(col("src").as("sk")).agg(countDistinct("dst").as("d1"))
    val joined = k3.join(oneHop, col("seed_key") === col("sk"))
    assert(joined.filter(col("n_reached") < col("d1") - 1).count() == 0,
      "3-hop reach below the seed's out-degree")
  }

  test("scd2 intervals chain: valid_to equals the next valid_from per key") {
    import org.apache.spark.sql.expressions.Window
    val iv = SparkEntry.queries("cdc_scd2_intervals")(spark, sf)
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val broken = iv
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("next_from").isNotNull &&
        col("valid_to") =!= col("next_from"))
      .count()
    assert(broken == 0, s"$broken intervals do not chain")
    // exactly one open (null valid_to) interval per key — the current state
    val users = iv.select("user_id").distinct().count()
    val open = iv.filter(col("valid_to").isNull).count()
    assert(open == users, s"$open open intervals for $users keys")
  }

  test("scd2 compresses: consecutive intervals never repeat the same state") {
    import org.apache.spark.sql.expressions.Window
    val iv = SparkEntry.queries("cdc_scd2_intervals")(spark, sf)
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val dup = iv.withColumn("prev_t", lag(col("event_type"), 1).over(w))
      .filter(col("prev_t") === col("event_type")).count()
    assert(dup == 0, s"$dup uncompressed change-points")
  }

  test("componentsConverged: reaches a fixpoint where no edge crosses labels") {
    // same injective encoding the queries use: project digit * 1e12 + suffix
    val enc = (c: String) =>
      expr(s"substring($c, 2, 1)").cast("long") * lit(1000000000000L) +
        element_at(split(col(c), "-"), 2).cast("long")
    val edges = edgeSlice.select(enc("src").as("a"), enc("dst").as("b"))
    val (labels, rounds) = converged(edges)
    assert(rounds > 0 && rounds < 50, s"did not converge in $rounds rounds")
    val lab = labels.cache()
    // defining property of CONVERGED components: both endpoints of every
    // edge carry the same label (the fixed-round query can't promise this)
    val la = lab.withColumnRenamed("node", "a").withColumnRenamed("lbl", "la")
    val lb = lab.withColumnRenamed("node", "b").withColumnRenamed("lbl", "lb")
    val crossing = edges.join(la, Seq("a")).join(lb, Seq("b"))
      .filter(col("la") =!= col("lb")).count()
    assert(crossing == 0, s"$crossing edges still cross component labels")
    // labels are min-of-component: every label is <= its node and is itself
    // a node whose label is itself (the component representative)
    assert(lab.filter(col("lbl") > col("node")).count() == 0)
    val reps = lab.select(col("lbl").as("node"), col("lbl"))
    assert(reps.distinct().except(lab).count() == 0,
      "a component label is not its own representative")
    // the size-gated driver path and the distributed fallback are the SAME
    // algorithm: forcing the gate off must reproduce labels AND rounds
    val (labD, roundsD) =
      converged(edges, gate = 0L)
    assert(roundsD == rounds, s"gated $rounds vs distributed $roundsD rounds")
    assert(labD.except(lab).count() == 0 && lab.except(labD).count() == 0,
      "gated and distributed labels diverge")
    lab.unpersist()
  }

  test("triangles: count matches a brute-force 3-clique census of the slice") {
    val row = SparkEntry.queries("graph_triangles")(spark, sf).head
    val (wedges, tris) =
      (row.getAs[Long]("n_wedges"), row.getAs[Long]("n_triangles"))
    assert(tris >= 0 && wedges >= tris, s"wedges=$wedges < triangles=$tris")
    val closure = row.getAs[Double]("closure")
    assert(closure >= 0.0 && closure <= 1.0)
    // the sf0.001 slice is small enough to brute-force in memory: count
    // distinct 3-cliques directly and require exact agreement
    val edges = edgeSlice.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).toSet
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    var brute = 0L
    for (i <- nodes.indices; u = nodes(i);
         v <- adj(u) if v > u;
         w <- adj(u) if w > v && adj(v).contains(w)) brute += 1
    assert(tris == brute, s"query says $tris triangles, brute-force says $brute")
  }

  test("componentsConverged round count is deterministic: eccentricity + 1") {
    import spark.implicits._
    // path 1-2-3-4-5 (dist from min node 1 to node 5 is 4) plus triangle
    // 10-11-12 (dist 1): the label-sum test needs max-dist rounds to settle
    // plus ONE confirming round, so rounds must be exactly 4 + 1 = 5
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("a", "b")
    val (labels, rounds) = converged(edges)
    assert(rounds == 5, s"expected ecc+1 = 5 rounds, got $rounds")
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(m(_) == 1L), s"path labels wrong: $m")
    assert(Seq(10L, 11L, 12L).forall(m(_) == 10L), s"triangle labels wrong: $m")
  }

  test("registered converged-components query carries the telemetry column") {
    val rows = SparkEntry.queries("graph_components_converged")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val rounds = rows.map(_.getAs[Long]("rounds")).distinct
    assert(rounds.length == 1 && rounds.head >= 1,
      s"every row must carry the one deterministic round count, got ${rounds.toSeq}")
    // components partition the node set: sizes are positive, labels distinct
    assert(rows.map(_.getAs[Long]("n_nodes")).forall(_ >= 1))
    assert(rows.map(_.getAs[Long]("component")).distinct.length == rows.length)
  }

  test("componentsBigStar: fixpoint labels equal componentsConverged's") {
    val enc = (c: String) =>
      expr(s"substring($c, 2, 1)").cast("long") * lit(1000000000000L) +
        element_at(split(col(c), "-"), 2).cast("long")
    val edges = edgeSlice.select(enc("src").as("a"), enc("dst").as("b"))
    val (star, rounds) = queries.Graph.componentsBigStar(edges)
    assert(rounds > 0 && rounds < 50, s"did not converge in $rounds rounds")
    // the two algorithms reach the SAME fixpoint: min-of-component labels
    val (prop, _) = converged(edges)
    assert(star.except(prop).count() == 0 && prop.except(star).count() == 0,
      "star-contraction labels diverge from min-label propagation")
    // gated driver replay and the distributed branch are the same algorithm
    val (starD, roundsD) =
      queries.Graph.componentsBigStar(edges, driverGateEdges = 0L)
    assert(roundsD == rounds, s"gated $rounds vs distributed $roundsD rounds")
    assert(starD.except(star).count() == 0 && star.except(starD).count() == 0,
      "gated and distributed star labels diverge")
  }

  test("componentsBigStar: O(log n) rounds on a chain, where propagation needs O(n)") {
    import spark.implicits._
    // a 64-hop path: min-label propagation needs eccentricity (63) + 1
    // rounds; star contraction must stay logarithmic — THE reason it is
    // the 100 TB path for high-diameter graphs
    val chain = (1L until 64L).map(i => (i + 1, i)).toDF("a", "b")
    val (labels, rounds) = queries.Graph.componentsBigStar(chain)
    assert(rounds <= 10, s"star contraction took $rounds rounds on a chain")
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 64L).forall(m(_) == 1L), "chain did not collapse to min id")
    // distributed branch honors the same bound (it is the same loop)
    val (_, roundsD) = queries.Graph.componentsBigStar(chain,
      driverGateEdges = 0L)
    assert(roundsD == rounds, s"distributed chain rounds $roundsD != $rounds")
  }

  test("componentsIncremental: merging a delta batch equals a full recompute") {
    import spark.implicits._
    // two chains and an isolated pair; the delta bridges the chains and
    // introduces a brand-new node hanging off an existing one
    val base = Seq((2L, 1L), (3L, 2L), (12L, 11L), (13L, 12L), (21L, 20L))
      .toDF("a", "b")
    val delta = Seq((3L, 11L), (30L, 13L), (40L, 41L)).toDF("a", "b")
    val (baseLabels, _) = queries.Graph.componentsBigStar(base)
    val inc = queries.Graph.componentsIncremental(baseLabels, delta)
    val (full, _) = queries.Graph.componentsBigStar(base.unionByName(delta))
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0,
      "incremental labels diverge from a from-scratch run over base + delta")
    val m = inc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chains 1-3 and 11-13 merged through the bridge; 30 joined them; the
    // untouched pair kept its label; 40-41 is a new component
    assert(Seq(1L, 2L, 3L, 11L, 12L, 13L, 30L).forall(m(_) == 1L), s"merge wrong: $m")
    assert(m(20L) == 20L && m(21L) == 20L && m(40L) == 40L && m(41L) == 40L)
    // an empty delta is the identity
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val idem = queries.Graph.componentsIncremental(baseLabels, empty)
    assert(idem.except(baseLabels).count() == 0 &&
      baseLabels.except(idem).count() == 0)
  }

  test("graph_pagerank_delta: rank movement shrinks over the first rounds") {
    // telemetry query: deltas over the first rounds decrease monotonically
    val deltas = SparkEntry.queries("graph_pagerank_delta")(spark, sf)
      .orderBy("round").collect().map(_.getAs[Long]("l1_delta"))
    assert(deltas.length == 3 &&
      deltas.sliding(2).forall(p => p(1) < p(0)),
      s"rank movement not shrinking: ${deltas.toSeq}")
  }

  test("linkPredictCapped: cap-monotone recall; generous cap equals exact") {
    import spark.implicits._
    // star graph: hub 1 → spokes 2..9. Every spoke pair is a non-adjacent
    // candidate sharing exactly the hub, so the exact census is C(8,2)=28
    // pairs with cn=1, jaccard=1.0 — and capping the hub's neighborhood at
    // k keeps exactly C(k,2) of them.
    val edges = (2L to 9L).map(n => (1L, n)).toDF("a", "b")
    val exact = queries.Graph.linkPredictCapped(edges, 1000)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 28, s"exact census should be 28 pairs, got ${exact.size}")
    val byCap = (1 to 8).map { cap =>
      cap -> queries.Graph.linkPredictCapped(edges, cap)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    byCap.foreach { case (cap, pairs) =>
      assert(pairs.subsetOf(exact), s"cap $cap invented pairs")
      assert(pairs.size == cap * (cap - 1) / 2,
        s"cap $cap should keep C($cap,2) wedge pairs, got ${pairs.size}")
    }
    // recall is cap-monotone: a larger cap's neighbor sample is a superset
    byCap.sliding(2).foreach { case Seq((c1, p1), (c2, p2)) =>
      assert(p1.subsetOf(p2), s"cap $c1 found pairs cap $c2 missed")
    }
    assert(byCap.last._2 == exact, "cap = max degree must equal the exact census")
    // on the fixture graph the registered cap is never hit: top-20 of the
    // capped twin is hash-identical to the exact card
    val exactTop = SparkEntry.queries("graph_link_predict")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val cappedTop = SparkEntry.queries("graph_link_predict_capped")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(exactTop == cappedTop,
      "registered capped variant diverged from the exact census on a graph " +
        "whose degrees never reach the cap")
  }

  test("componentsDecremental: deleting a bridge splits; repair equals recompute") {
    import spark.implicits._
    // one component held together by the bridge (3,11); a second that the
    // deletions never touch
    val edges = Seq((2L, 1L), (3L, 2L), (3L, 11L), (12L, 11L), (13L, 12L),
      (21L, 20L)).toDF("a", "b")
    val (baseLabels, _) = queries.Graph.componentsBigStar(edges)
    val del = Seq((3L, 11L)).toDF("a", "b")
    val rem = Seq((2L, 1L), (3L, 2L), (12L, 11L), (13L, 12L), (21L, 20L))
      .toDF("a", "b")
    val out = queries.Graph.componentsDecremental(baseLabels, rem, del)
    val (full, _) = queries.Graph.componentsBigStar(rem)
    assert(out.except(full).count() == 0 && full.except(out).count() == 0,
      "bounded repair diverges from a from-scratch run over remaining edges")
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the bridge deletion split 1..13 into {1,2,3} and {11,12,13}
    assert(Seq(1L, 2L, 3L).forall(m(_) == 1L) &&
      Seq(11L, 12L, 13L).forall(m(_) == 11L), s"split wrong: $m")
    assert(m(20L) == 20L && m(21L) == 20L, "untouched component must pass through")
    // deleting a pendant's only edge drops the isolated node entirely
    val out2 = queries.Graph.componentsDecremental(baseLabels,
      rem.filter(col("a") =!= 13L), Seq((3L, 11L), (13L, 12L)).toDF("a", "b"))
    val m2 = out2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!m2.contains(13L) && m2(12L) == 11L, s"isolation wrong: $m2")
  }

  test("componentsBigStar: empty edges and self-loop-only nodes") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val (l0, r0) = queries.Graph.componentsBigStar(empty)
    assert(r0 == 0 && l0.isEmpty)
    // self-loops carry no connectivity but the node keeps its own label
    val loops = Seq((7L, 7L), (9L, 8L)).toDF("a", "b")
    val (l1, _) = queries.Graph.componentsBigStar(loops)
    val m = l1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(7L -> 7L, 8L -> 8L, 9L -> 8L), s"labels wrong: $m")
  }

  test("property: componentsBigStar matches brute union-find on random graphs") {
    import spark.implicits._
    import org.scalacheck.Gen
    val genGraph = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(1, 60)
      es <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n.toLong), Gen.choose(0L, n.toLong)))
    } yield es
    Iterator.continually(genGraph.sample).flatten.take(25).foreach { es =>
      // brute union-find with min-id relabeling — the ground truth
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
      def find(v: Long): Long = {
        var r = v
        while (parent(r) != r) r = parent(r)
        var c = v
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = nodes.map(v => v -> find(v)).toMap
        .map { case (v, r) => v -> nodes.filter(u => find(u) == r).min }
      val (labels, rounds) = queries.Graph.componentsBigStar(es.toDF("a", "b"))
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"edges=$es rounds=$rounds got=$got want=$expected")
    }
  }

  test("ktruss: peeling shrinks monotonically and actually bites") {
    val rows = SparkEntry.queries("graph_ktruss")(spark, TestSpark.sf)
      .orderBy("round").collect()
    assert(rows.length == 3) // round 0 (pre-peel) + 2 peels
    rows.sliding(2).foreach {
      case Array(prev, next) =>
        assert(next.getAs[Long]("n_edges") <= prev.getAs[Long]("n_edges"),
          "a peel round added edges")
        assert(next.getAs[Long]("n_nodes") <= prev.getAs[Long]("n_nodes"))
      case _ =>
    }
    // the projection is triangle-dense by construction: the peel must both
    // keep a core AND remove something, or the query is vacuous
    assert(rows(1).getAs[Long]("n_edges") > 0, "peel destroyed the whole graph")
    assert(rows(1).getAs[Long]("n_edges") < rows(0).getAs[Long]("n_edges"),
      "peel removed nothing — no support-deficient edges in the slice")
    // every surviving node has >= 2 incident surviving edges (truss ⊆ 3-core)
    assert(rows.last.getAs[Long]("n_nodes") <= rows.last.getAs[Long]("n_edges"),
      "a k>=4 truss cannot have more nodes than edges")
  }

  test("degree histogram: buckets bound their degrees and cover every node") {
    import org.apache.spark.sql.functions._
    val h = SparkEntry.queries("graph_degree_histogram")(spark, TestSpark.sf)
      .collect()
    h.foreach { r =>
      val (lo, mx) = (r.getAs[Long]("lo_degree"), r.getAs[Long]("max_degree"))
      assert(mx >= lo && mx < lo * 2,
        s"bucket ${r.getAs[Int]("bucket")}: max degree $mx outside [$lo, ${lo * 2})")
    }
    // bucket node counts partition the node set of the (undirected) slice
    val e = SparkEntry.queries("graph_components")(spark, TestSpark.sf)
    val nNodes = e.agg(sum(col("n_members") * col("n_labels"))).collect()(0).getLong(0)
    assert(h.map(_.getAs[Long]("n_nodes")).sum == nNodes,
      "histogram must cover exactly the labeled nodes")
  }

  test("componentsConverged on an empty edge list returns no labels, zero rounds") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val (labels, rounds) = converged(empty)
    assert(rounds == 0 && labels.isEmpty)
  }

  test("hits: independent fixed-point replay matches the top-20 authorities") {
    val SCALE = 1000000000L
    // replay the exact 2-round normalized HITS on the collected slice with
    // plain Scala maps — same encoding, same integer truncation
    def enc(k: String): Long =
      k(1).asDigit.toLong * 1000000000000L + k.split("-")(1).toLong
    val edges = edgeSlice.select("src", "dst").collect()
      .map(r => (enc(r.getString(0)), enc(r.getString(1)))).distinct
    def d(m: Map[Long, Long]): Long =
      math.max(1L, (m.values.max + SCALE - 1) / SCALE)
    def normed(m: Map[Long, Long]): Map[Long, Long] = {
      val dd = d(m); m.map { case (k, v) => k -> v / dd }
    }
    val a1 = normed(edges.groupBy(_._2).map { case (v, es) =>
      v -> es.length * SCALE })
    def half(scores: Map[Long, Long], byTarget: Boolean): Map[Long, Long] =
      normed(edges
        .flatMap { case (u, v) =>
          if (byTarget) scores.get(v).map(sv => (u, sv))
          else scores.get(u).map(su => (v, su)) }
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum })
    val nh1 = half(a1, byTarget = true)
    val na2 = half(nh1, byTarget = false)
    val nh2 = half(na2, byTarget = true)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes
      .map(n => (n, na2.getOrElse(n, 0L), nh2.getOrElse(n, 0L)))
      .sortBy { case (n, a, _) => (-a, n) }.take(20)
      .map { case (n, a, h) =>
        (s"P${n / 1000000000000L}-${n % 1000000000000L}", a, h) }.toSeq
    val got = SparkEntry.queries("graph_hits")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // the LIMIT cut is pinned on the numeric node id in both engines; the
    // final presentation re-sorts by node_key STRING, so compare on a
    // shared total order rather than presentation order
    def canon(xs: Seq[(String, Long, Long)]) = xs.sortBy(x => (-x._2, x._1))
    assert(canon(got) == canon(expected),
      s"HITS replay diverged:\n got $got\n exp $expected")
    // normalization keeps every score inside one fixed-point unit
    assert(got.forall { case (_, a, h) => a >= 0 && a <= SCALE && h >= 0 && h <= SCALE })
  }

  test("property: scc pivot is sound on random digraphs and complete on untaintable cycles") {
    import spark.implicits._
    import org.scalacheck.Gen
    val k = 3
    // random DAG-ish noise on ids 100..130 + a planted cycle on ids 1..c:
    // the cycle's ids are globally smallest, so no outside id can taint its
    // labels and the pivot phase MUST certify every member to root 1
    val genCase = for {
      c <- Gen.choose(2, k + 1) // cycle length <= k+1 => diameter <= k
      m <- Gen.choose(0, 40)
      noise <- Gen.listOfN(m,
        Gen.zip(Gen.choose(100L, 130L), Gen.choose(100L, 130L)))
      bridge <- Gen.choose(100L, 130L)
    } yield (c, noise :+ ((bridge, 1L))) // noise may point INTO the cycle
    Iterator.continually(genCase.sample).flatten.take(20).zipWithIndex.foreach {
      case ((c, noise), n) =>
        val cycle = (1 to c).map(i => (i.toLong, (i % c + 1).toLong))
        val es = (cycle ++ noise).distinct
        def knots(gate: Long) =
          queries.Graph.sccKnots(es.toDF("a", "b"), k, driverGateEdges = gate).collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
        val got = knots(queries.Graph.DriverGateEdges)
        // the distributed chains are the same algorithm as the driver replay
        if (n < 3) assert(knots(0L) == got, s"edges=$es: distributed knots diverge")
        // soundness on EVERY certified row: root reaches node and back in <= k
        val fwd = es.filter(e => e._1 != e._2).groupBy(_._1)
          .map { case (u, vs) => u -> vs.map(_._2).toSet }
        def reach(from: Long, to: Long): Boolean = {
          var frontier = Set(from); var seen = frontier; var found = false
          (1 to k).foreach { _ =>
            frontier = frontier.flatMap(n => fwd.getOrElse(n, Set.empty)) -- seen
            seen ++= frontier
            if (frontier.contains(to)) found = true
          }
          found
        }
        got.foreach { case (node, (root, cert)) =>
          if (cert) assert(reach(root, node) && reach(node, root),
            s"edges=$es: certified $node->$root is not a real cycle")
          else assert(root == node)
        }
        // untaintable-cycle completeness: members 2..c certified to root 1
        (2 to c).foreach { i =>
          assert(got(i.toLong) == (1L, true),
            s"edges=$es: planted-cycle member $i not certified to 1, got=${got.get(i.toLong)}")
        }
        assert(got(1L) == (1L, false), "the pivot itself reports root=self")
    }
  }

  test("scc pivot phase: every certified membership is a real directed cycle") {
    // oriented edges exactly as the query builds them (inward points INTO src)
    val es = Tables.links(spark, sf).select("src", "dst", "direction").collect()
      .map { r =>
        if (r.getString(2) == "outward") (r.getString(0), r.getString(1))
        else (r.getString(1), r.getString(0))
      }.filter { case (a, b) => a != b }.distinct
    val fwd = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def reach(from: String, to: String, hops: Int): Boolean = {
      var frontier = Set(from)
      var seen = frontier
      (1 to hops).exists { _ =>
        frontier = frontier.flatMap(n => fwd.getOrElse(n, Set.empty)) -- seen
        seen ++= frontier
        frontier.contains(to) || { false }
      } || seen.contains(to)
    }
    val rows = SparkEntry.queries("graph_scc_bounded")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    // soundness: a certified (node, root) pair lies on a common cycle —
    // root reaches node and node reaches root, each within k=3 hops
    rows.filter(_._3).foreach { case (node, root, _) =>
      assert(reach(root, node, 3) && reach(node, root, 3),
        s"certified $node in scc($root) is not a real <=3-hop cycle")
    }
    // discovery: the pivot phase must certify real knots on this fixture
    // (completeness is NOT promised — a knot tainted by a smaller one-way
    // reachable id waits for later re-coloring phases; see the scaladoc),
    // and every brute-forced mutual pair it DOES report must be correct
    val eset = es.toSet
    val twoCycles = es.filter { case (a, b) => a < b && eset((b, a)) }
    assert(twoCycles.nonEmpty, "fixture lost its 2-cycles — test is vacuous")
    val certified = rows.filter(_._3)
    assert(certified.nonEmpty, "pivot phase certified nothing on a cyclic fixture")
    // every root referenced by a certified member appears as its own row
    val byNode = rows.map(r => r._1 -> r).toMap
    certified.foreach { case (_, root, _) =>
      assert(byNode.contains(root), s"root $root missing from the card")
    }
    // certified rows never point at themselves; uncertified rows are roots
    rows.foreach { case (node, root, cert) =>
      assert(if (cert) node != root else node == root)
    }
  }

  test("Iterative.truncate uses reliable checkpoints when the conf is set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Iterative.CheckpointDirKey, dir)
    try {
      val df = Iterative.truncate(spark.range(10).toDF("a"))
      assert(df.count() == 10)
      import scala.jdk.CollectionConverters._
      val entries = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.size
      assert(entries > 1, "no reliable checkpoint data written under the dir")
    } finally spark.conf.unset(Iterative.CheckpointDirKey)
    // with the conf unset the helper must fall back to local checkpoints
    val local = Iterative.truncate(spark.range(5).toDF("a"))
    assert(local.count() == 5)
  }

  test("bigram familiarity is >= 1 and counts match the doc's word count") {
    val bg = SparkEntry.queries("pipe_text_bigram_lm")(spark, sf)
    assert(bg.filter(col("familiarity") < 1.0).count() == 0,
      "a bigram must at least match its own occurrence")
    val words = pipeline.docWords(spark, sf)
      .select(col("doc_id"), (size(col("w")) - 1).as("expect_bg"))
      .filter(col("expect_bg") >= 1)
    val mismatch = bg.join(words, Seq("doc_id"))
      .filter(col("n_bigrams") =!= col("expect_bg")).count()
    assert(mismatch == 0, "per-doc bigram count != word count - 1")
  }

  test("harmonicCapped: coverage is cap-monotone and converges to the exact census") {
    val enc = (c: String) =>
      expr(s"substring($c, 2, 1)").cast("long") * lit(1000000000000L) +
        element_at(split(col(c), "-"), 2).cast("long")
    val edges = edgeSlice.select(enc("src").as("a"), enc("dst").as("b"))
    def counts(capped: org.apache.spark.sql.DataFrame) =
      capped.collect().map { r =>
        r.getAs[Long]("node") ->
          (r.getAs[Long]("c1"), r.getAs[Long]("c2"), r.getAs[Long]("c3"))
      }.toMap
    val tight = counts(queries.Graph.harmonicCapped(edges, 2))
    val mid = counts(queries.Graph.harmonicCapped(edges, 8))
    val full = counts(queries.Graph.harmonicCapped(edges, 1 << 20))
    // the uncapped-by-construction run must equal the exact card's counts
    val exact = SparkEntry.queries("graph_harmonic_k3")(spark, sf)
      .collect().map { r =>
        r.getAs[Long]("node") ->
          (r.getAs[Long]("c1"), r.getAs[Long]("c2"), r.getAs[Long]("c3"))
      }.toMap
    exact.foreach { case (node, cs) =>
      assert(full.get(node).contains(cs),
        s"cap 2^20 disagrees with the exact census at node $node")
    }
    // per-hop counts never exceed the cap and never shrink as the cap grows
    tight.values.foreach { case (c1, c2, c3) =>
      assert(c1 <= 2 && c2 <= 2 && c3 <= 2, "hop count above the cap")
    }
    tight.foreach { case (node, (c1, c2, c3)) =>
      val (m1, m2, m3) = mid.getOrElse(node, (0L, 0L, 0L))
      val (f1, f2, f3) = full.getOrElse(node, (0L, 0L, 0L))
      assert(c1 <= m1 && m1 <= f1 && c1 <= f1, s"c1 not cap-monotone at $node")
      // c2/c3 are not per-node monotone in general (a capped hop-1 frontier
      // reroutes which nodes land at hop 2), but total coverage is
      assert(c1 + c2 + c3 <= f1 + f2 + f3 || (m1, m2, m3) != (0L, 0L, 0L),
        s"capped coverage exceeds exact at $node")
    }
    val totalTight = tight.values.map(t => t._1 + t._2 + t._3).sum
    val totalMid = mid.values.map(t => t._1 + t._2 + t._3).sum
    val totalFull = full.values.map(t => t._1 + t._2 + t._3).sum
    assert(totalTight <= totalMid && totalMid <= totalFull,
      s"total coverage not cap-monotone: $totalTight / $totalMid / $totalFull")
  }

  test("neighborhood function: driver BFS replay matches pairs, cumulatives and ppm") {
    val got = SparkEntry.queries("graph_neighborhood_function")(spark, sf)
      .collect().map(r => r.getAs[Long]("h") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("cum_pairs"),
          r.getAs[Long]("reach_ppm"))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    // exact per-source BFS on the collected slice
    val raw = edgeSlice.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).filter(p => p._1 != p._2)
    val und = raw.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet
    var c = Map(1 -> 0L, 2 -> 0L, 3 -> 0L)
    nodes.foreach { s0 =>
      var seen = Set(s0)
      var frontier = Set(s0)
      (1 to 3).foreach { h =>
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
        c = c.updated(h, c(h) + frontier.size)
      }
    }
    val n = nodes.size.toLong
    var cum = 0L
    (1 to 3).foreach { h =>
      cum += c(h)
      assert(got(h.toLong) == ((c(h), cum, cum * 1000000L / (n * (n - 1)))),
        s"hop $h: got ${got(h.toLong)}, replay says (${c(h)}, $cum)")
    }
  }

  test("walk corpus: every step follows the seeded hash over the sorted adjacency") {
    val got = SparkEntry.queries("graph_walk_corpus")(spark, sf).collect()
      .map(r => (0 to 4).map(i => r.getLong(i)))
    assert(got.nonEmpty)
    // rebuild the sorted adjacency on the driver with the same node encoding
    val enc = (c: String) =>
      expr(s"substring($c, 2, 1)").cast("long") * lit(1000000000000L) +
        element_at(split(col(c), "-"), 2).cast("long")
    val raw = edgeSlice.select(enc("src").as("a"), enc("dst").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 != p._2)
    val adj = raw.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    def h64(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    assert(got.map(_.head).distinct.size == adj.size, "one walk per node")
    got.foreach { walk =>
      (1 to 4).foreach { t =>
        val cur = walk(t - 1)
        val ns = adj(cur)
        val idx = (h64(s"$cur:$t:walk") % ns.size).toInt
        assert(walk(t) == ns(idx),
          s"walk from ${walk.head}: step $t took ${walk(t)}, seeded hash says ${ns(idx)}")
      }
    }
  }

  test("ssspBounded: driver Bellman-Ford replay matches; dist bounded by k*maxW") {
    val enc = (c: String) =>
      expr(s"substring($c, 2, 1)").cast("long") * lit(1000000000000L) +
        element_at(split(col(c), "-"), 2).cast("long")
    val edges = edgeSlice.select(enc("src").as("a"), enc("dst").as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val w = edges.map { case (a, b) => (a, b) -> (1 + (a + 2 * b) % 7) }.toMap
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = edges.map(_._1).distinct.filter(_ % 100 < 5)
    val k = 4
    // k rounds of relaxation, exactly the distributed loop's semantics
    val expect = seeds.map { s =>
      var dist = Map(s -> 0L)
      (1 to k).foreach { _ =>
        val relaxed = dist.toSeq.flatMap { case (v, d) =>
          adj.getOrElse(v, Array.empty[Long]).map(n => n -> (d + w((v, n))))
        }
        dist = (dist.toSeq ++ relaxed).groupBy(_._1)
          .view.mapValues(_.map(_._2).min).toMap
      }
      val others = dist.removed(s).values
      s -> (dist.size - 1L,
        if (others.isEmpty) 0L else others.max, others.sum)
    }.toMap
    val got = SparkEntry.queries("graph_sssp_bounded")(spark, sf).collect()
      .map { r =>
        val key = r.getString(0)
        val id = key.substring(1, 2).toLong * 1000000000000L +
          key.split("-")(1).toLong
        id -> (r.getLong(1), r.getLong(2), r.getLong(3))
      }.toMap
    assert(got.keySet == expect.keySet, "seed sets differ")
    expect.foreach { case (s, e) =>
      assert(got(s) == e, s"sssp mismatch at seed $s: got ${got(s)}, want $e")
    }
    // a k-round relaxation can never exceed k hops of max weight
    got.values.foreach { case (_, maxD, _) => assert(maxD <= k * 7L) }
  }

  test("stressBounded: brute-force shortest-path enumeration matches the census") {
    val enc = (c: String) =>
      expr(s"substring($c, 2, 1)").cast("long") * lit(1000000000000L) +
        element_at(split(col(c), "-"), 2).cast("long")
    val edges = edgeSlice.select(enc("src").as("a"), enc("dst").as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = edges.map(_._1).distinct
    val L = 3
    // brute force: BFS distances per seed, then enumerate every shortest
    // path of length <= L by DFS along dist-increasing edges, counting
    // strictly-interior nodes — the definition the DAG algebra implements
    val stress = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    seeds.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0)
      var frontier = List(s)
      (1 to L).foreach { d =>
        frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
          .distinct.filterNot(dist.contains)
        frontier.foreach(v => dist(v) = d)
      }
      def walk(v: Long, path: List[Long]): Unit = {
        if (path.size > 1) // a complete shortest path s -> ... -> v
          path.tail.dropRight(1).foreach(u => stress(u) += 1)
        if (dist(v) < L)
          adj.getOrElse(v, Array.empty[Long])
            .filter(n => dist.get(n).contains(dist(v) + 1))
            .foreach(n => walk(n, path :+ n))
      }
      walk(s, List(s))
    }
    val expect = stress.filter(_._2 > 0).toMap
    val got = SparkEntry.queries("graph_stress_bounded")(spark, sf).collect()
      .map { r =>
        val key = r.getString(0)
        val id = key.substring(1, 2).toLong * 1000000000000L +
          key.split("-")(1).toLong
        id -> r.getLong(1)
      }.toMap
    assert(got == expect,
      s"stress census != brute force (got ${got.size} rows, want ${expect.size})")
  }

  test("stressSampled: mod=1 reproduces the full census exactly") {
    val e = graft.queries.Graph.edgesInt(spark, sf)
    val full = SparkEntry.queries("graph_stress_bounded")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val all1 = graft.queries.Graph.stressCensus(
      e, graft.queries.Graph.stressSampledSeeds(e, 1))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all1 == full, "mod=1 sample must be the identity")
  }

  test("stressSampled: content-determined sample, pointwise <= the full census") {
    val e = graft.queries.Graph.edgesInt(spark, sf)
    val mod = graft.queries.Graph.StressSampleMod
    val seeds = graft.queries.Graph.stressSampledSeeds(e, mod)
      .collect().map(_.getLong(0)).toSet
    val nSources = e.select("a").distinct().count()
    // a real sample: nonempty, strict subset (rate ~1/mod)
    assert(seeds.nonEmpty && seeds.size < nSources,
      s"sample ${seeds.size} of $nSources sources")
    // content-determined: reshuffling the edge frame yields the SAME sources
    val reshuffled = graft.queries.Graph.stressSampledSeeds(
      e.repartition(7), mod).collect().map(_.getLong(0)).toSet
    assert(reshuffled == seeds, "hash sample must not depend on partitioning")
    // linearity: stress sums per-source contributions, so any sampled census
    // is pointwise <= the full one and strictly smaller in total (mod=2 here:
    // the sf0.001 bounded slice is small enough that the card's mod=4 sample
    // can legitimately produce an empty census — sf0.01+ is where the
    // registered card has volume, and its oracle row gates it there)
    val full = SparkEntry.queries("graph_stress_bounded")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = graft.queries.Graph.stressCensus(
      e, graft.queries.Graph.stressSampledSeeds(e, 2))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sampled.nonEmpty)
    sampled.foreach { case (k, v) =>
      assert(full.getOrElse(k, 0L) >= v, s"$k sampled=$v > full=${full.get(k)}")
    }
    assert(sampled.values.sum < full.values.sum)
  }

  test("walkCorpusBiased: R walks per node, and the bias shifts return frequency") {
    val biased = SparkEntry.queries("graph_walk_corpus_biased")(spark, sf).collect()
    val unbiased = SparkEntry.queries("graph_walk_corpus")(spark, sf).collect()
    // R·|V| rows, one per (node, walk-index)
    assert(biased.length == 2 * unbiased.length,
      s"${biased.length} biased rows vs ${unbiased.length} nodes")
    assert(biased.map(r => (r.getLong(r.fieldIndex("n0")), r.getLong(0))).distinct.length
      == biased.length, "one walk per (n0, wr)")
    // the two walks per node genuinely differ somewhere (wr is in the seed)
    def steps(r: org.apache.spark.sql.Row): Seq[Long] =
      (0 to 4).map(i => r.getLong(r.fieldIndex(s"n$i")))
    assert(biased.groupBy(r => r.getLong(r.fieldIndex("n0"))).values
      .exists(ws => ws.map(steps).distinct.length > 1),
      "walk index must produce distinct walks for some node")
    // return-step frequency (n_t == n_{t-2}): the back-weight (1) is the
    // smallest of the weight triple (1:6:3), so biased walks return less
    // often than the uniform walker
    def returnRate(rows: Array[org.apache.spark.sql.Row]): Double = {
      var ret = 0; var tot = 0
      rows.foreach { r =>
        val s = steps(r)
        (2 to 4).foreach { t =>
          tot += 1; if (s(t) == s(t - 2)) ret += 1
        }
      }
      ret.toDouble / tot
    }
    val rb = returnRate(biased)
    val ru = returnRate(unbiased)
    assert(rb < ru, s"biased return rate $rb must undercut uniform $ru")
  }

  test("no src/main size probe collects through a large limit") {
    // a `limit(n).collect()` with n in the thousands funnels up to n rows to
    // the driver just to learn "too big"; size gates go through
    // Graph.gatherUnder's distributed count. A top-1 fetch stays legal.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val probe = """\.limit\(\s*([0-9][0-9_]*)L?\s*\)\s*\.collect\(\)""".r
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        probe.findAllMatchIn(src)
          .filter(_.group(1).replace("_", "").toLong >= 1000)
          .map(m => s"${root.relativize(p)}: ${m.matched}")
      }
    assert(offenders.isEmpty, s"large limit-collect size probes: $offenders")
  }
  /** The bounded slice as distinct directed `(a, b)` pairs in the cards'
    * integer node encoding.
    */
  private def encodedSlice: Array[(Long, Long)] = {
    def enc(k: String): Long =
      k(1).asDigit.toLong * 1000000000000L + k.split("-")(1).toLong
    edgeSlice.select("src", "dst").collect()
      .map(r => (enc(r.getString(0)), enc(r.getString(1)))).distinct
  }

  private def decode(n: Long): String = s"P${n / 1000000000000L}-${n % 1000000000000L}"

  /** Undirected self-loop-free adjacency of [[encodedSlice]]. */
  private def adjacency: Map[Long, Set[Long]] =
    encodedSlice.filter(e => e._1 != e._2).flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }

  test("ppr: independent fixed-point replay matches the top-20 recommendations") {
    val (base, rounds) = (150000000L, 3)
    val edges = encodedSlice
    val outd = edges.groupBy(_._1).map { case (a, es) => a -> es.length.toLong }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val seeds = nodes.filter(_ % 53 == 0).toSet
    // round 1 spends the seeds' teleport mass; later rounds add the decayed
    // inbound sum, every step a truncating integer division
    def step(rank: Long => Long): Map[Long, Long] = edges
      .map { case (a, b) => b -> rank(a) / outd(a) }
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
    var c = step(a => if (seeds(a)) base else 0L)
    (2 to rounds).foreach { _ =>
      val prev = c
      c = step(a => (if (seeds(a)) base else 0L) + 85 * prev.getOrElse(a, 0L) / 100)
    }
    val expected = nodes.filterNot(seeds)
      .map(n => (n, 85 * c.getOrElse(n, 0L) / 100)).filter(_._2 > 0)
      .sortBy { case (n, pr) => (-pr, n) }.take(20)
      .map { case (n, pr) => (decode(n), pr) }.toSeq
    val got = SparkEntry.queries("graph_ppr")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(expected.nonEmpty)
    def canon(xs: Seq[(String, Long)]) = xs.sortBy(x => (-x._2, x._1))
    assert(canon(got) == canon(expected), s"PPR replay diverged:\n got $got\n exp $expected")
  }

  test("link predict and Adamic-Adar: brute-force common-neighbour census matches") {
    val adj = adjacency
    // every wedge centre contributes each pair of its neighbours once
    val census = adj.toSeq.flatMap { case (ctr, ns) =>
      val w = math.floor(1e9 / StrictMath.log(ns.size.toDouble) + 0.5).toLong
      val sorted = ns.toSeq.sorted
      for (i <- sorted.indices; j <- i + 1 until sorted.length)
        yield (sorted(i), sorted(j)) -> w
    }.groupBy(_._1).map { case (p, ws) => p -> (ws.length.toLong, ws.map(_._2).sum) }
      .filter { case ((a, b), _) => !adj(a).contains(b) }
    assert(census.nonEmpty)
    val jaccard = census.toSeq.map { case ((a, b), (cn, _)) =>
      (a, b, cn, cn.toDouble / (adj(a).size + adj(b).size - cn))
    }.sortBy(r => (-r._3, r._1, r._2)).take(20)
    val gotLp = SparkEntry.queries("graph_link_predict")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(gotLp == jaccard, s"link predict diverged:\n got $gotLp\n exp $jaccard")
    val aa = census.toSeq.map { case ((a, b), (cn, w)) => (a, b, cn, w) }
      .sortBy(r => (-r._4, r._1, r._2)).take(20)
    val gotAa = SparkEntry.queries("graph_adamic_adar")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotAa == aa, s"Adamic-Adar diverged:\n got $gotAa\n exp $aa")
  }

  test("clustering coeff: brute-force per-node triangle count matches the top-25") {
    // the fixture slice holds no triangle (graph_triangles' closure is 0),
    // so this pins degrees, lcc and the top-25 cut; the ktruss replay below
    // drives the shared closed-wedge enumeration through real triangles
    val adj = adjacency
    val expected = adj.toSeq.filter(_._2.size >= 2).map { case (n, ns) =>
      val sorted = ns.toSeq.sorted
      val t = (for (i <- sorted.indices; j <- i + 1 until sorted.length
                    if adj(sorted(i)).contains(sorted(j))) yield 1L).sum
      val d = ns.size.toLong
      (n, d, t, math.floor(2000000000.0 * t / (d * (d - 1)) + 0.5).toLong)
    }.sortBy(r => (-r._4, r._1)).take(25)
    assert(expected.nonEmpty)
    val got = SparkEntry.queries("graph_clustering_coeff")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"clustering coeff diverged:\n got $got\n exp $expected")
  }

  test("ktruss: brute-force support peeling matches the per-round report") {
    def enc(k: String): Long =
      k(1).asDigit.toLong * 1000000000000L + k.split("-")(1).toLong
    // parts sharing an order's basket get an edge (a < b)
    var edges = Tables.links(spark, sf).filter(col("project_key") === "P1")
      .select("src", "dst").collect()
      .map(r => (r.getString(0), enc(r.getString(1)))).distinct
      .groupBy(_._1).values.flatMap { ps =>
        val ds = ps.map(_._2).distinct.sorted
        for (i <- ds.indices; j <- i + 1 until ds.length) yield (ds(i), ds(j))
      }.toSet
    def report(round: Int) =
      (round.toLong, edges.size.toLong, edges.flatMap(e => Seq(e._1, e._2)).size.toLong)
    val expected = report(0) +: (1 to 2).map { round =>
      val adj = edges.toSeq.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).toSet }
      // support = triangles through the edge = common neighbours
      edges = edges.filter { case (a, b) => (adj(a) intersect adj(b)).size >= 2 }
      report(round)
    }
    val got = SparkEntry.queries("graph_ktruss")(spark, sf).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, s"k-truss replay diverged:\n got $got\n exp $expected")
    assert(expected.head._2 > expected.last._2, "the peel never bit")
  }

  test("no src/main def takes a null-default DataFrame input") {
    // a `df: DataFrame = null` parameter lets a card hand a memoized frame
    // into a public entry point, so every kernel grows a second code path;
    // kernels take the frames they use and entry points derive them instead
    import scala.jdk.CollectionConverters._
    val allowed = Set(
      // a real second input, not a memoized hand-in: the corpus an
      // incremental sync draws subtask children from
      "graft/sink/Yaml.scala: withRelationships(allIssues)")
    val root = java.nio.file.Paths.get("src/main/scala")
    val param = """(\w+)\s*:\s*(?:[\w.]+\.)?DataFrame\s*=\s*null""".r
    val defn = """def\s+(\w+)""".r
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        param.findAllMatchIn(src).map { m =>
          val owner = defn.findAllMatchIn(src.substring(0, m.start)).toSeq
            .lastOption.fold("?")(_.group(1))
          s"${root.relativize(p)}: $owner(${m.group(1)})"
        }
      }.filterNot(allowed)
    assert(offenders.isEmpty, s"null-default DataFrame parameters: $offenders")
  }
}
