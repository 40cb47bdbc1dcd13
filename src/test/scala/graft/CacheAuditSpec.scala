package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Cache lifecycle audit: the session `CacheManager` is a shared, unbounded
  * resource — a query builder that persists a frame and never releases it
  * taxes every later query in a long-lived driver. The rule enforced here:
  * after ANY registered query executes, the cache holds exactly the
  * fragments memoized through [[Caches]] (the deliberate, enumerable,
  * releasable long-lived caches) and nothing else.
  */
class CacheAuditSpec extends AnyFunSuite {
  import TestSpark._

  private def session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private def cm = session.sharedState.cacheManager

  private def classicDf(df: org.apache.spark.sql.DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]

  test("every registered query leaves only memoized fragments cached") {
    Caches.clear(spark)
    spark.catalog.clearCache()
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf).collect()
        val frags = Caches.fragments(spark)
        // distinct CachedData entries accounted for by live fragments (two
        // fragment names could in principle canonicalize to one plan)
        val accounted = frags
          .flatMap { case (_, f) => cm.lookupCachedData(classicDf(f)) }
          .map(System.identityHashCode).toSet.size
        if (org.apache.spark.sql.GraftCacheProbe.numCachedEntries(session) == accounted) None
        else Some(s"$name: ${org.apache.spark.sql.GraftCacheProbe.numCachedEntries(session)} cached entries but only " +
          s"$accounted accounted for by fragments " +
          s"[${frags.map(_._1).mkString(", ")}]")
    }
    assert(offenders.isEmpty,
      "queries left unregistered cache entries:\n" + offenders.mkString("\n"))
  }

  test("fragment registry is thread-safe: concurrent builders share entries") {
    Caches.clear(spark)
    spark.catalog.clearCache()
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // all four queries race to memoize the SAME underlying fragments
    // (band signatures, candidates, verify sets) on one session — a
    // long-lived driver serving parallel requests does exactly this
    val names = Seq("pipe_dedup_minhash", "pipe_dedup_jaccard",
      "pipe_dedup_containment", "pipe_dedup_survivor")
    val serialCounts = names.map(n =>
      n -> SparkEntry.queries(n)(spark, sf).count()).toMap
    val serialFrags = Caches.fragments(spark).map(_._1).sorted
    Caches.clear(spark)
    spark.catalog.clearCache()
    val futures = (0 until 8).map { i =>
      val n = names(i % names.length)
      Future(n -> SparkEntry.queries(n)(spark, sf).count())
    }
    val racedCounts = Await.result(Future.sequence(futures), 5.minutes)
    racedCounts.foreach { case (n, c) =>
      assert(c == serialCounts(n), s"$n: raced count $c != serial ${serialCounts(n)}")
    }
    val frags = Caches.fragments(spark).map(_._1).sorted
    assert(frags == serialFrags,
      s"racing builders changed the fragment set: $frags vs $serialFrags")
    // and the CacheManager still holds exactly the registered fragments
    val accounted = Caches.fragments(spark)
      .flatMap { case (_, f) => cm.lookupCachedData(classicDf(f)) }
      .map(System.identityHashCode).toSet.size
    assert(org.apache.spark.sql.GraftCacheProbe.numCachedEntries(session) == accounted,
      "concurrent builds left unregistered cache entries")
  }

  test("clear releases every fragment and empties the cache") {
    // touch a fragment-heavy query so something is definitely cached
    SparkEntry.queries("pipe_dedup_jaccard")(spark, sf).collect()
    assert(Caches.fragments(spark).nonEmpty)
    assert(!cm.isEmpty)
    Caches.clear(spark)
    assert(Caches.fragments(spark).isEmpty)
    assert(cm.isEmpty,
      "CacheManager still holds entries after Caches.clear — a builder is " +
        "persisting outside the fragment registry")
  }

  test("LRU dir cap evicts and unpersists the stalest dir's fragments") {
    Caches.clear(spark)
    spark.catalog.clearCache()
    try {
      // distinct row counts per dir so no two probe plans canonicalize to
      // the same CacheManager entry
      def reg(i: Int) = Caches.fragment(spark, s"/lru/dir$i", "probe") {
        spark.range(10 + i).toDF("n")
      }
      def live = Caches.fragments(spark).map(_._1).sorted
      def names(is: Seq[Int]) = is.map(i => s"/lru/dir$i#probe").sorted
      val cap = Caches.MaxDirs
      val first = reg(0)
      (1 until cap).foreach(reg)
      assert(live == names(0 until cap))
      reg(cap) // over cap: dir0 is LRU, must be evicted
      assert(live == names(1 to cap),
        s"cap $cap with ${cap + 1} dirs must keep only the $cap most recently used")
      assert(classicDf(first).storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE,
        "evicted dir's fragment must be unpersisted")
      // the cache manager holds exactly the surviving allowlist
      Caches.fragments(spark).foreach(_._2.collect())
      val accounted = Caches.fragments(spark)
        .flatMap { case (_, f) => cm.lookupCachedData(classicDf(f)) }
        .map(System.identityHashCode).toSet.size
      assert(org.apache.spark.sql.GraftCacheProbe.numCachedEntries(session) == accounted)
      // touching dir1 refreshes its recency: next eviction takes dir2
      reg(1); reg(cap + 1)
      assert(live == names(Seq(1) ++ (3 to cap + 1)))
      // explicit dir retirement releases without waiting for the cap
      Caches.clearDir(spark, "/lru/dir1")
      assert(live == names(3 to cap + 1))
    } finally {
      Caches.clear(spark)
      spark.catalog.clearCache()
    }
  }

  test("bypass builds register nothing and memoization is referentially stable") {
    Caches.clear(spark)
    spark.catalog.clearCache()
    Caches.bypassed {
      SparkEntry.queries("pipe_dedup_minhash")(spark, sf)
    }
    assert(Caches.fragments(spark).isEmpty && cm.isEmpty,
      "bypassed build memoized or cached a fragment")
    val a = SparkEntry.queries("pipe_dedup_minhash")(spark, sf)
    val n = Caches.fragments(spark).size
    val b = SparkEntry.queries("pipe_dedup_minhash")(spark, sf)
    assert(Caches.fragments(spark).size == n,
      "rebuilding the same query grew the fragment registry")
    a.collect(); b.collect()
    assert(org.apache.spark.sql.GraftCacheProbe.numCachedEntries(session) == Caches.fragments(spark)
      .flatMap { case (_, f) => cm.lookupCachedData(classicDf(f)) }
      .map(System.identityHashCode).toSet.size)
  }

  test("clearDir releases every memo of the dir: the next call rebuilds it") {
    def cdc() = SparkEntry.queries("cdc_state_pruned_resolve")(spark, sf)
    val km = pipeline.Clustering.trained(spark, sf)
    val bpe = pipeline.Tokenizer.train(spark, sf)
    cdc()
    assert(pipeline.Clustering.trained(spark, sf) eq km, "centroids are memoized")
    assert(pipeline.Tokenizer.train(spark, sf) eq bpe, "merge table is memoized")
    Caches.clearDir(spark, sf)
    val before = Caches.stats.builds
    cdc()
    val survived = Seq(
      "cdc_state_pruned_resolve's ledger" -> (Caches.stats.builds == before),
      "trained centroids" -> (pipeline.Clustering.trained(spark, sf) eq km),
      "trained merge table" -> (pipeline.Tokenizer.train(spark, sf) eq bpe))
      .collect { case (what, true) => what }
    assert(survived.isEmpty, s"survived clearDir: ${survived.mkString(", ")}")
  }

  // the session-lifetime caches that prune stopped sessions themselves, each
  // with the reason it stays outside the Caches registry
  private val ownPrune = Map(
    "graft/Caches.scala" -> "the registry itself",
    "graft/queries/Graph.scala" -> ("gatherMemo: keyed by a DataFrame handle, " +
      "an LRU of 4 collected edge arrays; under the per-dir LRU its driver " +
      "bound would grow to MaxDirs x the gated frames per dir"))

  test("no file under src/main/scala but Caches keeps a per-session registry") {
    val root = Paths.get("src/main/scala")
    val registries = Files.walk(root).iterator().asScala
      .filter { p =>
        val src = if (p.toString.endsWith(".scala"))
          new String(Files.readAllBytes(p), "UTF-8") else ""
        src.contains("sparkContext.isStopped") ||
          src.contains("LinkedHashMap[(SparkSession")
      }
      .map(root.relativize(_).toString).toSet
    assert((registries -- ownPrune.keySet).isEmpty,
      s"memo registries outside Caches: ${(registries -- ownPrune.keySet).toSeq.sorted}")
  }
}
