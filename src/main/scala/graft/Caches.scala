package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memoization of shared plan fragments.
  *
  * Several pipeline queries are compositions over the same expensive
  * sub-plans (MinHash band signatures, banded candidate pairs, the quality
  * scorer). Before round 9 each query builder persisted its own copy of
  * those fragments and never released them: every rebuild re-registered the
  * same plan with the session `CacheManager` ("Asked to cache already cached
  * data" warn spam) and a long-lived driver accumulated storage-memory
  * pressure one dead entry at a time.
  *
  * This registry is the single cache lifecycle authority instead:
  *   - [[fragment]] builds + persists a fragment ONCE per (session, dir,
  *     name) and hands every later consumer the same DataFrame, so the
  *     `CacheManager` holds exactly one entry per distinct fragment — by
  *     construction, no re-persist warnings and no unbounded growth.
  *   - The registry is enumerable: [[fragments]] is the allowlist the
  *     cache-hygiene audit checks `CacheManager` contents against, and
  *     [[clear]] releases everything for a session (tests; or a driver
  *     retiring a dataset directory).
  *   - Entries whose SparkContext has stopped are pruned on the next call,
  *     so harnesses that cycle sessions don't pin dead plans.
  *
  * Fragments must be DETERMINISTIC functions of (session, dir) — nothing
  * keyed by batch state belongs here (the incremental index pipelines manage
  * their own per-batch frames and release them eagerly).
  *
  * One escape hatch, honored at call time: [[bypassed]] disables
  * memoization for the current thread — plan-shape audits use this so they
  * always see the raw construction, never an `InMemoryTableScan` over a
  * previously cached fragment.
  */
object Caches {

  /** Max distinct dataset DIRS a session keeps fragments for
    * (least-recently-used dir evicted + unpersisted beyond it). A long-lived
    * driver cycling many directories otherwise accumulates one persisted
    * fragment set per dir until the session stops.
    */
  val MaxDirs = 8

  /** One per-JVM scratch root for queries that materialize a small local
    * index (incremental BM25 postings, incremental IVF). Previously each
    * execution called `Files.createTempDirectory` and never cleaned up, so
    * every 224-query sweep leaked a postings tree under /tmp — rounds of
    * sweeps accumulated until the stale-dir reaper caught them an hour
    * later. One root, removed by a shutdown hook, bounds the leak to the
    * live JVM; per-call subdirs keep executions isolated.
    */
  lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scala.util.Try(java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () }))))
    root
  }

  /** A fresh subdirectory under [[scratchRoot]] (deleted at JVM exit). */
  def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  private final case class Entry(df: DataFrame, persisted: Boolean)

  // keyed strongly; stopped-context entries are pruned on the next access
  // (a WeakHashMap would never evict anyway: the DataFrame value holds a
  // strong reference back to its session key)
  private val reg = mutable.LinkedHashMap[(SparkSession, String, String), Entry]()

  // per-session dir recency: touched on every fragment() call, re-inserted
  // so LinkedHashMap order IS least-recently-used order
  private val dirLru = mutable.LinkedHashMap[(SparkSession, String), Unit]()

  private val bypass = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Fragment lifecycle counters since [[resetStats]] — the diagnostic for
    * "did a sweep silently rebuild fragments?": a healthy full sweep shows
    * `builds` == distinct fragments and `evictions` == 0; anything else
    * means mid-sweep eviction/rebuild and explains tail blowups on the
    * fragment-composed queries. Bench stamps these into bench_full.json.
    */
  final case class Stats(hits: Long, builds: Long, evictions: Long)
  private var nHits = 0L
  private var nBuilds = 0L
  private var nEvictions = 0L
  def stats: Stats = synchronized(Stats(nHits, nBuilds, nEvictions))
  def resetStats(): Unit = synchronized { nHits = 0; nBuilds = 0; nEvictions = 0 }

  /** True when memoization is off for this thread — the check [[fragment]]
    * applies, exposed for memo registries that cache non-DataFrame
    * artifacts (e.g. the tokenizer's trained merge table) so they honor the
    * same bypass.
    */
  def disabled: Boolean = bypass.get()

  /** Run `body` with fragment memoization disabled on this thread. */
  def bypassed[T](body: => T): T = {
    bypass.set(java.lang.Boolean.TRUE)
    try body finally bypass.set(java.lang.Boolean.FALSE)
  }

  /** The memoized fragment `name` for (`s`, `dir`), building (and, when
    * `persisted`, caching) it on first use. `persisted = false` memoizes
    * only the DataFrame handle — for fragments whose materialization is
    * corpus-sized but whose CONSTRUCTION is expensive driver-side work
    * (e.g. the collected label-propagation mapping).
    */
  def fragment(s: SparkSession, dir: String, name: String,
      persisted: Boolean = true)(build: => DataFrame): DataFrame = {
    if (disabled) return build
    synchronized {
      reg.filterInPlace { case ((sess, _, _), _) => !sess.sparkContext.isStopped }
      dirLru.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      // touch (move to most-recent) BEFORE any eviction decision
      dirLru.remove((s, dir)); dirLru.put((s, dir), ())
      val key = (s, dir, name)
      val out = reg.get(key) match {
        case Some(e) => nHits += 1; e.df
        case None =>
          nBuilds += 1
          // build OUTSIDE reg.getOrElseUpdate: nested fragment() calls
          // (candidates build on top of band signatures) re-enter this map
          val df = build
          val kept = if (persisted) df.persist() else df
          reg.put(key, Entry(kept, persisted))
          kept
      }
      // LRU cap on dirs per session: evict (and unpersist) the stalest dirs
      // beyond the bound so a driver cycling dataset directories can't grow
      // storage memory without limit
      val mine = dirLru.keys.filter(_._1 eq s).toSeq // LRU-first order
      mine.dropRight(MaxDirs).foreach { case (_, staleDir) => clearDir(s, staleDir) }
      out
    }
  }

  /** Live PERSISTED fragments registered under `s` — `(name, df)` pairs.
    * This is the audit allowlist: after any registered query runs, the
    * session `CacheManager` must contain these entries and nothing else.
    */
  def fragments(s: SparkSession): Seq[(String, DataFrame)] = synchronized {
    reg.collect {
      case ((sess, dir, name), Entry(df, true)) if sess eq s =>
        (s"$dir#$name", df)
    }.toSeq
  }

  /** Unpersist and forget every fragment registered under `s`. */
  def clear(s: SparkSession): Unit = synchronized {
    reg.filterInPlace { case ((sess, _, _), e) =>
      if (sess eq s) {
        if (e.persisted && !sess.sparkContext.isStopped)
          e.df.unpersist(blocking = false)
        false
      } else true
    }
    dirLru.filterInPlace { case ((sess, _), _) => !(sess eq s) }
  }

  /** Unpersist and forget the fragments of one dataset dir under `s` — the
    * hook an engine calls when it retires a directory (also the LRU-cap
    * eviction path).
    */
  def clearDir(s: SparkSession, dir: String): Unit = synchronized {
    reg.filterInPlace { case ((sess, d, _), e) =>
      if ((sess eq s) && d == dir) {
        nEvictions += 1
        if (e.persisted && !sess.sparkContext.isStopped)
          e.df.unpersist(blocking = false)
        false
      } else true
    }
    dirLru.remove((s, dir))
  }
}
