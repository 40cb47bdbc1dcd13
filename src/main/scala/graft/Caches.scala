package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memoization: the one registry for every artifact that is
  * a deterministic function of (session, dataset dir).
  *
  * Several queries are compositions over the same expensive sub-plans
  * (MinHash band signatures, banded candidate pairs, the quality scorer,
  * the graph adjacency frames) or consume the same driver-side result (the
  * trained k-means centroids, the tokenizer's merge table, the CDC card's
  * on-disk ledger). Before round 9 each query builder persisted its own
  * copy of those fragments and never released them: every rebuild
  * re-registered the same plan with the session `CacheManager` ("Asked to
  * cache already cached data" warn spam) and a long-lived driver
  * accumulated storage-memory pressure one dead entry at a time.
  *
  * This registry is the single lifecycle authority instead, with two entry
  * points over one map:
  *   - [[memo]] builds any value ONCE per (session, dir, name) and hands
  *     every later caller the same object.
  *   - [[fragment]] is [[memo]] for a DataFrame that is also persisted, so
  *     the `CacheManager` holds exactly one entry per distinct fragment —
  *     by construction, no re-persist warnings and no unbounded growth.
  *   - Every entry shares one policy: one lock (a build runs while holding
  *     it, so concurrent callers of the same name wait for the first build
  *     instead of repeating it; nested calls from the same thread re-enter),
  *     the [[Stats]] counters, the [[bypassed]] escape hatch, the per-session
  *     [[MaxDirs]] dir LRU, [[clear]] / [[clearDir]], and the pruning of
  *     entries whose SparkContext has stopped, so harnesses that cycle
  *     sessions don't pin dead plans. Releasing an entry unpersists it when
  *     it is a cached DataFrame; every other value is just dropped (a
  *     truncated frame's localCheckpoint blocks go with its last reference).
  *   - The registry is enumerable: [[fragments]] is the allowlist the
  *     cache-hygiene audit checks `CacheManager` contents against.
  *
  * Entries must be DETERMINISTIC functions of (session, dir) — nothing
  * keyed by batch state belongs here (the incremental index pipelines manage
  * their own per-batch frames and release them eagerly).
  *
  * Three session-lifetime caches stay outside on purpose:
  *   - `Graph.gatherMemo` is keyed by a DataFrame handle, not by (session,
  *     dir): an LRU of 4 collected edge arrays of up to
  *     `Graph.DriverGateEdges` edges each on the driver. Under the per-dir
  *     LRU that bound would grow to [[MaxDirs]] × the gated frames per dir.
  *   - `Misc.statsSessions` is keyed weakly by the parent session alone, so
  *     the child sessions a driver drops are not pinned.
  *   - `Tables.t`'s parquet schema resolution runs on every read and is not
  *     memoized here: pinning a schema changes what gets read, so that move
  *     needs its own A/B.
  */
object Caches {

  /** Max distinct dataset DIRS a session keeps entries for
    * (least-recently-used dir evicted + released beyond it). A long-lived
    * driver cycling many directories otherwise accumulates one persisted
    * fragment set (and one set of trained artifacts) per dir until the
    * session stops.
    */
  val MaxDirs = 8

  /** One per-JVM scratch root for queries that materialize a small local
    * index (incremental BM25 postings, incremental IVF). Previously each
    * execution called `Files.createTempDirectory` and never cleaned up, so
    * every 224-query sweep leaked a postings tree under /tmp — rounds of
    * sweeps accumulated until the stale-dir reaper caught them an hour
    * later. One root, removed by a shutdown hook, bounds the leak to the
    * live JVM; per-call subdirs keep executions isolated. The root's name
    * carries the owning JVM's pid ([[ScratchPrefix]]`<pid>-…`), so another
    * JVM's stale-temp sweep ([[Bench.sweepStaleTemp]]) can tell a live
    * driver's root from a crashed run's.
    */
  lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory(
      s"$ScratchPrefix${ProcessHandle.current().pid()}-")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scala.util.Try(java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () }))))
    root
  }

  /** Name prefix of every [[scratchRoot]], followed by its JVM's pid. */
  val ScratchPrefix = "graft-scratch-"

  /** A fresh subdirectory under [[scratchRoot]] (deleted at JVM exit). */
  def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  // keyed strongly; stopped-context entries are pruned on the next access
  // (a WeakHashMap would never evict anyway: a DataFrame value holds a
  // strong reference back to its session key)
  private val reg = mutable.LinkedHashMap[(SparkSession, String, String), Any]()

  // per-session dir recency: touched on every memo() call, re-inserted
  // so LinkedHashMap order IS least-recently-used order
  private val dirLru = mutable.LinkedHashMap[(SparkSession, String), Unit]()

  private val bypass = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Registry lifecycle counters since [[resetStats]], over [[memo]] and
    * [[fragment]] entries alike — the diagnostic for "did a sweep silently
    * rebuild entries?": a healthy full sweep shows `builds` == distinct
    * entries and `evictions` == 0; anything else means mid-sweep
    * eviction/rebuild and explains tail blowups on the fragment-composed
    * queries. Bench stamps these into bench_full.json.
    */
  final case class Stats(hits: Long, builds: Long, evictions: Long)
  private var nHits = 0L
  private var nBuilds = 0L
  private var nEvictions = 0L
  def stats: Stats = synchronized(Stats(nHits, nBuilds, nEvictions))
  def resetStats(): Unit = synchronized { nHits = 0; nBuilds = 0; nEvictions = 0 }

  /** True when memoization is off for this thread. */
  def disabled: Boolean = bypass.get()

  /** Run `body` with memoization disabled on this thread — plan-shape
    * audits use this so they always see the raw construction, never an
    * `InMemoryTableScan` over a previously cached fragment.
    */
  def bypassed[T](body: => T): T = {
    bypass.set(java.lang.Boolean.TRUE)
    try body finally bypass.set(java.lang.Boolean.FALSE)
  }

  /** The memoized value `name` for (`s`, `dir`), built on first use and
    * never persisted: for artifacts whose CONSTRUCTION is expensive but
    * which the `CacheManager` should not hold — driver-side results
    * (centroids, merge tables, a scratch ledger path) and frames that are
    * already materialized by `Iterative.truncate`. A truncated frame is the
    * choice for a frame re-read several times PER QUERY (census hops, walk
    * steps, wedge legs, both pair sides of a verify join): its
    * localCheckpoint blocks are row-format, while a persisted fragment pays
    * a columnar decode on every read (measured on the graph wedge cards:
    * −0.3 s/query); the memoized handle still shares the one
    * materialization across the sweep.
    */
  def memo[T](s: SparkSession, dir: String, name: String)(build: => T): T = {
    if (disabled) return build
    synchronized {
      reg.filterInPlace { case ((sess, _, _), _) => !sess.sparkContext.isStopped }
      dirLru.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      // touch (move to most-recent) BEFORE any eviction decision
      dirLru.remove((s, dir)); dirLru.put((s, dir), ())
      val key = (s, dir, name)
      val out = reg.get(key) match {
        case Some(v) => nHits += 1; v.asInstanceOf[T]
        case None =>
          nBuilds += 1
          // build OUTSIDE reg.getOrElseUpdate: nested memo() calls
          // (candidates build on top of band signatures) re-enter this map
          val v = build
          reg.put(key, v)
          v
      }
      // LRU cap on dirs per session: evict (and release) the stalest dirs
      // beyond the bound so a driver cycling dataset directories can't grow
      // storage memory without limit
      val mine = dirLru.keys.filter(_._1 eq s).toSeq // LRU-first order
      mine.dropRight(MaxDirs).foreach { case (_, staleDir) => clearDir(s, staleDir) }
      out
    }
  }

  /** The memoized fragment `name` for (`s`, `dir`): [[memo]] of `build`,
    * persisted on first use.
    */
  def fragment(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    if (disabled) build else memo(s, dir, name)(build.persist())

  private def cached(v: Any): Option[DataFrame] = v match {
    case df: DataFrame @unchecked if !df.sparkSession.sparkContext.isStopped &&
        df.storageLevel != StorageLevel.NONE => Some(df)
    case _ => None
  }

  /** Live PERSISTED fragments registered under `s` — `(name, df)` pairs.
    * This is the audit allowlist: after any registered query runs, the
    * session `CacheManager` must contain these entries and nothing else.
    */
  def fragments(s: SparkSession): Seq[(String, DataFrame)] = synchronized {
    reg.toSeq.flatMap { case ((sess, dir, name), v) =>
      if (sess eq s) cached(v).map(s"$dir#$name" -> _) else None
    }
  }

  /** Release and forget every entry registered under `s`. */
  def clear(s: SparkSession): Unit = synchronized {
    reg.filterInPlace { case ((sess, _, _), v) =>
      if (sess eq s) { cached(v).foreach(_.unpersist(blocking = false)); false }
      else true
    }
    dirLru.filterInPlace { case ((sess, _), _) => !(sess eq s) }
  }

  /** Release and forget the entries of one dataset dir under `s` — the
    * hook an engine calls when it retires a directory (also the LRU-cap
    * eviction path).
    */
  def clearDir(s: SparkSession, dir: String): Unit = synchronized {
    reg.filterInPlace { case ((sess, d, _), v) =>
      if ((sess eq s) && d == dir) {
        nEvictions += 1
        cached(v).foreach(_.unpersist(blocking = false))
        false
      } else true
    }
    dirLru.remove((s, dir))
  }
}
