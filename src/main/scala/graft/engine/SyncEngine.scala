package graft.engine

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.BatchResult
import graft.sink.{GitRepo, Yaml}
import graft.sources.Ingest
import graft.state.StateStore

/** The batch/incremental sync pipeline as a library facade — the reference's
  * main loop (fetch → filter → write YAML → link edges → git commit → update
  * state) re-expressed as DataFrame stages
  * (reference: internal/sync/batch.go:179-426,
  * internal/sync/incremental.go:77-179).
  *
  * The reference fans out per-issue tasks to a goroutine pool; here the
  * parallelism is Spark task parallelism over partitions, the per-issue git
  * commit becomes one commit per batch (SURVEY.md §4.2), and per-issue state
  * updates become one keyed merge.
  */
object SyncEngine {

  /** Sync options (reference: internal/cli/sync.go flags + JIRASyncSpec). */
  final case class SyncOptions(
      jql: Option[String] = None,
      incremental: Boolean = false,
      force: Boolean = false,
      dryRun: Boolean = false,
      projects: Seq[String] = Nil,
      maxRetries: Int = 3,
      backoffBaseMs: Long = 1000,
      backoffCapMs: Long = 30000)

  /** C5: per-step progress events (reference: internal/sync/batch.go:62-71).
    * Non-blocking contract: the reporter must not throw; the default is a
    * no-op.
    */
  trait ProgressReporter extends Serializable {
    def step(name: String, percent: Int): Unit
  }
  object NoProgress extends ProgressReporter {
    def step(name: String, percent: Int): Unit = ()
  }

  /** C7: retry with exponential backoff, base→cap, like the reference's
    * controller retry (reference: internal/operator/types/types.go:57-67).
    */
  def withRetry[T](maxRetries: Int, baseMs: Long, capMs: Long,
      sleep: Long => Unit = Thread.sleep)(f: () => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= maxRetries) {
      try return f()
      catch {
        case e: Throwable =>
          last = e
          if (attempt < maxRetries)
            sleep(math.min(capMs, baseMs * (1L << attempt)))
          attempt += 1
      }
    }
    throw last
  }

  /** One sync run. Returns the batch metrics (A4,
    * reference: internal/sync/batch.go:33-60).
    */
  def run(
      spark: SparkSession,
      issues: DataFrame,
      links: => DataFrame,
      repoDir: String,
      statePath: String,
      opts: SyncOptions = SyncOptions(),
      now: Timestamp = new Timestamp(0L),
      jqlCtx: graft.jql.JqlContext = null,
      progress: ProgressReporter = NoProgress): BatchResult = {
    val t0 = System.nanoTime()
    val opId = s"sync-${now.getTime}"

    // 1. plan: JQL filter compiled locally (the reference ships the string to
    // the server; our compiler evaluates it)
    progress.step("planning", 0)
    val ctx = Option(jqlCtx).getOrElse(
      graft.jql.JqlContext(now, "sync", Seq.empty))
    val selected = opts.jql match {
      case Some(q) =>
        new graft.jql.JqlCompiler(issues, links, ctx, deterministic = false).compile(q)
      case None => issues
    }

    // 2. incremental candidate filter against state (C1/P3/P4). The full
    // selected-set count is only evaluated when incremental needs a skipped
    // metric — a non-incremental run derives total from the written count
    // instead of paying an extra pass.
    progress.step("filtering", 20)
    // base + pending deltas: a CdcStream on the same ledger commits deltas
    // (StateStore.appendDelta), and issues it synced must not look new
    val state = StateStore.loadResolved(spark, statePath)
    // project scoping applies to the *selected* set so the skipped metric is
    // computed over the same universe the change filter saw
    val scoped =
      if (opts.projects.nonEmpty)
        selected.filter(col("project_key").isin(opts.projects: _*))
      else selected
    val candidates =
      if (opts.incremental) StateStore.changedIssues(scoped, state, force = opts.force)
      else scoped
    val toSyncBase = candidates.drop("change_type")
    // Incremental candidates are join-derived (issues ⟗ state) — cache them
    // and materialize ONCE before forking the concurrent sink jobs, or those
    // jobs race to compute the same partitions twice. A full run's batch is a
    // plain filtered scan: letting each concurrent job rescan it is cheaper
    // than serializing all of them behind a cache-materialization pass.
    val useCache = opts.incremental
    val toSync = if (useCache) toSyncBase.cache() else toSyncBase
    try {
      // 3. dry run stops before any write (C9,
      // reference: internal/sync/incremental.go:404-465)
      if (opts.dryRun) {
        val n = toSync.count()
        val total = if (opts.incremental) scoped.count() else n
        progress.step("dry-run-complete", 100)
        val elapsedMs = (System.nanoTime() - t0) / 1000000
        return BatchResult(opId, total, 0, 0, total, elapsedMs,
          if (elapsedMs > 0) n * 1000.0 / elapsedMs else 0.0)
      }

      // empty batch → nothing to write, commit, or merge: short-circuit ALL
      // sink phases BEFORE forking any write job (the reference
      // short-circuits an empty changed set the same way,
      // internal/sync/incremental.go:156-179). State and edges are
      // deliberately untouched — merging an empty batch is an identity, and
      // per-key last_synced only moves when a key actually syncs. Checking
      // BEFORE the fork matters for FULL runs too: a full run rewrites the
      // edge table, so a misconfigured JQL/project filter selecting nothing
      // must not wipe relationships/ while YAML and state stay intact.
      // (For incremental runs the count doubles as the cache materialization
      // barrier; a full run's isEmpty is a take(1) — stops at the first row.)
      val batchEmpty =
        if (opts.incremental) toSync.count() == 0 else toSync.isEmpty
      if (batchEmpty) {
        val total = if (opts.incremental) scoped.count() else 0L
        progress.step("done", 100)
        val elapsedMs = (System.nanoTime() - t0) / 1000000
        return BatchResult(opId, total, 0L, 0L, total, elapsedMs, 0.0)
      }

      // 4-7 run as three INDEPENDENT cluster jobs forked together — the
      // executors never idle behind a driver-side phase:
      //   (a) YAML + git-blob write (S6+S9 fused, main thread): executors
      //       write their partitions' YAML files AND the content-addressed
      //       git objects, so the hashing/object-creation bulk of `git add`
      //       runs parallel with the data. Metrics derive from the
      //       per-partition manifests each task publishes by atomic rename,
      //       which under speculative execution or task retry count only
      //       the winning attempt.
      //   (b) edge write (S11): depends only on the batch, not the YAML
      //       files or the commit (separate pathspec: relationships/ vs
      //       projects/). Awaited BEFORE the state swap — state must not
      //       mark issues synced until their edges are durable. A full run
      //       stages the whole table and swaps it in. An incremental batch
      //       stages only its projects — their other issues' edges plus its
      //       own — in one write job, then swaps each project dir in; a
      //       crash before the state swap reruns the same idempotent upsert.
      //   (c) OPTIMISTIC state staging: the merge assumes every file write
      //       succeeds (the overwhelmingly common case) and materializes to
      //       the state store's tmp dir; a write failure restages without
      //       the failed keys before the swap. Issues whose write failed are
      //       NEVER marked synced — they stay absent from state so the next
      //       incremental run retries them (A4 failed accounting,
      //       reference: internal/sync/batch.go FailedIssues).
      // Only the metadata commits (git tree/ref, state rename swap) are
      // ordered, and both are cheap.
      GitRepo.init(repoDir)
      progress.step("writing", 40)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      progress.step("relationships", 60)
      val edgesDone = scala.concurrent.Future {
        val batchEdges = links.join(toSync.select(col("key").as("__k")),
          col("src") === col("__k"), "left_semi")
        if (opts.incremental)
          Ingest.upsertEdges(batchEdges, toSync.select("key", "project_key"),
            s"$repoDir/relationships")
        else Ingest.writeEdges(batchEdges, s"$repoDir/relationships")
      }
      var stateStaged = scala.concurrent.Future {
        StateStore.stage(
          StateStore.merge(state, StateStore.fromIssues(toSync, now)), statePath)
      }
      // on ANY failure below, quiesce the background writers before
      // surfacing the error — a retried run must not race an orphaned
      // overwrite of the same relationships/state paths — and DISCARD the
      // staged tmp: an uncommitted staged state left behind could otherwise
      // be promoted by loadTable's interrupted-commit recovery, marking
      // issues synced whose sink writes were never confirmed.
      def quiesce(): Unit = {
        def awaitQuiet(f: scala.concurrent.Future[_]): Unit =
          try { scala.concurrent.Await.ready(f,
            scala.concurrent.duration.Duration.Inf); () }
          catch { case _: Throwable => () }
        awaitQuiet(edgesDone)
        awaitQuiet(stateStaged)
        try StateStore.discardStaged(spark, statePath)
        catch { case _: Throwable => () }
      }
      try {

      // YAML records persist whatever relationship columns the input carries
      // (subtasks / issue_links arrays, like the reference's API-fetched
      // Issue struct — see Tables.issuesFull / Yaml.withRelationships);
      // the engine itself derives nothing, mirroring the reference's sync
      // loop, which serializes the relationships the fetch already returned
      val wr = Yaml.writeIssuesWithBlobsManifest(
        toSync.repartition(spark.sparkContext.defaultParallelism, col("key")), repoDir)
      val attempted = wr.written + wr.failed

      // defensive: the pre-fork empty guard makes this unreachable for an
      // empty selection; it can only trip if the writer produced no entries
      // for a non-empty batch. The forked edge job may have rewritten the
      // table by now, so its failure must SURFACE (the catch below quiesces
      // and rethrows) — not be swallowed by quiesce's awaitQuiet.
      if (attempted == 0) {
        wr.delete()
        scala.concurrent.Await.result(edgesDone,
          scala.concurrent.duration.Duration.Inf)
        quiesce()
        progress.step("done", 100)
        val elapsedMs = (System.nanoTime() - t0) / 1000000
        return BatchResult(opId, 0L, 0L, 0L, 0L, elapsedMs, 0.0)
      }

      val written = attempted - wr.failed
      val total = if (opts.incremental) scoped.count() else attempted
      val skipped = total - attempted

      // one git commit per batch (S9), retried with backoff (C7). The blobs
      // are already in the object store — the commit merges the manifest's
      // (path, sha) pairs, read from disk and held on the driver for the
      // merge, into HEAD's trees; a retry re-reads the identical lines. The
      // index then reads HEAD once, so `git status` stays clean. Runs while
      // the edge/state cluster jobs drain.
      progress.step("committing", 80)
      try {
        withRetry(opts.maxRetries, opts.backoffBaseMs, opts.backoffCapMs) { () =>
          GitRepo.commitTreeDirect(repoDir,
            s"feat(sync): sync $written issues ($opId)", wr.entries)
          GitRepo.resetIndexToHead(repoDir)
        }
      } finally wr.delete()

      // rare path: some file writes failed — restage the state without the
      // failed keys (the optimistic stage must finish first; stage()
      // overwrites the same tmp dir)
      if (wr.failedKeys.nonEmpty) {
        scala.concurrent.Await.result(stateStaged,
          scala.concurrent.duration.Duration.Inf)
        val synced = toSync.filter(!col("key").isin(wr.failedKeys: _*))
        stateStaged = scala.concurrent.Future {
          StateStore.stage(
            StateStore.merge(state, StateStore.fromIssues(synced, now)), statePath)
        }
      }

      // barriers, then the atomic state swap (C2/S13): edges and the staged
      // state write must both be durable before issues are marked synced, or
      // a failed write would never be retried.
      progress.step("state", 90)
      import scala.concurrent.Await
      import scala.concurrent.duration.Duration
      Await.result(edgesDone, Duration.Inf)
      Await.result(stateStaged, Duration.Inf)
      StateStore.commitStaged(spark, statePath)

      progress.step("done", 100)
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      BatchResult(opId, total, written, wr.failed, skipped, elapsedMs,
        if (elapsedMs > 0) written * 1000.0 / elapsedMs else 0.0)
      } catch { case e: Throwable => quiesce(); throw e }
    } finally if (useCache) toSync.unpersist()
  }

  /** Orphaned paths removed per repair commit — caps driver memory at one
    * batch of paths during a mass-drift repair.
    */
  private val RepairIndexBatch = 10000

  /** C10: state recovery — reconcile state vs files and repair
    * (reference: pkg/state/manager.go:553-591 RecoverState). Returns the
    * issue report; `repair` removes orphaned files — from the worktree and,
    * one commit per [[RepairIndexBatch]] paths, from HEAD — and drops state
    * rows whose files are missing (a later sync re-writes them).
    *
    * The checksum pass is the reference's ValidateState content check: every
    * file on disk is parsed back (distributed — one scan of the YAML tree)
    * and its record checksum recomputed; a mismatch against the checksum
    * recorded at sync time means the file was modified outside of sync
    * (reference: pkg/state/manager.go:497-500). Mismatches are report-only,
    * like the reference's warnings — repair touches only structural issues.
    */
  def recover(spark: SparkSession, repoDir: String, statePath: String,
      repair: Boolean = false): DataFrame = {
    // base + pending deltas, or every issue streamed since the last
    // compaction would read as an orphaned file
    val state = StateStore.loadResolved(spark, statePath)
    val filesOnDisk = Yaml.fileRecordChecksums(spark, repoDir)
    // Materialize the findings as a parquet SNAPSHOT of the tree at scan
    // time (the reference returns in-memory result lists the same way,
    // pkg/state/manager.go:473-486). Returning the lazy plan instead would
    // (a) re-scan a post-repair tree on later use and (b) collide with
    // Spark's canonicalized-plan cache across recover calls, serving stale
    // findings. The snapshot is written DISTRIBUTED, never collected:
    // findings are usually the exceptional set, but a restored backup or
    // mass corruption makes them corpus-proportional, and a driver collect
    // there is fatal at scale.
    val outDir = graft.Caches.scratchDir("recover").toString + "/findings"
    StateStore.validate(state, filesOnDisk).write.parquet(outDir)
    val findings = spark.read.schema(StateStore.validateSchema).parquet(outDir)
    if (repair) {
      // orphaned files: stream the subset — one partition's rows in driver
      // memory at a time — committing each batch's removal from HEAD's
      // trees BEFORE deleting its files: a crash in between leaves
      // untracked orphans the next repair finds again, never a deleted
      // file that HEAD still tracks
      val haveGit = new java.io.File(repoDir, ".git").exists()
      val pending = scala.collection.mutable.ArrayBuffer.empty[String]
      var removedAny = false
      def flush(): Unit = if (pending.nonEmpty) {
        if (haveGit)
          GitRepo.commitTreeDirect(repoDir,
            s"fix(recover): remove ${pending.size} orphaned files",
            Iterator.empty, pending.iterator)
        pending.foreach(p =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(repoDir, p)))
        removedAny = true
        pending.clear()
      }
      val it = findings.filter(col("issue") === "orphaned_file")
        .select("file_path").toLocalIterator()
      while (it.hasNext) {
        pending += it.next().getString(0)
        if (pending.size >= RepairIndexBatch) flush()
      }
      flush()
      if (haveGit && removedAny) GitRepo.resetIndexToHead(repoDir)
      // missing-file keys: a distributed anti-join against the snapshot —
      // the mass-drift case never passes through the driver at all. The
      // rewrite replaces the base only, so fold the deltas in first: a
      // delta left behind would bring a dropped key back
      StateStore.compactDeltas(spark, statePath)
      StateStore.save(
        StateStore.load(spark, statePath).join(
          findings.filter(col("issue") === "missing_file").select("key"),
          Seq("key"), "left_anti"), statePath)
    }
    findings
  }
}
