package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{GitRepo, Yaml}
import graft.state.StateStore

/** The north-star path as a first-class API: Structured Streaming CDC —
  * a stream of issue updates drives `foreachBatch { merge state + write YAML
  * + git commit }`, checkpointed, with configurable trigger (C6's schedule is
  * `Trigger.ProcessingTime`; the reference's "real-time CDC" is repeated
  * incremental batch sync, SURVEY.md §2.8).
  *
  * Keyed state lives in the state table, never in driver memory — the
  * explicit inversion of the reference's `map[issueKey]IssueState`
  * (reference: pkg/state/manager.go; anti-pattern note SURVEY.md §7.4).
  * Each micro-batch reads that table pruned to the range blocks its keys
  * fall in ([[StateStore.loadResolvedPruned]]): exact, because every
  * per-batch consumer only looks up the batch's keys, and O(batch) I/O.
  */
object CdcStream {

  /** Start the CDC sink over a streaming DataFrame of issue rows (the flat
    * issue schema, at minimum key/project_key/summary/updated).
    *
    * @param clock  logical sync-time source for each batch (injectable for
    *               deterministic tests)
    * @param sharded range-block directory fan-out
    *               (`projects/{proj}/issues/{nnnnn}/` with nnnnn =
    *               issue-number/8192, [[Yaml.shardSeg]]). Default OFF for
    *               reference layout parity. The OTHER production lever on
    *               git's tree floor: a commit into a flat directory of N
    *               files serializes an O(N) tree no matter how the batches
    *               are fed; range blocks make an append-mostly stream touch
    *               only the TAIL block per project, so per-commit tree work
    *               is O(batch), constant as the corpus grows. Choose at repo
    *               creation — the layouts don't mix within one corpus
    *               (reads handle both, the state ledger's paths follow the
    *               flag).
    * @param partitionedState must be `true`: the former opt-in into the
    *               range-block ledger, now its only layout, kept so callers
    *               that still pass it by name compile.
    * @param commitEvery git-commit cadence in micro-batches (default 1 =
    *               every batch). Any commit touching a flat directory of N
    *               files must serialize an O(N) tree object — git's floor,
    *               measured as the streaming soak's residual growth — and
    *               cadence is the production lever that amortizes it K×.
    *               Batches' manifests accumulate ON DISK between commits
    *               (`.git/graft-manifest/`), so the trade is bounded: state
    *               table and YAML corpus are always current, and a stop or
    *               crash mid-window loses NOTHING — the next `start()` on the
    *               same repo recovers the leftover manifests
    *               ([[Yaml.recoverManifests]]) and commits them immediately,
    *               so every state-acknowledged issue reaches git history.
    */
  def start(
      updates: DataFrame,
      repoDir: String,
      statePath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      commitToGit: Boolean = true,
      commitEvery: Int = 1,
      sharded: Boolean = false,
      partitionedState: Boolean = true,
      clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis())): StreamingQuery = {
    val spark = updates.sparkSession
    require(commitEvery >= 1, s"commitEvery must be >= 1, got $commitEvery")
    require(partitionedState, "the state ledger has one layout; partitionedState must be true")
    if (commitToGit) {
      GitRepo.init(repoDir)
      // durability: a prior run stopped (or crashed) between a batch's
      // YAML/blob write and its cadence-boundary commit leaves manifests
      // under .git/graft-manifest/ whose keys the state table already knows —
      // changedIssues will never re-emit them, so commit them NOW, not at a
      // future boundary that may never come (a restart with no new data runs
      // zero batches). Replays of a checkpoint-uncommitted batch rewrite
      // byte-identical YAML → identical blob shas → the tree merge stays
      // idempotent.
      val leftover = Yaml.recoverManifests(repoDir)
      if (leftover.nonEmpty) {
        val n = leftover.map(_.written).sum
        if (n > 0)
          GitRepo.commitTreeDirect(repoDir,
            s"feat(sync): recover $n issues from interrupted stream",
            leftover.iterator.flatMap(_.entries))
        leftover.foreach(_.delete())
      }
    }
    // manifests pending a cadence commit (driver-side; their content lives
    // on disk, this only holds the handles)
    val pendingCommit = scala.collection.mutable.ArrayBuffer.empty[Yaml.BlobManifest]
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val syncedAt = clock()
        // a key updated twice within one micro-batch is the normal CDC
        // case: collapse to the latest row per key first, otherwise both
        // versions pass the state join (state knows neither) and the YAML
        // write becomes nondeterministic last-writer-wins between them
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key")).orderBy(col("updated").desc)
        // `latest` feeds both the touched-block collect and the state join —
        // persist so the dedup window runs once
        val latest = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .persist()
        // resolved view across base + pending deltas: continuous ingest
        // APPENDS per-batch deltas instead of rewriting the whole table —
        // the sfg1.0 soak measured the rewrite-per-batch shape growing
        // 8s → 55s per micro-batch (quadratic in corpus); the delta log
        // keeps the state commit O(batch) with an amortized compaction.
        // Pruned to the batch's touched blocks — exact for this loop's
        // consumers (they only look up batch keys) and O(batch) base I/O.
        // Persisted for the batch: the candidate filter, the touched-key
        // semi-join and the merge all read it, and the resolve window over
        // base+deltas must run once, not per consumer.
        val state = StateStore.loadResolvedPruned(spark, statePath,
          StateStore.touchedSegs(latest.select("key"))).persist()
        try {
          // upsert-on-newer keeps replayed micro-batches idempotent (C2) —
          // exactly-once effect on the state table under at-least-once
          // delivery
          val fresh = StateStore.changedIssues(latest, state).drop("change_type")
          // files + loose git blobs written DISTRIBUTED, entries spilled to
          // per-partition manifests: the commit below is index metadata fed
          // from the manifest — never `git add -A`, whose worktree scan grows
          // with the accumulated corpus (the soak's other quadratic term:
          // stat+rehash of every file ever synced, per batch)
          val wr =
            if (commitToGit)
              Left(Yaml.writeIssuesWithBlobsManifest(fresh, repoDir, sharded))
            else Right(Yaml.writeIssuesCounted(fresh, repoDir, sharded))
          val (written, failedKeys) = wr match {
            case Left(m) => (m.written, m.failedKeys)
            case Right(r) => (r.written, r.failedKeys)
          }
          // a key whose file write failed must stay OUT of state (same rule
          // as SyncEngine): it remains an incremental candidate and the next
          // batch retries it, instead of being silently marked synced
          val synced =
            if (failedKeys.isEmpty) fresh
            else fresh.filter(!col("key").isin(failedKeys: _*))
          // delta = the merge result restricted to this batch's fresh keys:
          // merge() computes the correct sync_count against the CURRENT rows
          // of exactly those keys, and only those rows are committed. One row
          // per synced key, so the writer's count stands in for an isEmpty
          // job; a key a speculative retry counted written AND failed can
          // leave it empty, which the resolve reads as no rows
          val freshState = StateStore.fromIssues(synced, syncedAt, sharded)
          val touched = state.join(freshState.select("key"), Seq("key"), "left_semi")
          val delta = StateStore.merge(touched, freshState)
          if (written > 0) {
            StateStore.appendDelta(delta, statePath)
            if (StateStore.deltaCount(spark, statePath) >= StateStore.CompactEvery)
              StateStore.compactDeltas(spark, statePath)
          }
          wr match {
            case Left(m) =>
              // index-free: merge the manifest's (path, sha) adds straight
              // into HEAD's trees — the git index's O(existing) insertion
              // made per-batch commits quadratic over a growing corpus.
              // Under a cadence > 1, manifests accumulate and one commit
              // carries the last K batches' adds (latest-wins on path
              // collisions, which the iterator order preserves: older
              // manifests feed first, commitTreeDirect's overlay map keeps
              // the last entry per path).
              if (m.written > 0) pendingCommit += m else m.delete()
              if (pendingCommit.nonEmpty &&
                  (pendingCommit.size >= commitEvery || (id + 1) % commitEvery == 0)) {
                val n = pendingCommit.map(_.written).sum
                GitRepo.commitTreeDirect(repoDir,
                  s"feat(sync): stream batch $id ($n issues)",
                  pendingCommit.iterator.flatMap(_.entries))
                pendingCommit.foreach(_.delete())
                pendingCommit.clear()
              }
            case Right(_) => ()
          }
        } finally {
          state.unpersist()
          latest.unpersist()
        }
        ()
      }
      .start()
  }

  /** Event-time windowed rates with a watermark (late data beyond the delay
    * is dropped; C3). The same expression runs in batch mode for the oracle.
    */
  def eventRates(events: DataFrame, watermarkDelay: Option[String] = None): DataFrame = {
    val src = watermarkDelay.fold(events)(d => events.withWatermark("ts", d))
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket_s"),
        col("event_type"), col("n"), col("total_value"))
  }
}
