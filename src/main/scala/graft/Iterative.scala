package graft

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative operators (the min-label propagation
  * kernel `Graph.minLabels` behind components, SCC and the near-dup
  * resolves; PageRank, k-hop, LPA): every round must restart from a materialized
  * plan, or the plan deepens by one join per round and each depth compiles
  * its own whole-stage-codegen class (measured seconds of pure janino time
  * on tiny graphs — see SCALING.md).
  *
  * The mechanism is configurable because the two options fail differently:
  *   - `localCheckpoint` (the default) stores blocks on executor local
  *     storage — cheapest, but on a real multi-executor cluster a lost
  *     executor makes the checkpointed rounds unrecoverable (Spark rethrows
  *     a missing-block error instead of recomputing).
  *   - a RELIABLE checkpoint (HDFS/object store) survives executor loss at
  *     the cost of a write per round. Set `spark.graft.checkpointDir` on the
  *     session and every iterative operator here switches to it — the knob
  *     a cluster deployment flips, no code change.
  *
  * Both variants ask for `eager = false`, but that does not make building
  * free. With AQE on (the default), `localCheckpoint(eager = false)` on a
  * grouped frame was measured to run 1 Spark job at build time (0 with AQE
  * off), so building a query that truncates — and with it plan audits and
  * `.explain` — can execute shuffle work before any action. The jobs column
  * of `graft.tools.Measure` shows how many jobs each query's build starts.
  */
object Iterative {

  /** Session conf key holding the reliable checkpoint directory. */
  val CheckpointDirKey = "spark.graft.checkpointDir"

  /** Truncate `df`'s lineage per the session's checkpoint configuration. */
  def truncate(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption(CheckpointDirKey) match {
      case Some(dir) if dir.nonEmpty =>
        // set once per context (setCheckpointDir mints a fresh subdir per
        // call); changing the conf mid-session keeps the first directory
        if (s.sparkContext.getCheckpointDir.isEmpty)
          s.sparkContext.setCheckpointDir(dir)
        df.checkpoint(eager = false)
      case _ => df.localCheckpoint(eager = false)
    }
  }
}
