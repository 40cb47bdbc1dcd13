package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit of a staged rewrite of a partitioned table: replace some
  * child dirs of the table with complete staged copies, crash-safe at every
  * step. Shared by the state ledger's touched blocks
  * ([[StateStore.compactTouched]]) and every edge-table writer
  * ([[graft.sources.Ingest]]: an upsert's touched projects, a full rewrite's
  * or compaction's every project).
  *
  * Protocol, once `stage` is a complete Spark write (`_SUCCESS` marks it):
  *   1. give every name the rewrite emptied an empty staged dir (a
  *      tombstone), so that the stage names every dir the swap replaces;
  *   2. create `cold`; per name: rename `table/name` → `cold/name` (if
  *      present), then `stage/name` → `table/name`, or delete it if it is a
  *      tombstone. A crash mid-sequence leaves some names swapped and some
  *      old; the one unsafe window is a name moved out but not yet in;
  *   3. the caller's `beforeCleanup` step;
  *   4. delete `cold`, then `stage`.
  * [[recover]] turns every one of those crash states into the complete new
  * table.
  */
object DirSwap {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Test-only crash injection: `AfterOut(k)` dies after the k-th name's
    * rename-out, `AfterSwap(k)` after its rename-in, `BeforeCleanup` after
    * `beforeCleanup` ran but before the scratch dirs are deleted.
    */
  private[graft] sealed trait Crash
  private[graft] final case class AfterOut(k: Int) extends Crash
  private[graft] final case class AfterSwap(k: Int) extends Crash
  private[graft] case object BeforeCleanup extends Crash
  private[graft] final class InjectedCrash extends RuntimeException("injected")

  def swap(fs: FileSystem, table: Path, stage: Path, cold: Path,
      names: Seq[String], crash: Option[Crash] = None)(
      beforeCleanup: => Unit = ()): Unit = {
    names.foreach(n => fs.mkdirs(new Path(stage, n)))
    fs.mkdirs(cold)
    names.zipWithIndex.foreach { case (name, i) =>
      replace(fs, table, stage, cold, name) {
        if (crash.contains(AfterOut(i))) throw new InjectedCrash
      }
      if (crash.contains(AfterSwap(i))) throw new InjectedCrash
    }
    beforeCleanup
    if (crash.contains(BeforeCleanup)) throw new InjectedCrash
    // cold before stage: a leftover cold dir tells recovery a swap began
    fs.delete(cold, true)
    fs.delete(stage, true)
    ()
  }

  /** Park `table/name` (if present) in `cold`, then move `stage/name` in —
    * or, for a tombstone, delete it. Rerunnable after a crash between the
    * two steps: a live dir next to a staged one is always the old copy.
    */
  private def replace(fs: FileSystem, table: Path, stage: Path, cold: Path,
      name: String)(afterOut: => Unit): Unit = {
    val live = new Path(table, name)
    val staged = new Path(stage, name)
    if (fs.exists(live) && !fs.rename(live, new Path(cold, name)))
      throw new java.io.IOException(s"swap rename-out failed: $live")
    afterOut
    if (fs.listStatus(staged).isEmpty) fs.delete(staged, true)
    else if (!fs.rename(staged, live))
      throw new java.io.IOException(s"swap rename-in failed: $staged")
  }

  /** Finish (or undo) an interrupted [[swap]]; every writer of a swapped
    * table calls this first. No `cold` means no rename ran: the stage is
    * dropped. With `cold` and a complete stage, the swap rolls forward:
    * every name still staged replaces its live copy, tombstones included.
    * Without a complete stage (a state the protocol never leaves), names
    * moved out roll back from `cold`. Two exists probes in the steady
    * state.
    */
  def recover(fs: FileSystem, table: Path, stage: Path, cold: Path): Unit = {
    val hasCold = fs.exists(cold)
    val hasStage = fs.exists(stage)
    if (!hasCold && !hasStage) return
    log.warn(s"$table: recovering an interrupted swap")
    if (hasCold) {
      // a table committed by renaming it out whole and the stage in is
      // itself absent in that crash window; its dirs roll into a new root
      fs.mkdirs(table)
      if (hasStage && fs.exists(new Path(stage, "_SUCCESS")))
        fs.listStatus(stage).filter(_.isDirectory).foreach { st =>
          replace(fs, table, stage, cold, st.getPath.getName)(())
        }
      else
        fs.listStatus(cold).filter(_.isDirectory).foreach { st =>
          val live = new Path(table, st.getPath.getName)
          if (!fs.exists(live) && !fs.rename(st.getPath, live))
            throw new java.io.IOException(s"swap rollback rename failed: ${st.getPath}")
        }
      fs.delete(cold, true)
    }
    if (hasStage) fs.delete(stage, true)
    ()
  }
}
