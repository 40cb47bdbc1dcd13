package graft.tools

import org.apache.spark.sql.functions._

import graft.state.StateStore

/** State-ledger scale rehearsal: exercise the per-micro-batch state path
  * at ledger scale, which local soaks (~100 MB bases) never reach.
  * Generates a synthetic ledger of `rows` state rows (realistic column
  * widths: 64-hex checksum, full file_path) in the range-block layout every
  * ledger write uses, appends delta logs, and times a touched-block
  * [[StateStore.loadResolvedPruned]] read against the full
  * [[StateStore.loadResolved]], then the partition-incremental
  * compaction of those deltas.
  *
  * Usage: runMain graft.tools.StateScale <workDir> [rows] [out.json]
  */
object StateScale {

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val rows = if (args.length > 1) args(1).toLong else 14000000L
    val outPath = if (args.length > 2) args(2) else s"$work/state_scale.json"
    val spark = graft.Session.local(graft.Session.cpus(32))
    val statePath = s"$work/state"

    // synthetic ledger: 8 projects, sequence-assigned suffixes, checksum is
    // a real sha2 (incompressible, like production), file_path follows the
    // sharded layout the stream writes
    def stateRows(n: Long, tsBase: String, syncCount: Int) =
      spark.range(n).select(
        concat(lit("P"), pmod(col("id"), lit(8)) + 1, lit("-"), col("id")).as("key"),
        concat(lit("P"), pmod(col("id"), lit(8)) + 1).as("project_key"),
        lit(java.sql.Timestamp.valueOf(tsBase)).as("last_synced"),
        expr(s"timestampadd(SECOND, cast(id % 86400 as int), timestamp'$tsBase')")
          .as("last_updated"),
        concat(lit("projects/P"), pmod(col("id"), lit(8)) + 1, lit("/issues/"),
          format_string("%05d", expr("id div 8192")), lit("/P"),
          pmod(col("id"), lit(8)) + 1, lit("-"), col("id"), lit(".yaml")).as("file_path"),
        (col("id") % 4096 + 512).as("file_size"),
        sha2(concat(lit("graft-state-"), col("id")), 256).as("checksum"),
        lit("synced").as("sync_status"),
        lit(syncCount).as("sync_count"))

    println(s"[state-scale] writing $rows-row base at $statePath")
    var t0 = System.nanoTime()
    StateStore.save(stateRows(rows, "2024-01-01 00:00:00", 1), statePath)
    val gen = (System.nanoTime() - t0) / 1e9
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(statePath)).getLength
    println(f"[state-scale] base $baseBytes%d bytes in $gen%.1fs")

    // three pending deltas of 50k touched keys each with strictly newer
    // last_updated — a typical between-compaction backlog (ids 0..49999 are
    // base keys by construction)
    (1 to 3).foreach { d =>
      StateStore.appendDelta(
        stateRows(50000, s"2024-02-0$d 00:00:00", 2), statePath)
    }

    // partition pruning at the same scale: read a 3-block touched set (a
    // realistic per-batch footprint) vs the full base
    val segs = Seq(0L, rows / 131072, rows / 65536).distinct
      .map(b => f"$b%05d")
    t0 = System.nanoTime()
    val prunedRows = StateStore.loadResolvedPruned(spark, statePath, segs).count()
    val tPruned = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    StateStore.loadResolved(spark, statePath).count()
    val tFull = (System.nanoTime() - t0) / 1e9
    println(f"[state-scale] pruned(${segs.size} blocks, $prunedRows rows)=" +
      f"$tPruned%.2fs vs full=$tFull%.1fs")

    // partition-incremental compaction: the 3 pending deltas touch block 0
    // only, so the fold should rewrite ONE of the ~200 block dirs — the
    // whole-table yardstick is the base generation write (gen_sec)
    t0 = System.nanoTime()
    StateStore.compactDeltas(spark, statePath)
    val tCompact = (System.nanoTime() - t0) / 1e9
    println(f"[state-scale] incremental compaction=$tCompact%.2fs " +
      f"(whole-table write yardstick=$gen%.1fs)")

    def f2(d: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, d)
    val json =
      s"""{"rows":$rows,"base_bytes":$baseBytes,"gen_sec":${f2(gen)},""" +
      s""""pruned_blocks":${segs.size},""" +
      s""""pruned_rows":$prunedRows,"pruned_sec":${f2(tPruned)},""" +
      s""""full_resolve_sec":${f2(tFull)},""" +
      s""""compact_incremental_sec":${f2(tCompact)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
  }
}
