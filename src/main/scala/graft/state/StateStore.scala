package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The CDC ledger: a per-issue state table with atomic save and
  * upsert-on-newer merge (reference: pkg/state/manager.go:99-182 load/save,
  * :329-371 UpdateIssueState, :386-454 GetChangedIssues/ShouldSyncIssue,
  * :457-470 GetLastSyncTime).
  *
  * The reference keeps a driver-side `map[issueKey]IssueState` serialized to
  * one YAML file — the anti-pattern to avoid at scale (SURVEY.md §7.4). Here
  * state is a parquet table partitioned on disk by the key's range block
  * ([[statePartCol]]; every ledger write lays it out so), which makes a
  * batch's state read prune to the blocks the batch touches. The save is the
  * reference's tmp-file-then-rename commit re-expressed with the Hadoop FS
  * API.
  */
object StateStore {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("project_key", StringType, nullable = false),
    StructField("last_synced", TimestampType, nullable = false),
    StructField("last_updated", TimestampType, nullable = false),
    StructField("file_path", StringType, nullable = true),
    StructField("file_size", LongType, nullable = true),
    StructField("checksum", StringType, nullable = true),
    StructField("sync_status", StringType, nullable = false),
    StructField("sync_count", IntegerType, nullable = false)))

  /** Schema of [[validate]]'s findings rows. */
  val validateSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = true),
    StructField("file_path", StringType, nullable = true),
    StructField("issue", StringType, nullable = false)))

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Load the state table, or an empty one on first run
    * (reference: pkg/state/manager.go:99-136 returns fresh state when the
    * file is absent). The partition column of the range-block layout is
    * dropped, so the layout is invisible to every consumer, exactly like the
    * YAML corpus's sharded layout. A flat base written before every ledger
    * write partitioned still reads; its next save or compaction converts it.
    */
  def load(spark: SparkSession, path: String): DataFrame =
    loadBaseWithSeg(spark, path).drop(SegCol)

  /** [[load]] generalized to ANY table managed by [[commitStaged]]'s tmp+bak
    * commit (the flat keyed indexes of [[replaceKeys]] share the protocol,
    * not the layout): same crash recovery —
    * finish an interrupted commit from its complete tmp, fall back to the
    * backup when the tmp marker proves an interrupted save, empty otherwise.
    * Callers that branch on "does the table exist" must go through this (or
    * [[save]]-side recovery) rather than a raw exists() check, or a crash
    * inside the commit window reads as an absent table and its data is
    * silently discarded.
    */
  def loadTable(spark: SparkSession, path: String, schema: StructType): DataFrame =
    resolveReadDir(spark, path) match {
      case Some(d) => spark.read.schema(schema).parquet(d.toString)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** The directory a [[loadTable]]-style read should scan, after crash-window
    * recovery: save() writes tmp fully, renames dst→bak, then tmp→dst. A
    * crash between the renames leaves dst absent with BOTH tmp and bak
    * present — that marker gates the fallback, so an operator who
    * deliberately deletes the state dir (leaving only the backup) still gets
    * the full resync they asked for, never a silent resume from stale state
    * (the reference makes restore an explicit call,
    * pkg/state/manager.go:239+). A complete tmp (_SUCCESS present) is the
    * newer committed-in-progress state — prefer it over the backup. None =
    * first run, no table.
    */
  private def resolveReadDir(spark: SparkSession, path: String): Option[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an interrupted partition-incremental compaction (compactTouched) must
    // heal BEFORE any read: it can leave a block dir moved out but not yet
    // in — two exists probes in the steady state
    DirSwap.recover(fs, p, new Path(path + "__ctmp"), new Path(path + "__cold"))
    if (fs.exists(p)) Some(p)
    else {
      val bak = new Path(path + "__bak")
      val tmp = new Path(path + "__tmp")
      if (fs.exists(tmp) && fs.exists(new Path(tmp, "_SUCCESS"))) {
        // finish the interrupted commit (mirror save()'s final rename) rather
        // than read from tmp: a DataFrame whose lineage reads <path>__tmp
        // would make the NEXT save()'s overwrite of that same tmp path
        // illegal (read-then-overwrite), wedging every subsequent sync
        log.warn(s"state $path missing; completing interrupted save from $tmp")
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(s"state recovery rename failed: $tmp -> $p")
        Some(p)
      } else if (fs.exists(tmp) && fs.exists(bak)) {
        log.warn(s"state $path missing; falling back to backup $bak")
        Some(bak)
      } else None
    }
  }

  /** Atomic overwrite: write to `<path>__tmp`, then swap — the reference's
    * temp-file-then-rename commit (pkg/state/manager.go:165-179). The old
    * state is kept at `<path>__bak` until the next save (BackupState,
    * pkg/state/manager.go:210-237).
    */
  def save(state: DataFrame, path: String): Unit = {
    stage(state, path)
    commitStaged(state.sparkSession, path)
  }

  /** First half of [[save]]: materialize the new state at `<path>__tmp`.
    * Nothing observable changes until [[commitStaged]] swaps it in, so the
    * (expensive, cluster-side) write can overlap work that must precede the
    * state becoming visible — e.g. the sync's git commit — while the (cheap,
    * metadata-only) commit still happens strictly after those barriers.
    */
  private[graft] def stage(state: DataFrame, path: String): Unit =
    writeBlocks(state, path + "__tmp")

  /** The one ledger write layout: rows partitioned into `__seg=<block>` dirs
    * by [[statePartCol]]. No shuffle: each task of `rows` writes one file
    * per block it holds, so the write adds no stage and is as parallel as
    * its input. A shuffle on the block (one file per block) wrote a large
    * block from one task and cost full-sync throughput: sync stages the
    * state beside the YAML write, and each stage it adds queues behind
    * that write's tasks.
    */
  private def writeBlocks(rows: DataFrame, dir: String): Unit =
    rows.withColumn(SegCol, statePartCol(col("key")))
      .write.mode("overwrite").partitionBy(SegCol).parquet(dir)

  /** Abandon a staged-but-uncommitted state (failure paths): delete the tmp
    * dir so loadTable's interrupted-commit recovery can never promote a state
    * whose sink writes were not confirmed.
    */
  private[graft] def discardStaged(spark: SparkSession, path: String): Unit = {
    val tmp = new Path(path + "__tmp")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tmp)) { fs.delete(tmp, true); () }
  }

  /** Second half of [[save]]: the reference's rename commit — rotate dst to
    * `<path>__bak`, promote the staged tmp.
    */
  private[graft] def commitStaged(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__tmp")
    val bak = new Path(path + "__bak")
    val dst = new Path(path)
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(dst) && !fs.rename(dst, bak))
      throw new java.io.IOException(s"state backup rename failed: $dst -> $bak")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"atomic state rename failed: $tmp -> $dst")
  }

  /** Replace-by-key upsert of a table under [[save]]'s commit: every row
    * whose `key` appears in `batch` goes, `rows` (the batch's new rows)
    * come in, everyone else's rows stay. The dropped keys come from the
    * BATCH, not from `rows`, so a batch key whose new version yields no
    * rows (a document edited down to text too short to index) still loses
    * its old ones.
    *
    * The old table is read through [[loadTable]], never a raw exists(): a
    * save that crashed inside its commit window leaves the complete table
    * at `__tmp`/`__bak`, and a raw check would read "absent" and rebuild
    * the table from this batch alone, silently losing every other key's
    * rows.
    * A keyed index is not a ledger (not keyed by `key`): it is written
    * flat, never in [[stage]]'s block layout.
    */
  def replaceKeys(rows: DataFrame, batch: DataFrame, key: String, path: String): Unit = {
    loadTable(rows.sparkSession, path, rows.schema)
      .join(batch.select(key).distinct(), Seq(key), "left_anti")
      .unionByName(rows)
      .write.mode("overwrite").parquet(path + "__tmp")
    commitStaged(rows.sparkSession, path)
  }

  // ---- range-block base layout (per-batch partition pruning) ---------------
  //
  // The delta log below makes the state COMMIT O(batch); this layout makes
  // the per-micro-batch state READ O(batch) too. Every per-batch consumer
  // (changedIssues, the touched-key semi-join, merge) only looks up the
  // BATCH's keys, and the shard block is a pure function of the key — so a
  // resolved view restricted to the batch's blocks is exact for them, and a
  // base physically partitioned by block turns that restriction into parquet
  // partition pruning: the base read is O(touched blocks) ≈ O(batch) for an
  // append-mostly stream, instead of the full-corpus scan and exchange that
  // was the last O(corpus) term in the streaming path (SCALING_MEASURED.md
  // round 13). Same argument that chose range blocks for git trees:
  // sequence-assigned issue numbers make a CDC batch touch only each
  // project's tail block.

  /** Partition column of the ledger's base layout (never leaves this
    * object — every reader drops or consumes it internally).
    */
  private val SegCol = "__seg"

  private val segSchema: StructType = schema.add(SegCol, StringType, nullable = true)

  /** Issues per state partition. Deliberately COARSER than
    * [[graft.sink.Yaml.ShardBlock]] (8192): state rows are ~150 B of parquet,
    * so 65536 keys/block ≈ 10 MB per partition dir — big enough that the
    * dir count stays manageable at ledger scale (a 12B-key corpus is ~180k
    * dirs, each holding one file per task that wrote it, see [[writeBlocks]])
    * and each pruned read is still a handful of row groups. The git tree floor
    * that forced 8192 for YAML dirs does not exist here.
    */
  val StatePartBlock: Long = 65536L

  /** Partition value of the ledger's base layout: the [[rangeBlockCol]]
    * of [[StatePartBlock]], deterministic from the key alone — which is what
    * makes restriction commute with per-key resolution: every row of a key,
    * base or delta, carries the same block.
    */
  def statePartCol(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    rangeBlockCol(key, StatePartBlock)

  /** Whether `dir` physically holds the range-block layout (`__seg=` child
    * dirs); only a flat base written by an older version does not.
    */
  private def dirPartitioned(spark: SparkSession, dir: Path): Boolean = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(dir) && fs.listStatus(dir).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith(SegCol + "="))
  }

  /** The base table with its partition column materialized — from the dirs
    * for a range-block base (free), derived from the key for a legacy flat
    * one (so callers can filter on [[SegCol]] either way; only the block
    * layout turns that filter into pruned I/O).
    */
  private def loadBaseWithSeg(spark: SparkSession, path: String): DataFrame =
    resolveReadDir(spark, path) match {
      case Some(d) if dirPartitioned(spark, d) =>
        spark.read.schema(segSchema).parquet(d.toString)
      case Some(d) =>
        spark.read.schema(schema).parquet(d.toString)
          .withColumn(SegCol, statePartCol(col("key")))
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], segSchema)
    }

  // ---- delta-log extension (continuous ingest) ------------------------------
  //
  // The rename-commit above rewrites the WHOLE table per save — correct for
  // batch sync (one save per run), quadratic for streaming: the sfg1.0 soak
  // (tools/StreamSoak.scala) measured CDC micro-batches growing 8s → 55s as
  // the accumulated state was re-written every batch. The streaming path
  // instead APPENDS a delta of just the touched keys (atomic dir rename, the
  // same commit primitive) and folds deltas into the base every
  // [[CompactEvery]] commits — LSM shape: per-batch cost is O(batch) plus
  // the amortized compaction share, which on the block layout is itself
  // O(touched blocks) (partition-incremental fold), never the whole table
  // per batch. Readers resolve latest-per-key across base + deltas in one
  // window ([[resolve]]); re-applying an already-compacted delta is a no-op
  // (rows identical), so a crash between base promotion and delta cleanup
  // stays correct.

  /** Fold deltas into the base once this many are pending. */
  val CompactEvery: Int = 8

  private val deltaRe = "__delta_(\\d+)$".r.unanchored

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every `__delta_<n>` dir of `path`, committed or not, oldest first. */
  private def deltaDirsAll(fs: FileSystem, path: String): Seq[(Int, Path)] = {
    val parent = new Path(path).getParent
    val name = new Path(path).getName
    if (parent == null || !fs.exists(parent)) Nil
    else fs.listStatus(parent).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        st.getPath.getName match {
          case n if n.startsWith(name + "__delta_") =>
            deltaRe.findFirstMatchIn(n).map(m => m.group(1).toInt -> st.getPath)
          case _ => None
        }
      }
      .sortBy(_._1)
  }

  /** Committed delta dirs for `path`, oldest first. */
  private[graft] def deltaDirs(spark: SparkSession, path: String): Seq[(Int, Path)] = {
    val fs = fsOf(spark, path)
    deltaDirsAll(fs, path).filter { case (_, p) => fs.exists(new Path(p, "_SUCCESS")) }
  }

  def deltaCount(spark: SparkSession, path: String): Int =
    deltaDirs(spark, path).size

  /** Every committed delta's rows, unioned; `deltas` must be non-empty. */
  private def readDeltas(spark: SparkSession, deltas: Seq[(Int, Path)]): DataFrame =
    deltas.map(d => spark.read.schema(schema).parquet(d._2.toString))
      .reduce(_ unionByName _)

  /** Latest row per key over `base` ∪ `deltas` — [[merge]]'s winner rule:
    * strictly-newer `last_updated` wins, `sync_count` (monotone per key)
    * breaks same-instant replays.
    */
  private def resolve(base: DataFrame, deltas: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key"))
      .orderBy(col("last_updated").desc, col("sync_count").desc,
        col("last_synced").desc)
    base.unionByName(deltas).withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Latest state per key across the base table and every committed delta,
    * by one window over base ∪ deltas. With no deltas this IS [[load]] —
    * no window at all, the path every batch sync's incremental and no-op
    * cycle takes. A per-micro-batch reader that only looks up a batch's
    * keys uses [[loadResolvedPruned]] instead, which keeps the window
    * O(touched blocks).
    */
  def loadResolved(spark: SparkSession, path: String): DataFrame = {
    val deltas = deltaDirs(spark, path)
    val base = load(spark, path)
    if (deltas.isEmpty) base else resolve(base, readDeltas(spark, deltas))
  }

  /** The distinct state-partition blocks covering `keys` — the touched-block
    * set a pruned per-batch read needs. A driver collect, bounded by the
    * BATCH's distinct blocks (an append-mostly stream touches each project's
    * tail block, so typically a handful), never by the corpus.
    */
  def touchedSegs(keys: DataFrame): Seq[String] =
    keys.select(statePartCol(col(keys.columns.head)).as("__s"))
      .distinct().collect().map(_.getString(0)).toSeq

  /** [[loadResolved]] restricted to the given state-partition blocks — EXACT
    * for any consumer that only looks up keys inside them (the block is a
    * pure function of the key, so restriction commutes with latest-per-key
    * resolution). This is the per-micro-batch state read: the base scan is
    * partition-pruned to the touched blocks — O(batch) I/O — and the
    * resolve window runs over O(touched) rows. On a legacy flat base it is
    * still correct (the filter prunes rows, not I/O).
    */
  def loadResolvedPruned(spark: SparkSession, path: String,
      segs: Seq[String]): DataFrame = {
    if (segs.isEmpty) return empty(spark)
    val base = loadBaseWithSeg(spark, path)
      .filter(col(SegCol).isin(segs: _*)).drop(SegCol)
    val deltas = deltaDirs(spark, path)
    if (deltas.isEmpty) base
    else resolve(base, readDeltas(spark, deltas)
      .filter(statePartCol(col("key")).isin(segs: _*)))
  }

  /** Append one batch's merged state rows (touched keys ONLY) as a new
    * delta: write to `<path>__dtmp`, rename to the next `__delta_<n>` — the
    * same write-then-rename commit as [[save]], without touching the base.
    */
  def appendDelta(rows: DataFrame, path: String): Unit = {
    val spark = rows.sparkSession
    val fs = fsOf(spark, path)
    val tmp = new Path(path + "__dtmp")
    rows.write.mode("overwrite").parquet(tmp.toString)
    // number past every delta dir, committed or not: a compaction that
    // crashed inside its recursive delete leaves `__delta_<n>` without
    // `_SUCCESS`, and a rename onto an existing dir moves the batch INTO
    // it, where no reader looks
    val next = (0 +: deltaDirsAll(fs, path).map(_._1)).max + 1
    val dst = new Path(path + s"__delta_$next")
    if (fs.exists(dst) || !fs.rename(tmp, dst))
      throw new java.io.IOException(s"delta commit rename failed: $tmp -> $dst")
  }

  /** Fold every committed delta into the base, then drop the folded deltas.
    *
    * Absent or legacy flat base (or a touched set too wide to be worth
    * pruning): the whole-table atomic [[save]] protocol, which writes the
    * block layout — crash-safe at every boundary: before the save commit
    * the base is untouched and deltas still apply; after it, re-applying a
    * folded delta resolves to identical rows.
    *
    * Block-layout base: PARTITION-INCREMENTAL — only the delta-touched
    * block dirs are rewritten ([[compactTouched]]), which removes the last
    * O(corpus) term from the steady-state streaming loop: reads were made
    * O(batch) by [[loadResolvedPruned]]; this makes the amortized
    * compaction share O(touched) too. Falls back to the full rewrite when
    * the touched set covers most of the base (a wide backlog makes one
    * sequential rewrite cheaper than thousands of dir swaps).
    */
  def compactDeltas(spark: SparkSession, path: String): Unit = {
    val deltas = deltaDirs(spark, path)
    if (deltas.isEmpty) return
    val fs = fsOf(spark, path)
    val baseDir = resolveReadDir(spark, path)
    val partitioned = baseDir.exists(dirPartitioned(spark, _))
    if (partitioned) {
      val segs = touchedSegs(readDeltas(spark, deltas).select("key"))
      val baseSegs = fs.listStatus(baseDir.get)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(SegCol + "="))
        .length
      if (baseSegs == 0 || segs.size * 4 < baseSegs) {
        compactTouched(spark, path, segs, deltas)
        return
      }
    }
    // materialize the resolved view BEFORE save() renames the base out from
    // under its own lineage (stage writes while base is still readable, but
    // localCheckpoint makes the fold independent of both base and deltas)
    val resolved = loadResolved(spark, path).localCheckpoint(true)
    save(resolved, path)
    deltas.foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Partition-incremental compaction: rewrite ONLY the touched block dirs.
    *
    * Protocol (every boundary crash-safe; every read recovers first, in
    * [[resolveReadDir]]):
    *   1. write resolved rows for the touched blocks to `<path>__ctmp/`
    *      (spark parquet job; `_SUCCESS` marks it complete) — the base and
    *      deltas are untouched, a crash discards the tmp;
    *   2. swap each touched block `__seg=X` in from `__ctmp` through
    *      `<path>__cold` ([[DirSwap.swap]]). A crash mid-sequence leaves
    *      some blocks swapped and some old — BOTH read correctly because the
    *      deltas are still present and re-applying a delta onto its own fold
    *      is the identity (latest-per-key picks identical values);
    *   3. delete the folded deltas, then the `__cold`/`__ctmp` scratch.
    */
  private[graft] def compactTouched(spark: SparkSession, path: String,
      segs: Seq[String], deltas: Seq[(Int, Path)],
      crash: Option[DirSwap.Crash] = None): Unit = {
    val fs = fsOf(spark, path)
    val ctmp = new Path(path + "__ctmp")
    // 1. materialized fold of just the touched blocks
    writeBlocks(loadResolvedPruned(spark, path, segs), ctmp.toString)
    // 2. per-block swap; 3. deltas only AFTER every swap landed
    val newSegDirs = fs.listStatus(ctmp)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(SegCol + "="))
      .map(_.getPath.getName).sorted.toSeq
    DirSwap.swap(fs, new Path(path), ctmp, new Path(path + "__cold"), newSegDirs,
      crash)(deltas.foreach { case (_, p) => fs.delete(p, true) })
  }

  /** Explicit restore-from-backup (reference: pkg/state/manager.go:239-267
    * RestoreState) — promotes `<path>__bak` to the primary. Deliberate, never
    * automatic: load() only falls back when an interrupted save left its tmp
    * marker behind. Returns false when no backup exists.
    */
  def restore(spark: SparkSession, path: String): Boolean = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(path + "__bak")
    val dst = new Path(path)
    if (!fs.exists(bak)) false
    else {
      if (fs.exists(dst) && !fs.delete(dst, true))
        throw new java.io.IOException(s"could not clear $dst for restore")
      if (!fs.rename(bak, dst))
        throw new java.io.IOException(s"restore rename failed: $bak -> $dst")
      log.warn(s"state restored from backup: $path")
      true
    }
  }

  /** Columns covered by the record checksum: every YAML-persisted scalar, in
    * `Yaml.columns` order. The reference checksums the whole file
    * (pkg/state/manager.go:649-662); hashing the persisted record fields is
    * the form that can be recomputed BOTH from the source row at sync time
    * (no file read-back) and from a parsed file at recovery time
    * (byte-format-independent), which is what lets
    * [[graft.engine.SyncEngine.recover]] detect out-of-band content edits.
    */
  val checksumColumns: Seq[String] = graft.sink.Yaml.columns

  /** SHA-256 over the `|`-joined, null-coalesced checksum fields (timestamps
    * via their Spark string cast). Oracle twin: the `sha256(...)` expression
    * in the CDC queries' state CTE — the two must change in lockstep.
    */
  def recordChecksum(field: String => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sha2(concat_ws("|",
      checksumColumns.map(c => coalesce(field(c).cast("string"), lit(""))): _*), 256)

  /** Spark's `cast(timestamp as string)` rendering for the JVM twin:
    * seconds-precision wall time, fractional part only when non-zero,
    * trailing zeros trimmed.
    */
  def tsCastString(t: java.time.LocalDateTime): String = {
    val base = t.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss"))
    if (t.getNano == 0) base
    else {
      val frac = f"${t.getNano / 1000}%06d".reverse.dropWhile(_ == '0').reverse
      s"$base.$frac"
    }
  }

  /** JVM twin of [[recordChecksum]] for executor-side recomputation from a
    * parsed YAML file: `fields` in [[checksumColumns]] order, null → "",
    * timestamps pre-rendered with [[tsCastString]].
    */
  def recordChecksumJvm(fields: Array[String]): String = {
    val joined = fields.iterator.map(f => if (f == null) "" else f).mkString("|")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(joined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  /** Column twin of [[graft.sink.Yaml.shardSeg]] — the sharded layout's
    * directory segment derived in-plan by [[graft.sink.Yaml.issuePath]], so
    * the writers and the ledger name the same file: the [[rangeBlockCol]]
    * of `Yaml.ShardBlock`.
    */
  def shardSegCol(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    rangeBlockCol(key, graft.sink.Yaml.ShardBlock)

  /** Zero-padded `issue-number div block` range block for numeric-suffix
    * keys, 2-hex md5 fallback otherwise — the one expression behind both
    * the state partitions and the YAML shard directories.
    */
  private def rangeBlockCol(key: org.apache.spark.sql.Column,
      block: Long): org.apache.spark.sql.Column = {
    val suffix = element_at(split(key, "-"), -1)
    // integer `div`, never `/`: Divide is double division, and doubles lose
    // integer precision above 2^53 — an 18-digit suffix near a block
    // boundary would shard differently here than in the Scala twin
    // [[graft.sink.Yaml.shardSeg]]'s exact `suffix.toLong / ShardBlock`
    when(suffix.rlike("^[0-9]{1,18}$"),
      format_string("%05d", call_function("div", suffix.cast("long"), lit(block))))
      .otherwise(substring(md5(key), 1, 2))
  }

  /** Build state rows from a batch of synced issues. `syncedAt` is the run's
    * logical sync time; checksum is SHA-256 of the persisted record content
    * ([[recordChecksum]]; reference: pkg/state/manager.go:649-662). Partial
    * CDC schemas are tolerated — absent fields checksum as empty, matching
    * what the YAML writer persists for them.
    */
  def fromIssues(batch: DataFrame, syncedAt: java.sql.Timestamp,
      sharded: Boolean = false): DataFrame = {
    val complete = checksumColumns.foldLeft(batch) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(
        if (c == "created" || c == "updated") "timestamp" else "string"))
    }
    complete.select(
      col("key"),
      col("project_key"),
      lit(syncedAt).as("last_synced"),
      col("updated").as("last_updated"),
      graft.sink.Yaml.issuePath(col("project_key"), col("key"), sharded)
        .as("file_path"),
      lit(null).cast(LongType).as("file_size"),
      recordChecksum(complete.apply).as("checksum"),
      lit("synced").as("sync_status"),
      lit(1).as("sync_count"))
  }

  /** Upsert-on-newer merge (C2): one batch of freshly-synced issue state into
    * the existing table. Keyed full-outer join on `key`; the batch side wins
    * only when `last_updated` is strictly newer (idempotent re-runs are
    * no-ops and do not bump sync_count), matching ShouldSyncIssue
    * (reference: pkg/state/manager.go:445-454).
    */
  def merge(state: DataFrame, batch: DataFrame): DataFrame = {
    val s = state.select(schema.fieldNames.map(f => col(f).as(s"s_$f")).toSeq: _*)
    // defense in depth: a batch carrying two versions of one key would emit
    // two state rows from the full-outer join (fan-out compounds on every
    // later merge) — keep only the newest per key. The window shuffles on the
    // same key the join hashes on, so the exchange is reused, not added.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("last_updated").desc, col("last_synced").desc)
    val b = batch
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      .select(schema.fieldNames.map(f => col(f).as(s"b_$f")).toSeq: _*)
    val takeBatch = col("s_key").isNull ||
      (col("b_key").isNotNull && col("b_last_updated") > col("s_last_updated"))
    s.join(b, col("s_key") === col("b_key"), "full_outer")
      .select(
        coalesce(col("b_key"), col("s_key")).as("key"),
        when(takeBatch, col("b_project_key")).otherwise(col("s_project_key")).as("project_key"),
        when(takeBatch, col("b_last_synced")).otherwise(col("s_last_synced")).as("last_synced"),
        when(takeBatch, col("b_last_updated")).otherwise(col("s_last_updated")).as("last_updated"),
        when(takeBatch, col("b_file_path")).otherwise(col("s_file_path")).as("file_path"),
        when(takeBatch, col("b_file_size")).otherwise(col("s_file_size")).as("file_size"),
        when(takeBatch, col("b_checksum")).otherwise(col("s_checksum")).as("checksum"),
        when(takeBatch, col("b_sync_status")).otherwise(col("s_sync_status")).as("sync_status"),
        when(col("s_key").isNull, lit(1))
          .when(takeBatch, col("s_sync_count") + 1)
          .otherwise(col("s_sync_count")).as("sync_count"))
  }

  /** The incremental candidate filter (P3/C1): keep issues that are new
    * (absent from state) or modified (updated strictly after last_synced);
    * `force` bypasses the filter (reference:
    * internal/sync/incremental.go:298-363, pkg/state/manager.go:386-442).
    * Callers scope projects on `issues` themselves.
    */
  def changedIssues(
      issues: DataFrame,
      state: DataFrame,
      force: Boolean = false): DataFrame =
    if (force) issues.withColumn("change_type", lit("forced"))
    else {
      val st = state.select(col("key").as("s_key"), col("last_synced"))
      val isNew = col("s_key").isNull
      issues.join(st, col("key") === col("s_key"), "left")
        .filter(isNew || col("updated") > col("last_synced"))
        .withColumn("change_type", when(isNew, "new").otherwise("modified"))
        .drop("s_key", "last_synced")
    }

  /** Aggregate sync statistics (A3, reference: pkg/state/manager.go:599-633). */
  def stats(state: DataFrame): DataFrame =
    state.agg(
      count(lit(1)).as("total_issues"),
      sum(when(col("sync_status") === "synced", 1).otherwise(0)).as("synced"),
      sum(when(col("sync_status") =!= "synced", 1).otherwise(0)).as("failed"),
      max(col("last_synced")).as("last_sync_time"),
      round(avg(col("sync_count")), 4).as("avg_sync_count"),
      array_join(sort_array(collect_set(col("project_key"))), ",").as("projects"))

  /** State-vs-files reconciliation (J6): anti-joins both ways plus checksum
    * drift (reference: pkg/state/manager.go:473-550). `files` must carry
    * (file_path, checksum).
    */
  def validate(state: DataFrame, files: DataFrame): DataFrame = {
    val f = files.select(col("file_path").as("f_path"), col("checksum").as("f_checksum"))
    val missing = state.join(f, col("file_path") === col("f_path"), "left_anti")
      .select(col("key"), col("file_path"), lit("missing_file").as("issue"))
    val orphaned = f.join(state, col("f_path") === col("file_path"), "left_anti")
      .select(lit(null).cast(StringType).as("key"), col("f_path").as("file_path"),
        lit("orphaned_file").as("issue"))
    val drift = state.join(f, col("file_path") === col("f_path"))
      .filter(col("checksum") =!= col("f_checksum"))
      .select(col("key"), col("file_path"), lit("checksum_mismatch").as("issue"))
    missing.unionByName(orphaned).unionByName(drift)
  }
}
