package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.state.{DirSwap, StateStore}

class StateSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def batchDf(rows: Seq[(String, String, String, String)]) = {
    import spark.implicits._
    rows.toDF("key", "project_key", "summary", "u")
      .withColumn("updated", col("u").cast("timestamp")).drop("u")
  }

  test("save is atomic: tmp+rename with backup, load round-trips") {
    val dir = Files.createTempDirectory("graft-state").toString
    val path = s"$dir/state"
    val s1 = StateStore.fromIssues(
      batchDf(Seq(("P1-1", "P1", "a", "2024-01-01 00:00:00"))), ts("2024-01-02 00:00:00"))
    StateStore.save(s1, path)
    assert(StateStore.load(spark, path).count() == 1)
    val s2 = StateStore.fromIssues(
      batchDf(Seq(("P1-2", "P1", "b", "2024-01-03 00:00:00"))), ts("2024-01-04 00:00:00"))
    StateStore.save(StateStore.merge(StateStore.load(spark, path), s2), path)
    val loaded = StateStore.load(spark, path)
    assert(loaded.count() == 2)
    assert(new java.io.File(path + "__bak").exists()) // previous state retained
    // an emptied ledger (a repair that drops every key) has no block dir
    // at all and still reads as an empty table
    StateStore.save(StateStore.empty(spark), path)
    assert(StateStore.load(spark, path).count() == 0)
    assert(StateStore.loadResolvedPruned(spark, path, Seq("00000")).count() == 0)
  }

  test("merge: newer wins, idempotent re-sync keeps state, new keys insert") {
    val state = StateStore.fromIssues(
      batchDf(Seq(
        ("P1-1", "P1", "one", "2024-01-01 00:00:00"),
        ("P1-2", "P1", "two", "2024-01-01 00:00:00"))), ts("2024-01-02 00:00:00"))
    val batch = StateStore.fromIssues(
      batchDf(Seq(
        ("P1-1", "P1", "one-edited", "2024-02-01 00:00:00"), // newer → wins
        ("P1-2", "P1", "two", "2024-01-01 00:00:00"),        // same → idempotent
        ("P1-3", "P1", "three", "2024-02-01 00:00:00"))),    // new → insert
      ts("2024-02-02 00:00:00"))
    val m = StateStore.merge(state, batch).cache()
    assert(m.count() == 3)
    val byKey = m.collect().map(r => r.getAs[String]("key") -> r.getAs[Int]("sync_count")).toMap
    assert(byKey("P1-1") == 2) // bumped
    assert(byKey("P1-2") == 1) // unchanged
    assert(byKey("P1-3") == 1) // fresh
    val p12 = m.filter(col("key") === "P1-2").head
    assert(p12.getAs[Timestamp]("last_synced") == ts("2024-01-02 00:00:00")) // state kept
    val p11 = m.filter(col("key") === "P1-1").head
    assert(p11.getAs[Timestamp]("last_synced") == ts("2024-02-02 00:00:00")) // batch took over
  }

  test("merge collapses duplicate batch keys to the newest version") {
    val state = StateStore.fromIssues(
      batchDf(Seq(("P1-1", "P1", "one", "2024-01-01 00:00:00"))), ts("2024-01-02 00:00:00"))
    // two versions of P1-2 in one batch — the normal CDC case; the older must
    // not survive as a second state row
    val batch = StateStore.fromIssues(
      batchDf(Seq(
        ("P1-2", "P1", "v1", "2024-02-01 00:00:00"),
        ("P1-2", "P1", "v2", "2024-02-05 00:00:00"))), ts("2024-02-06 00:00:00"))
    val m = StateStore.merge(state, batch).cache()
    assert(m.count() == 2)
    val p12 = m.filter(col("key") === "P1-2").collect()
    assert(p12.length == 1)
    assert(p12.head.getAs[Timestamp]("last_updated") == ts("2024-02-05 00:00:00"))
  }

  test("load recovers from a crashed save only when the tmp marker proves it") {
    val dir = Files.createTempDirectory("graft-state-bak").toString
    val path = s"$dir/state"
    val s1 = StateStore.fromIssues(
      batchDf(Seq(("P1-1", "P1", "a", "2024-01-01 00:00:00"))), ts("2024-01-02 00:00:00"))
    StateStore.save(s1, path)
    StateStore.save(StateStore.load(spark, path), path) // creates __bak
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash between the two renames of save(): dst→bak done, tmp→dst not —
    // tmp holds the complete newer state; load must FINISH the commit
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__tmp")))
    assert(StateStore.load(spark, path).count() == 1) // recovered from tmp
    assert(fs.exists(new org.apache.hadoop.fs.Path(path))) // commit completed
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__tmp")))
    // and the NEXT save must not wedge: it overwrites the same __tmp path the
    // recovery touched, so recovery must never leave a live read on it
    StateStore.save(StateStore.load(spark, path), path)
    assert(StateStore.load(spark, path).count() == 1)
    // incomplete tmp (no _SUCCESS) + backup present → backup wins, tmp is
    // not promoted
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__tmp")))
    fs.delete(new org.apache.hadoop.fs.Path(path + "__tmp/_SUCCESS"), false)
    assert(StateStore.load(spark, path).count() == 1) // recovered from bak
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path))) // bak not promoted
    // deliberate reset: dst AND tmp gone, only the backup left → full resync,
    // NOT a silent resume from stale state
    fs.delete(new org.apache.hadoop.fs.Path(path + "__tmp"), true)
    assert(fs.exists(new org.apache.hadoop.fs.Path(path + "__bak")))
    assert(StateStore.load(spark, path).count() == 0)
  }

  test("explicit restore promotes the backup over the current state") {
    val dir = Files.createTempDirectory("graft-state-restore").toString
    val path = s"$dir/state"
    val s1 = StateStore.fromIssues(
      batchDf(Seq(("P1-1", "P1", "a", "2024-01-01 00:00:00"))), ts("2024-01-02 00:00:00"))
    StateStore.save(s1, path)
    val s2 = StateStore.merge(StateStore.load(spark, path), StateStore.fromIssues(
      batchDf(Seq(("P1-2", "P1", "b", "2024-02-01 00:00:00"))), ts("2024-02-02 00:00:00")))
    StateStore.save(s2, path) // dst = 2 rows, __bak = the 1-row s1
    assert(StateStore.load(spark, path).count() == 2)
    assert(StateStore.restore(spark, path))
    assert(StateStore.load(spark, path).count() == 1) // rolled back to s1
    // no backup anymore (it was promoted) → restore reports false
    assert(!StateStore.restore(spark, path))
  }

  test("changedIssues: new + modified only; force bypasses") {
    val issues = batchDf(Seq(
      ("P1-1", "P1", "a", "2024-01-05 00:00:00"), // modified (state older)
      ("P1-2", "P1", "b", "2024-01-01 00:00:00"), // unchanged
      ("P2-1", "P2", "c", "2024-01-05 00:00:00"))) // new
    val state = StateStore.fromIssues(
      batchDf(Seq(
        ("P1-1", "P1", "a", "2024-01-01 00:00:00"),
        ("P1-2", "P1", "b", "2024-01-01 00:00:00"))), ts("2024-01-02 00:00:00"))
    val changed = StateStore.changedIssues(issues, state).cache()
    val types = changed.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("change_type")).toMap
    assert(types == Map("P1-1" -> "modified", "P2-1" -> "new"))
    assert(StateStore.changedIssues(issues, state, force = true).count() == 3)
  }

  test("staleness report: lag anchored to corpus max, covers every project") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("cdc_staleness")(spark, TestSpark.sf).cache()
    assert(df.filter(col("lag_days") < 0).count() == 0,
      "no project can be newer than the corpus max")
    assert(df.filter(col("lag_days") === 0).count() >= 1,
      "the project holding the corpus max must show zero lag")
    // stale flag is exactly the 30-day comparison on the reported lag
    assert(df.filter(col("stale") =!= (col("lag_days") > 30)).count() == 0)
    val projects = Tables.issues(spark, TestSpark.sf)
      .select("project_key").distinct().count()
    assert(df.count() == projects)
    df.unpersist()
  }

  test("high-water-mark and stats") {
    val state = StateStore.fromIssues(
      batchDf(Seq(("P1-1", "P1", "a", "2024-01-01 00:00:00"),
        ("P2-9", "P2", "b", "2024-01-03 00:00:00"))), ts("2024-01-04 00:00:00"))
    val st = StateStore.stats(state).head
    // the high-water mark: the latest successful sync instant
    assert(st.getAs[java.sql.Timestamp]("last_sync_time") == ts("2024-01-04 00:00:00"))
    assert(st.getAs[Long]("total_issues") == 2)
    assert(st.getAs[String]("projects") == "P1,P2")
  }

  test("validate: missing files, orphans, checksum drift via anti-joins") {
    val state = StateStore.fromIssues(
      batchDf(Seq(("P1-1", "P1", "a", "2024-01-01 00:00:00"),
        ("P1-2", "P1", "b", "2024-01-01 00:00:00"))), ts("2024-01-02 00:00:00"))
    // files: P1-1 present with drifted checksum; P1-2 missing; one orphan
    val files = spark.createDataFrame(Seq(
      ("projects/P1/issues/P1-1.yaml", "deadbeef"),
      ("projects/P1/issues/ZZZ-1.yaml", "cafe"))).toDF("file_path", "checksum")
    val issues = StateStore.validate(state, files).collect()
      .map(r => (r.getAs[String]("issue"), Option(r.getAs[String]("key")))).toSet
    assert(issues == Set(
      ("missing_file", Some("P1-2")),
      ("orphaned_file", None),
      ("checksum_mismatch", Some("P1-1"))))
  }

  test("streaming CDC: foreachBatch merge over MemoryStream reaches correct state") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-state").toString
    val path = s"$dir/state"
    val mem = MemoryStream[(String, String, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("key", "project_key", "summary", "updated")
    val query = df.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val syncedAt = ts(s"2024-03-0${id + 1} 00:00:00")
        val merged = StateStore.merge(
          StateStore.load(spark, path),
          StateStore.fromIssues(batch, syncedAt))
        StateStore.save(merged, path)
      }
      .start()
    try {
      mem.addData(("P1-1", "P1", "v1", ts("2024-01-01 00:00:00")),
        ("P1-2", "P1", "v1", ts("2024-01-01 00:00:00")))
      query.processAllAvailable()
      mem.addData(("P1-1", "P1", "v2", ts("2024-02-01 00:00:00"))) // late edit
      query.processAllAvailable()
    } finally query.stop()
    val state = StateStore.load(spark, path).cache()
    assert(state.count() == 2)
    val p11 = state.filter(col("key") === "P1-1").head
    assert(p11.getAs[Int]("sync_count") == 2)
    assert(p11.getAs[Timestamp]("last_updated") == ts("2024-02-01 00:00:00"))
  }

  test("delta log: append + resolve + threshold compaction, crash-idempotent") {
    val dir = Files.createTempDirectory("graft-delta").toString
    val path = s"$dir/state"
    // base: two keys
    StateStore.save(StateStore.fromIssues(batchDf(Seq(
      ("P1-1", "P1", "a", "2024-01-01 00:00:00"),
      ("P1-2", "P1", "b", "2024-01-01 00:00:00"))), ts("2024-01-02 00:00:00")), path)
    // delta 1: P1-1 updated (merge computes sync_count against current rows)
    val b1 = StateStore.fromIssues(
      batchDf(Seq(("P1-1", "P1", "a2", "2024-02-01 00:00:00"))), ts("2024-02-02 00:00:00"))
    val cur = StateStore.loadResolved(spark, path)
    StateStore.appendDelta(
      StateStore.merge(cur.join(b1.select("key"), Seq("key"), "left_semi"), b1), path)
    // delta 2: a brand-new key
    val b2 = StateStore.fromIssues(
      batchDf(Seq(("P1-3", "P1", "c", "2024-03-01 00:00:00"))), ts("2024-03-02 00:00:00"))
    StateStore.appendDelta(StateStore.merge(
      StateStore.loadResolved(spark, path).join(b2.select("key"), Seq("key"), "left_semi"),
      b2), path)
    assert(StateStore.deltaCount(spark, path) == 2)
    // resolved view: latest per key across base + deltas, sync_count carried
    val resolved = StateStore.loadResolved(spark, path).collect()
      .map(r => r.getString(0) -> (r.getAs[Timestamp]("last_updated"),
        r.getAs[Int]("sync_count"))).toMap
    assert(resolved.keySet == Set("P1-1", "P1-2", "P1-3"))
    assert(resolved("P1-1") == ((ts("2024-02-01 00:00:00"), 2)))
    assert(resolved("P1-2")._2 == 1 && resolved("P1-3")._2 == 1)
    // the base alone is still the OLD view — deltas are separate commits
    assert(StateStore.load(spark, path).count() == 2)
    // crash window: a delta surviving past compaction re-applies as a no-op
    val deltaDir = new java.io.File(dir).listFiles()
      .find(_.getName.matches("state__delta_\\d+")).get
    val copy = java.nio.file.Paths.get(dir, "saved_delta")
    org.apache.commons.io.FileUtils.copyDirectory(deltaDir, copy.toFile)
    StateStore.compactDeltas(spark, path)
    assert(StateStore.deltaCount(spark, path) == 0)
    val afterCompact = StateStore.load(spark, path).collect()
      .map(r => r.getString(0) -> r.getAs[Int]("sync_count")).toMap
    assert(afterCompact == Map("P1-1" -> 2, "P1-2" -> 1, "P1-3" -> 1))
    // resurrect the folded delta (the crash-between-promote-and-cleanup case)
    org.apache.commons.io.FileUtils.copyDirectory(
      copy.toFile, java.nio.file.Paths.get(dir, deltaDir.getName).toFile)
    val replayed = StateStore.loadResolved(spark, path).collect()
      .map(r => r.getString(0) -> r.getAs[Int]("sync_count")).toMap
    assert(replayed == afterCompact, "re-applied folded delta must be a no-op")
  }

  test("a delta appended past a stray uncommitted delta dir stays visible") {
    val dir = Files.createTempDirectory("graft-stray-delta").toString
    val path = s"$dir/state"
    StateStore.save(StateStore.fromIssues(batchDf(Seq(
      ("P1-1", "P1", "a", "2024-01-01 00:00:00"))), ts("2024-01-02 00:00:00")), path)
    // a compaction that crashed inside its recursive delete of __delta_1:
    // `_SUCCESS` is gone, a data file is left
    val stray = new java.io.File(s"${path}__delta_1")
    assert(stray.mkdirs())
    java.nio.file.Files.write(new java.io.File(stray, "part-00000.parquet").toPath,
      Array[Byte](1, 2, 3))
    assert(StateStore.deltaCount(spark, path) == 0)
    val b = StateStore.fromIssues(
      batchDf(Seq(("P1-2", "P1", "b", "2024-02-01 00:00:00"))), ts("2024-02-02 00:00:00"))
    StateStore.appendDelta(b, path)
    // the batch commits under its own name, not inside the stray dir
    assert(StateStore.deltaCount(spark, path) == 1)
    val keys = StateStore.loadResolved(spark, path).collect().map(_.getString(0)).toSet
    assert(keys == Set("P1-1", "P1-2"))
  }

  test("loadResolved under multi-delta churn equals the inline definitional window") {
    // pins the resolved read row-for-row against a single window over
    // base ∪ deltas written out here, under overlaps, replays, and
    // multi-delta churn
    import org.apache.spark.sql.expressions.Window
    val dir = Files.createTempDirectory("graft-delta-eq").toString
    val path = s"$dir/state"
    StateStore.save(StateStore.fromIssues(batchDf(
      (1 to 40).map(i => (s"P1-$i", "P1", s"v0", "2024-01-01 00:00:00"))),
      ts("2024-01-02 00:00:00")), path)
    // delta 1: updates to a slice; delta 2: replay of part of delta 1
    // (identical rows) + new keys; delta 3: a second update to some keys
    val d1 = StateStore.fromIssues(batchDf(
      (1 to 15).map(i => (s"P1-$i", "P1", "v1", "2024-02-01 00:00:00"))),
      ts("2024-02-02 00:00:00"))
    StateStore.appendDelta(StateStore.merge(
      StateStore.loadResolved(spark, path).join(d1.select("key"), Seq("key"), "left_semi"),
      d1), path)
    val d2 = StateStore.fromIssues(batchDf(
      (10 to 15).map(i => (s"P1-$i", "P1", "v1", "2024-02-01 00:00:00")) ++
        (41 to 45).map(i => (s"P1-$i", "P1", "new", "2024-02-10 00:00:00"))),
      ts("2024-02-11 00:00:00"))
    StateStore.appendDelta(StateStore.merge(
      StateStore.loadResolved(spark, path).join(d2.select("key"), Seq("key"), "left_semi"),
      d2), path)
    val d3 = StateStore.fromIssues(batchDf(
      (5 to 12).map(i => (s"P1-$i", "P1", "v2", "2024-03-01 00:00:00"))),
      ts("2024-03-02 00:00:00"))
    StateStore.appendDelta(StateStore.merge(
      StateStore.loadResolved(spark, path).join(d3.select("key"), Seq("key"), "left_semi"),
      d3), path)
    assert(StateStore.deltaCount(spark, path) == 3)
    // definitional resolution, computed inline
    val base = StateStore.load(spark, path)
    val deltas = new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.matches("state__delta_\\d+"))
      .map(f => spark.read.schema(StateStore.schema).parquet(f.toString))
    val all = deltas.foldLeft(base)(_ unionByName _)
    val w = Window.partitionBy(col("key"))
      .orderBy(col("last_updated").desc, col("sync_count").desc,
        col("last_synced").desc)
    val definitional = all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Timestamp]("last_updated"), r.getAs[Int]("sync_count"))).toMap
    val resolved = StateStore.loadResolved(spark, path)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Timestamp]("last_updated"), r.getAs[Int]("sync_count"))).toMap
    assert(resolved == definitional,
      s"resolved read diverged: ${(resolved.toSet diff definitional.toSet).take(3)}")
    assert(resolved.size == 45 && resolved("P1-7")._2 == 3 && resolved("P1-20")._2 == 1)
  }

  test("partitioned base: invisible layout, pruned resolve == unpruned, partition-pruned scan") {
    val dir = Files.createTempDirectory("graft-blockstate").toString
    val path = s"$dir/state"
    // suffixes spanning three numeric range blocks (0, 1, 3 at
    // StatePartBlock=65536) plus one md5-fallback key
    StateStore.save(StateStore.fromIssues(batchDf(Seq(
      ("P1-1", "P1", "a", "2024-01-01 00:00:00"),
      ("P1-2", "P1", "b", "2024-01-01 00:00:00"),
      ("P1-70000", "P1", "c", "2024-01-01 00:00:00"),
      ("P1-200000", "P1", "d", "2024-01-01 00:00:00"),
      ("ABC-DEF", "P2", "e", "2024-01-01 00:00:00"))),
      ts("2024-01-02 00:00:00")), path)
    // every ledger save writes one dir per range block
    def segDirs() = new java.io.File(path).listFiles().toSeq
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("__seg="))
    assert(segDirs().toSet.size == 4, s"expected 4 block dirs, got ${segDirs()}")
    // layout invisible to plain readers: same schema, same rows
    val loaded = StateStore.load(spark, path)
    assert(loaded.columns.toSeq == StateStore.schema.fieldNames.toSeq)
    assert(loaded.count() == 5)
    // a delta touching blocks 0 (update) and 1 (insert)
    val d1 = StateStore.fromIssues(batchDf(Seq(
      ("P1-2", "P1", "b2", "2024-02-01 00:00:00"),
      ("P1-70001", "P1", "n", "2024-02-01 00:00:00"))), ts("2024-02-02 00:00:00"))
    StateStore.appendDelta(StateStore.merge(
      StateStore.loadResolved(spark, path)
        .join(d1.select("key"), Seq("key"), "left_semi"), d1), path)
    val segs = StateStore.touchedSegs(d1.select("key"))
    assert(segs.toSet == Set("00000", "00001"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getAs[String]("key") -> (r.getAs[Timestamp]("last_updated"),
        r.getAs[Int]("sync_count"), r.getAs[String]("checksum"))).toMap
    val pruned = StateStore.loadResolvedPruned(spark, path, segs)
    // pruned == the full resolve restricted to the same blocks, row-for-row
    val expected = m(StateStore.loadResolved(spark, path)
      .filter(StateStore.statePartCol(col("key")).isin(segs: _*)))
    assert(m(pruned) == expected)
    assert(m(pruned).keySet == Set("P1-1", "P1-2", "P1-70000", "P1-70001"))
    assert(m(pruned)("P1-2")._2 == 2 && m(pruned)("P1-70001")._2 == 1)
    // and the restriction reaches the SCAN as a partition filter — pruned
    // I/O, not a row filter over a full-corpus read
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("__seg"),
      s"base scan must be partition-pruned:\n${plan.take(1500)}")
    // compaction preserves the layout and the resolution
    StateStore.compactDeltas(spark, path)
    assert(segDirs().nonEmpty, "compacted base lost the partitioned layout")
    val after = m(StateStore.load(spark, path))
    assert(after.keySet.size == 6 && after("P1-2")._2 == 2)
    // an empty touched set resolves to an empty frame with the full schema
    assert(StateStore.loadResolvedPruned(spark, path, Nil).count() == 0)
  }

  test("legacy flat base: reads row for row, prunes exactly, next save converts") {
    val dir = Files.createTempDirectory("graft-flatstate").toString
    val path = s"$dir/state"
    val rows = StateStore.fromIssues(batchDf(Seq(
      ("P1-1", "P1", "a", "2024-01-01 00:00:00"),
      ("P1-70000", "P1", "b", "2024-01-01 00:00:00"),
      ("P1-200000", "P1", "c", "2024-01-01 00:00:00"),
      ("ABC-DEF", "P2", "d", "2024-01-01 00:00:00"))),
      ts("2024-01-02 00:00:00")).localCheckpoint(true)
    // the ledger as older versions saved it: one flat parquet dir
    rows.write.parquet(path)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      StateStore.schema.fieldNames.map(f => r.get(r.fieldIndex(f))).toSeq).toSet
    def segDirs() = new java.io.File(path).listFiles().toSeq
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("__seg="))
    assert(segDirs().isEmpty)
    val loaded = StateStore.load(spark, path)
    assert(loaded.columns.toSeq == StateStore.schema.fieldNames.toSeq)
    assert(m(loaded) == m(rows))
    // a delta touching block 0 (update) and block 3 (insert)
    val d = StateStore.fromIssues(batchDf(Seq(
      ("P1-1", "P1", "a2", "2024-02-01 00:00:00"),
      ("P1-200001", "P1", "n", "2024-02-01 00:00:00"))), ts("2024-02-02 00:00:00"))
    StateStore.appendDelta(StateStore.merge(
      StateStore.loadResolved(spark, path)
        .join(d.select("key"), Seq("key"), "left_semi"), d), path)
    val segs = StateStore.touchedSegs(d.select("key"))
    assert(segs.toSet == Set("00000", "00003"))
    val pruned = StateStore.loadResolvedPruned(spark, path, segs)
    assert(m(pruned) == m(StateStore.loadResolved(spark, path)
      .filter(StateStore.statePartCol(col("key")).isin(segs: _*))))
    assert(pruned.count() == 3)
    // the next save rewrites the base in the range-block layout
    val resolved = StateStore.loadResolved(spark, path).localCheckpoint(true)
    StateStore.save(resolved, path)
    val md5Seg = spark.range(1).select(StateStore.statePartCol(lit("ABC-DEF")))
      .head.getString(0)
    assert(segDirs().toSet ==
      Set("00000", "00001", "00003", md5Seg).map(b => s"__seg=$b"))
    // nothing else: no flat data file or dir beside the blocks, only the
    // commit marker (and its checksum)
    val top = new java.io.File(path).listFiles().toSeq
    assert(top.forall(f => if (f.isDirectory) f.getName.startsWith("__seg=")
      else f.getName.startsWith("_") || f.getName.startsWith(".")),
      s"flat data left beside the block dirs: ${top.map(_.getName)}")
    assert(m(StateStore.load(spark, path)) == m(resolved))
  }

  // nine-block ledger + a delta touching blocks 0 (update) and
  // 1 (insert) — the fixture for the incremental-compaction tests
  private def nineBlockLedger(): (String, Seq[String]) = {
    val dir = Files.createTempDirectory("graft-icompact").toString
    val path = s"$dir/state"
    val suffixes = Seq(5, 70000, 140000, 200000, 270000, 330000, 400000,
      460000, 530000)
    StateStore.save(StateStore.fromIssues(batchDf(
      suffixes.map(n => (s"P1-$n", "P1", s"v$n", "2024-01-01 00:00:00"))),
      ts("2024-01-02 00:00:00")), path)
    val d = StateStore.fromIssues(batchDf(Seq(
      ("P1-5", "P1", "v5b", "2024-02-01 00:00:00"),
      ("P1-70001", "P1", "new", "2024-02-01 00:00:00"))),
      ts("2024-02-02 00:00:00"))
    StateStore.appendDelta(StateStore.merge(
      StateStore.loadResolved(spark, path)
        .join(d.select("key"), Seq("key"), "left_semi"), d), path)
    (path, StateStore.touchedSegs(d.select("key")))
  }

  private def resolvedMap(path: String) =
    StateStore.loadResolved(spark, path).collect().map(r =>
      r.getAs[String]("key") -> (r.getAs[Timestamp]("last_updated"),
        r.getAs[Int]("sync_count"))).toMap

  test("incremental compaction rewrites ONLY the touched blocks") {
    val (path, segs) = nineBlockLedger()
    assert(segs.toSet == Set("00000", "00001"))
    def blockFiles(seg: String) = {
      val f = new java.io.File(s"$path/__seg=$seg")
      if (!f.exists()) Map.empty[String, Long]
      else f.listFiles().map(x => x.getName -> x.lastModified()).toMap
    }
    val untouchedBefore = (2 to 8).map(i => f"$i%05d").map(s => s -> blockFiles(s))
    val expected = resolvedMap(path) // fold is idempotent: pre == post values
    StateStore.compactDeltas(spark, path)
    // deltas folded, scratch cleaned, untouched block dirs bit-untouched
    assert(StateStore.deltaCount(spark, path) == 0)
    assert(!new java.io.File(path + "__ctmp").exists())
    assert(!new java.io.File(path + "__cold").exists())
    untouchedBefore.foreach { case (s, before) =>
      assert(blockFiles(s) == before, s"untouched block $s was rewritten")
    }
    // and the incremental fold equals the definitional resolution
    val after = resolvedMap(path)
    assert(after == expected)
    assert(after("P1-5")._2 == 2 && after("P1-70001")._2 == 1 && after.size == 10)
    // a wide backlog (touched >= 1/4 of blocks) falls back to the FULL
    // rewrite: two-block ledger, both touched
    val dir2 = Files.createTempDirectory("graft-icompact2").toString
    val path2 = s"$dir2/state"
    StateStore.save(StateStore.fromIssues(batchDf(Seq(
      ("P1-1", "P1", "a", "2024-01-01 00:00:00"),
      ("P1-70000", "P1", "b", "2024-01-01 00:00:00"))),
      ts("2024-01-02 00:00:00")), path2)
    val d2 = StateStore.fromIssues(batchDf(Seq(
      ("P1-1", "P1", "a2", "2024-02-01 00:00:00"),
      ("P1-70000", "P1", "b2", "2024-02-01 00:00:00"))),
      ts("2024-02-02 00:00:00"))
    StateStore.appendDelta(StateStore.merge(
      StateStore.loadResolved(spark, path2)
        .join(d2.select("key"), Seq("key"), "left_semi"), d2), path2)
    StateStore.compactDeltas(spark, path2)
    assert(StateStore.deltaCount(spark, path2) == 0)
    assert(new java.io.File(path2 + "__bak").exists(),
      "wide backlog must take the whole-table save protocol")
    assert(resolvedMap(path2)("P1-1")._2 == 2)
  }

  test("interrupted incremental compaction heals at the next read, every window") {
    val (path, segs) = nineBlockLedger()
    val expected = resolvedMap(path)
    def deltas() = StateStore.deltaDirs(spark, path)
    // A: the one unsafe window — block renamed OUT, not yet in. The block
    // dir is genuinely absent until recovery rolls the new content forward.
    intercept[DirSwap.InjectedCrash] {
      StateStore.compactTouched(spark, path, segs, deltas(),
        Some(DirSwap.AfterOut(0)))
    }
    assert(!new java.io.File(s"$path/__seg=00000").exists(),
      "the crash must leave the unsafe state this test is about")
    assert(resolvedMap(path) == expected, "read-time recovery must roll forward")
    assert(new java.io.File(s"$path/__seg=00000").exists())
    assert(!new java.io.File(path + "__cold").exists() &&
      !new java.io.File(path + "__ctmp").exists())
    assert(StateStore.deltaCount(spark, path) == 1, "deltas survive until folded")
    // B: crash between swaps — block 0 new, block 1 still old
    intercept[DirSwap.InjectedCrash] {
      StateStore.compactTouched(spark, path, segs, deltas(),
        Some(DirSwap.AfterSwap(0)))
    }
    assert(resolvedMap(path) == expected)
    assert(StateStore.deltaCount(spark, path) == 1)
    // C: crash after delta deletion, scratch left behind
    intercept[DirSwap.InjectedCrash] {
      StateStore.compactTouched(spark, path, segs, deltas(),
        Some(DirSwap.BeforeCleanup))
    }
    assert(StateStore.deltaCount(spark, path) == 0)
    assert(resolvedMap(path) == expected)
    assert(!new java.io.File(path + "__cold").exists() &&
      !new java.io.File(path + "__ctmp").exists())
    // and a rerun compaction on the healed ledger is a clean no-op
    StateStore.compactDeltas(spark, path)
    assert(resolvedMap(path) == expected)
  }

  test("shardSegCol is a bit-exact twin of Yaml.shardSeg across the admitted suffix range") {
    import spark.implicits._
    // 2^58-1 is the trap: not double-representable, it rounds UP to 2^58 so
    // a double-division plan lands one range block high of the exact
    // `suffix.toLong / 8192` the writer used — state would then point at a
    // file path no file sits behind
    val keys = Seq(
      "P1-0", "P1-1", "P1-8191", "P1-8192", "P1-16383",
      "P1-288230376151711743",            // 2^58-1: double rounds across the boundary
      "P1-999999999999999999",            // 18 nines: max admitted numeric suffix
      "P1-9007199254740993",              // 2^53+1: first non-representable long
      "ABC-DEF", "NODASH", "P1-",         // md5 fallback cases
      "P1-1234567890123456789")           // 19 digits: past the numeric gate → md5
    val got = keys.toDF("key")
      .select(col("key"), StateStore.shardSegCol(col("key")).as("seg"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    keys.foreach { k =>
      assert(got(k) == graft.sink.Yaml.shardSeg(k),
        s"$k: column=${got(k)} scala=${graft.sink.Yaml.shardSeg(k)}")
    }
  }
}
