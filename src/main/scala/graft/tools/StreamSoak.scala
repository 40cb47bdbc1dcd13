package graft.tools

import org.apache.spark.sql.functions._

/** Streaming soak at generated scale — the continuous-ingest counterpart of
  * the batch scaling rehearsal (SCALING_MEASURED.md): replay the sfg1.0
  * volume through the two streaming shapes the engine ships and pin the two
  * numbers a stream operator alerts on, p95 micro-batch duration and max
  * keyed-state rows.
  *
  *   leg 1 (CDC): the full issue corpus (~1.5M at sfg1.0) through
  *     [[graft.streaming.CdcStream.start]] — state-table merge, YAML corpus,
  *     git commit per batch — as a file-source stream replayed one slice per
  *     trigger. State lives in the state TABLE (the driver-map inversion),
  *     so the pinned state number is the table's row count.
  *   leg 2 (windowed): the events table (~1M rows) through the watermarked
  *     hourly [[graft.streaming.CdcStream.eventRates]] agg — real state-store
  *     rows, the number that explodes when a watermark is mis-set.
  *
  * Bounds are pinned in code (generous multiples of the measured-quiet-host
  * values, same discipline as StreamSpec's fixture bounds); a violation
  * exits non-zero so the soak is a gate, not a report. Artifact JSON goes to
  * the given path (committed as stream_soak_sfg1.json).
  *
  * Usage: runMain graft.tools.StreamSoak <sfgDir> <out.json> [slices]
  *          [cadence=N] [sharded] [slice=range] [skew=P1:0.9] [nogit]
  */
object StreamSoak {

  /** Pinned bounds at sfg1.0 on 32 threads (quiet-host measurements ~2.5s
    * p95 CDC batch / ~1.1s windowed; 4x headroom absorbs contended windows
    * without hiding an order-of-magnitude regression).
    */
  private val CdcP95BoundMs = 25000L
  private val WindowedP95BoundMs = 6000L
  /** The quadratic-catcher: mean duration of the LAST 5 CDC batches over the
    * FIRST 5 may grow (state reads grow until compaction, and a compaction
    * batch carries the fold) but bounded growth is the whole point of the
    * delta-log state commit — the rewrite-per-batch shape this soak
    * originally caught measured 5.5x here and climbing with corpus size.
    */
  private val CdcGrowthBound = 4.0
  /** State cannot exceed one row per distinct issue key (CDC leg) — equality
    * is the correctness claim; the bound is exact.
    */
  private val WindowedStateRowsBound = 20000L // open windows x event types

  private def p95(xs: Seq[Long]): Long =
    if (xs.isEmpty) 0L
    else xs.sorted.apply(math.min(xs.size - 1, math.ceil(xs.size * 0.95).toInt - 1))

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outPath = args(1)
    val slices = if (args.length > 2) args(2).toInt else 20
    val withGit = !args.contains("nogit") // isolation flag for growth triage
    // cadence=N arg: exercise the git-commit cadence lever (default 1)
    val cadence = args.collectFirst {
      case a if a.startsWith("cadence=") => a.stripPrefix("cadence=").toInt
    }.getOrElse(1)
    // sharded: the range-block directory layout — the tree-floor lever the
    // cadence lever composes with (SCALING_MEASURED.md run 6)
    val sharded = args.contains("sharded")
    // slice=range replays issues in CREATION ORDER (contiguous issue-number
    // ranges per micro-batch) — how a real CDC stream arrives, and the
    // arrival pattern the range-block layout is designed for. The default
    // (mod) interleaves every batch across the full key range, kept for
    // comparability with soak runs 1-6.
    val sliceRange = args.contains("slice=range")
    // skew=P1:0.9 re-keys the corpus so the named project holds that
    // fraction of all issues (dense re-numbered sequence; the remainder
    // round-robins over synthetic cold projects). Real ingest is
    // project-skewed, and this is the shape that stresses the range-block
    // tail-append argument: nearly every batch hammers ONE project's tail
    // block. Distinct-key count is preserved, so the state-rows gate is
    // unchanged.
    val skew = args.collectFirst {
      case a if a.startsWith("skew=") =>
        val Array(p, f) = a.stripPrefix("skew=").split(":")
        (p, f.toDouble)
    }
    val spark = graft.Session.local(graft.Session.cpus(32))

    // RAM-backed work dir when available — the CDC leg writes the full YAML
    // corpus, and on throttled disks the soak would measure the disk
    val shm = java.nio.file.Paths.get("/dev/shm")
    val work = (if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, "graft-soak")
    else java.nio.file.Files.createTempDirectory("graft-soak")).toString

    // ---- leg 1: CDC replay ------------------------------------------------
    val issues0 = graft.Tables.issues(spark, dir)
      .select("key", "project_key", "summary", "updated")
    val issues = skew match {
      case None => issues0
      case Some((hot, frac)) =>
        // deterministic global rank → dense re-numbering (soak setup cost,
        // one single-partition window over ~1.5M tiny rows, not a registry
        // plan); first `frac` of rows become the hot project's contiguous
        // sequence, the rest round-robin over 4 synthetic cold projects
        val n = issues0.count()
        val nHot = math.ceil(n * frac).toLong
        val ranked = issues0.withColumn("__r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy("project_key", "key")).cast("long"))
        val coldProj = concat(lit("C"), pmod(col("__r") - nHot - 1, lit(4L)) + 1)
        val coldSuffix = // integer div: `/` would render fractional suffixes
          call_function("div", col("__r") - nHot - 1, lit(4L)) + 1
        ranked.select(
          when(col("__r") <= nHot, concat(lit(hot), lit("-"), col("__r")))
            .otherwise(concat(coldProj, lit("-"), coldSuffix)).as("key"),
          when(col("__r") <= nHot, lit(hot)).otherwise(coldProj).as("project_key"),
          col("summary"), col("updated"))
    }
    val nIssues = issues.count()
    // one parquet file per slice, sliced on the key suffix so the replay is
    // deterministic; all files exist before the stream starts and
    // maxFilesPerTrigger=1 turns each into one micro-batch
    val srcDir = s"$work/cdc_src"
    val sliceExpr =
      if (sliceRange) {
        val maxSuffix = issues.agg(max(
          expr("cast(element_at(split(key, '-'), 2) as bigint)"))).head.getLong(0)
        expr(s"cast(element_at(split(key, '-'), 2) as bigint) * $slices" +
          s" div ${maxSuffix + 1}")
      } else expr(s"cast(element_at(split(key, '-'), 2) as bigint) % $slices")
    val sliced = issues.withColumn("__s", sliceExpr)
    (0 until slices).foreach { i =>
      sliced.filter(col("__s") === i).drop("__s").coalesce(1)
        .write.mode("append").parquet(srcDir)
    }
    // updates=N: after the bulk replay, N micro-batches RE-SEND slice 0's
    // rows — the steady-state shape (sparse re-syncs over an existing
    // corpus) that the bulk phase never reaches: every bulk batch is
    // all-new keys, so each compaction window touches ~40% of the state
    // blocks and the incremental-compaction gate correctly stays on the
    // full rewrite; the update phase touches only slice 0's blocks, which
    // is where partition-incremental compaction and pruned reads show
    // their steady-state cost. Files are written LAST so the file-source
    // replays them after the bulk (mtime order).
    val updates = args.collectFirst {
      case a if a.startsWith("updates=") => a.stripPrefix("updates=").toInt
    }.getOrElse(0)
    (0 until updates).foreach { _ =>
      Thread.sleep(1100) // distinct mtimes keep the replay order stable
      sliced.filter(col("__s") === 0).drop("__s").coalesce(1)
        .write.mode("append").parquet(srcDir)
    }
    val srcStream = spark.readStream
      .schema(issues.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val t0 = System.nanoTime()
    val cdcQuery = graft.streaming.CdcStream.start(
      srcStream, s"$work/repo", s"$work/state", s"$work/ckpt",
      commitToGit = withGit, commitEvery = cadence, sharded = sharded,
      clock = () => java.sql.Timestamp.valueOf("2002-01-01 00:00:00"))
    val cdcCards =
      try { cdcQuery.processAllAvailable(); graft.streaming.Progress.card(cdcQuery) }
      finally cdcQuery.stop()
    val cdcElapsedSec = (System.nanoTime() - t0) / 1e9
    val stateRows = graft.state.StateStore.loadResolved(spark, s"$work/state").count()
    val cdcDur = cdcCards.map(_.batchDurationMs)
    val cdcP95 = p95(cdcDur)

    // ---- leg 2: watermarked windowed agg -----------------------------------
    val events = graft.Tables.events(spark, dir)
      .select(col("ts"), col("event_type"), col("value").cast("double").as("value"))
    val nEvents = events.count()
    val evDir = s"$work/ev_src"
    events.withColumn("__s", pmod(hash(col("ts")), lit(slices)))
      .repartition(slices, col("__s"))
      .write.partitionBy("__s").mode("overwrite").parquet(evDir)
    // partitionBy leaves __s out of the data files; stream the leaf dirs in
    // slice order as one file-source with one dir... simpler: re-list parts
    val evStream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "4")
      .option("recursiveFileLookup", "true")
      .parquet(evDir)
    val rates = graft.streaming.CdcStream.eventRates(
      evStream, watermarkDelay = Some("1 hour"))
    val winQuery = rates.writeStream
      .outputMode("append").format("noop")
      .option("checkpointLocation", s"$work/ev_ckpt")
      .start()
    val winCards =
      try { winQuery.processAllAvailable(); graft.streaming.Progress.card(winQuery) }
      finally winQuery.stop()
    val winDur = winCards.map(_.batchDurationMs)
    val winP95 = p95(winDur)
    val winMaxState = (0L +: winCards.map(_.stateRows)).max

    // ---- artifact + gate ----------------------------------------------------
    val violations = Seq.newBuilder[String]
    if (cdcP95 > CdcP95BoundMs)
      violations += s"cdc p95 ${cdcP95}ms > bound $CdcP95BoundMs"
    val growth =
      if (cdcDur.size >= 10)
        cdcDur.takeRight(5).sum.toDouble / math.max(1L, cdcDur.take(5).sum)
      else 1.0
    if (growth > CdcGrowthBound)
      violations += f"cdc batch-duration growth $growth%.2fx > bound $CdcGrowthBound (quadratic ingest)"
    if (stateRows != nIssues)
      violations += s"state table $stateRows rows != $nIssues issues"
    if (winP95 > WindowedP95BoundMs)
      violations += s"windowed p95 ${winP95}ms > bound $WindowedP95BoundMs"
    if (winMaxState > WindowedStateRowsBound)
      violations += s"windowed state $winMaxState rows > bound $WindowedStateRowsBound"
    val bad = violations.result()

    def arr(xs: Seq[Long]) = xs.mkString("[", ",", "]")
    val json =
      s"""{"scale":"${new java.io.File(dir).getName}",
         |"cadence":$cadence,"sharded":$sharded,"slice":"${if (sliceRange) "range" else "mod"}",
         |"skew":"${skew.map(s => s"${s._1}:${s._2}").getOrElse("none")}",
         |"update_batches":$updates,
         |"cdc":{"batches":${cdcCards.size},"rows":$nIssues,
         |  "p95_batch_ms":$cdcP95,"max_batch_ms":${(0L +: cdcDur).max},
         |  "batch_ms":${arr(cdcDur)},
         |  "state_table_rows":$stateRows,
         |  "elapsed_sec":${"%.1f".formatLocal(java.util.Locale.ROOT, cdcElapsedSec)},
         |  "rows_per_sec":${"%.0f".formatLocal(java.util.Locale.ROOT, nIssues / cdcElapsedSec)},
         |  "growth_last5_over_first5":${"%.2f".formatLocal(java.util.Locale.ROOT, growth)},
         |  "bound_growth":$CdcGrowthBound,
         |  "bound_p95_batch_ms":$CdcP95BoundMs},
         |"windowed":{"batches":${winCards.size},"rows":$nEvents,
         |  "p95_batch_ms":$winP95,"max_state_rows":$winMaxState,
         |  "batch_ms":${arr(winDur)},
         |  "bound_p95_batch_ms":$WindowedP95BoundMs,
         |  "bound_max_state_rows":$WindowedStateRowsBound},
         |"violations":${bad.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |"pass":${bad.isEmpty}}""".stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(json)
    // clean the ~1.5M-file YAML corpus
    scala.util.Try(java.nio.file.Files.walk(java.nio.file.Paths.get(work))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () }))
    spark.stop()
    if (bad.nonEmpty) { Console.err.println(bad.mkString("\n")); sys.exit(1) }
  }
}
