package graft.pipeline

import org.apache.spark.sql.functions._

import graft.queries.{q, GQuery}

/** Dataset-curation operators over `documents`: deterministic hash-based
  * stratified sampling and train/val/test split assignment — the standard
  * reproducible alternative to RNG sampling for training-data pipelines.
  *
  * Scale design: both are pure map-side predicates/projections on the
  * 60-bit content hash of the stable document id ([[hash64]], codegen'd) —
  * no shuffle, no driver-side RNG state, no `sample()` nondeterminism; the
  * same row lands in the same bucket on any cluster, any partitioning, any
  * re-run, which is what makes dataset versions reproducible at 100 TB.
  */
object Curation {

  /** Per-language sampling rates (percent) for the stratified sample. */
  private val rates: Seq[(String, Int)] = Seq("en" -> 50, "de" -> 20)
  private val defaultRate = 10

  /** Stratified sample: keep `rate(lang)`% of each language stratum, chosen
    * by hash-mod of the doc id.
    */
  private val sample = {
    val rateCaseSql = rates.map { case (l, r) => s"WHEN '$l' THEN $r" }
      .mkString("CASE lang ", " ", s" ELSE $defaultRate END")
    q("pipe_sample_stratified",
      s"""SELECT doc_id, lang
         |FROM documents
         |WHERE ${sqlHash64("doc_id::VARCHAR")} % 100 < $rateCaseSql
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val rateCase = rates.foldLeft(when(lit(false), 0)) { case (acc, (l, r)) =>
        acc.when(col("lang") === l, r)
      }.otherwise(defaultRate)
      graft.Tables.t(s, dir, "documents")
        .filter(hash64(col("doc_id").cast("string")) % 100 < rateCase)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }
  }

  /** Train/val/test assignment: 80/10/10 by hash-mod — disjoint, exhaustive,
    * stable under re-runs and data growth (a document never migrates between
    * splits when other rows change).
    */
  private val split = q("pipe_split_assign",
    s"""SELECT doc_id,
       |  CASE WHEN ${sqlHash64("doc_id::VARCHAR")} % 100 < 80 THEN 'train'
       |       WHEN ${sqlHash64("doc_id::VARCHAR")} % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bucket = hash64(col("doc_id").cast("string")) % 100
    graft.Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
      .orderBy("doc_id")
  }

  /** The capstone composition: the training corpus = documents that survive
    * exact dedup (first doc per normalized-content fingerprint) AND clear the
    * quality threshold AND fall in the train split — the three curation
    * stages chained the way a real pretraining pipeline runs them. Each
    * stage is a map-side predicate or one keyed shuffle; composing them
    * changes no plan shape.
    */
  private val corpus = q("pipe_corpus_select",
    withDocs(s""", ${TextAnalysis.qualitySql},
       |kept AS (
       |  SELECT doc_id,
       |    row_number() OVER (PARTITION BY sha256(norm) ORDER BY doc_id) = 1 AS k
       |  FROM docs)
       |SELECT q.doc_id, q.n_words, q.quality
       |FROM quality q JOIN kept ON kept.doc_id = q.doc_id
       |WHERE kept.k AND q.quality >= 0.5
       |  AND ${sqlHash64("q.doc_id::VARCHAR")} % 100 < 80
       |ORDER BY q.doc_id""".stripMargin)) { (s, dir) =>
    val firstPerFp = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    val kept = docsNorm(s, dir)
      .select(col("doc_id"), sha2(col("norm"), 256).as("fp"))
      .withColumn("k", row_number().over(firstPerFp) === 1)
      .select("doc_id", "k")
    TextAnalysis.qualityDf(s, dir)
      .join(kept, Seq("doc_id"))
      .filter(col("k") && col("quality") >= 0.5 &&
        hash64(col("doc_id").cast("string")) % 100 < 80)
      .select("doc_id", "n_words", "quality")
      .orderBy("doc_id")
  }

  /** Weighted mix weights: up-weighted sources get a larger share of the
    * sampled budget (a "training mix" — e.g. code and books over web crawl).
    */
  private val mixWeights: Seq[(String, Long)] = Seq("src0" -> 8L, "src1" -> 4L)
  private val defaultWeight = 1L

  /** Training-mix construction: sample a 20% budget of the corpus with
    * per-source quotas proportional to mix weights. Per-source keep rates
    * derive from exact integer arithmetic over the source histogram
    * (`rate_s = min(100, 100·quota_s/count_s)`), then membership is the
    * deterministic hash-mod predicate — the whole operator is one tiny
    * aggregate (|sources| rows), a broadcast join of the rate dim, and a
    * map-side filter. At 100 TB the histogram is the only exchange.
    */
  private val mix = {
    val wCaseSql = mixWeights.map { case (s0, w) => s"WHEN '$s0' THEN $w" }
      .mkString("CASE source ", " ", s" ELSE $defaultWeight END")
    q("pipe_corpus_mix",
      s"""WITH cnt AS (
         |  SELECT source, count(*)::BIGINT AS c, ($wCaseSql)::BIGINT AS wt
         |  FROM documents GROUP BY source),
         |tot AS (SELECT sum(c)::BIGINT AS t, sum(wt)::BIGINT AS sw FROM cnt),
         |rates AS (
         |  SELECT source, least(100, (100 * (((t // 5) * wt) // sw)) // c) AS rate
         |  FROM cnt, tot)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN rates r ON d.source = r.source
         |WHERE ${sqlHash64("d.doc_id::VARCHAR")} % 100 < r.rate
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val weight = mixWeights.foldLeft(when(lit(false), 0L)) { case (acc, (s0, w)) =>
        acc.when(col("source") === s0, w)
      }.otherwise(defaultWeight)
      val docs = graft.Tables.t(s, dir, "documents")
      val cnt = docs.groupBy("source")
        .agg(count(lit(1)).as("c")).withColumn("wt", weight)
      val totals = cnt.agg(sum("c").as("t"), sum("wt").as("sw"))
      val rates = cnt.crossJoin(broadcast(totals))
        .select(col("source"),
          least(lit(100L), expr("(100 * (((t div 5) * wt) div sw)) div c"))
            .as("rate"))
      docs.join(broadcast(rates), Seq("source"))
        .filter(hash64(col("doc_id").cast("string")) % 100 < col("rate"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    }
  }

  /** Number of range buckets for the distributed prefix-sum machinery. On a
    * real cluster this would track `spark.sql.shuffle.partitions`; a fixed
    * power of two keeps the bucketing expression (and therefore the oracle
    * hash) independent of session conf.
    */
  private[pipeline] val PrefixBuckets = 64

  /** Per-bucket cumulative offsets WITHOUT a global window: given the
    * |buckets|-row `(pid, tot)` aggregate, compute for each bucket the sum of
    * `tot` over all LOWER buckets via a triangular broadcast join — at most
    * buckets² = 4096 joined rows regardless of corpus size, and no
    * single-partition WindowExec anywhere in the plan.
    */
  private[pipeline] def bucketBases(perBucket: org.apache.spark.sql.DataFrame) = {
    val rhs = perBucket.select(col("pid").as("pid2"), col("tot").as("tot2"))
    perBucket.join(broadcast(rhs), col("pid2") < col("pid"), "left")
      .groupBy("pid")
      .agg(coalesce(sum("tot2"), lit(0L)).as("base"))
  }

  /** Sequence packing (concatenate-and-chunk): the corpus is one token
    * stream in doc_id order, cut into fixed 2048-token training sequences;
    * each document reports the sequence span it lands in. This is how
    * GPT-style pretraining actually packs documents — no padding, documents
    * may straddle a sequence boundary.
    *
    * Scale design — the global running sum is computed WITHOUT a global
    * window (which would move the whole corpus through one WindowExec task):
    * (1) bucket each row by exact integer range arithmetic on `doc_id`
    * (deterministic — no RangePartitioner sampling, so the two uses of the
    * bucketed frame agree without a persist); (2) a per-bucket running sum,
    * parallel across [[PrefixBuckets]] tasks; (3) the |buckets|-row totals
    * fold into cumulative bases via [[bucketBases]] and broadcast back.
    * `off = base + local_run − tokens` is exactly the global prefix sum
    * because the bucket id is monotone in `doc_id` — so results stay
    * hash-identical to the oracle's single `sum() OVER (ORDER BY doc_id)`.
    */
  private val SeqBudget = 2048L
  private val pack = q("pipe_pack_sequences",
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS tokens
       |  FROM documents WHERE len(text) > 0),
       |offs AS (
       |  SELECT doc_id, tokens,
       |    (sum(tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens)::BIGINT AS off
       |  FROM toks)
       |SELECT doc_id, tokens, off,
       |  off // $SeqBudget AS seq_first,
       |  (off + tokens - 1) // $SeqBudget AS seq_last,
       |  (off + tokens - 1) // $SeqBudget - off // $SeqBudget + 1 AS n_seqs
       |FROM offs ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = graft.Tables.t(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("tokens"))
    // deterministic range bucket: pid ∈ [0, PrefixBuckets), monotone in doc_id
    val bounds = toks.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    val bucketed = toks.crossJoin(broadcast(bounds))
      .withColumn("pid",
        expr(s"cast(((doc_id - lo) * $PrefixBuckets) div (hi - lo + 1) as int)"))
      .drop("lo", "hi")
    val wLocal = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = bucketBases(bucketed.groupBy("pid").agg(sum("tokens").as("tot")))
    bucketed
      .withColumn("run", sum("tokens").over(wLocal))
      .join(broadcast(bases), Seq("pid"))
      .withColumn("off", col("base") + col("run") - col("tokens"))
      .select(col("doc_id"), col("tokens"), col("off"),
        expr(s"off div $SeqBudget").as("seq_first"),
        expr(s"(off + tokens - 1) div $SeqBudget").as("seq_last"),
        expr(s"(off + tokens - 1) div $SeqBudget - off div $SeqBudget + 1")
          .as("n_seqs"))
      .orderBy("doc_id")
  }

  /** Packing-efficiency report — the one-row card that justifies packing:
    * the naive per-document alternative pads every doc to a [[SeqBudget]]
    * multiple, so the corpus-wide pad waste (`Σ ceil(tokens/B)·B − tokens`)
    * against the packed sequence count (`ceil(Σ tokens / B)`) prices the
    * padding tax in sequences and as a fraction. Also counts the docs a
    * non-straddling packer would have to split (tokens > B). All exact
    * integers in one map-combinable aggregate — a single corpus pass at any
    * scale; the two fractions are single divisions of exact integers.
    */
  private val packEfficiency = q("pipe_pack_efficiency",
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS tokens
       |  FROM documents WHERE len(text) > 0)
       |SELECT count(*)::BIGINT AS n_docs,
       |  sum(tokens)::BIGINT AS total_tokens,
       |  sum((tokens + $SeqBudget - 1) // $SeqBudget)::BIGINT AS padded_seqs,
       |  ((sum(tokens) + $SeqBudget - 1) // $SeqBudget)::BIGINT AS packed_seqs,
       |  sum((tokens + $SeqBudget - 1) // $SeqBudget * $SeqBudget - tokens)::BIGINT
       |    AS pad_tokens,
       |  sum((tokens + $SeqBudget - 1) // $SeqBudget * $SeqBudget - tokens)::DOUBLE
       |    / (sum((tokens + $SeqBudget - 1) // $SeqBudget) * $SeqBudget)
       |    AS pad_waste_frac,
       |  sum(CASE WHEN tokens > $SeqBudget THEN 1 ELSE 0 END)::BIGINT
       |    AS docs_over_budget
       |FROM toks""".stripMargin) { (s, dir) =>
    graft.Tables.t(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("tokens"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("tokens").as("total_tokens"),
        sum(expr(s"(tokens + $SeqBudget - 1) div $SeqBudget")).as("padded_seqs"),
        expr(s"(sum(tokens) + $SeqBudget - 1) div $SeqBudget").as("packed_seqs"),
        sum(expr(s"(tokens + $SeqBudget - 1) div $SeqBudget * $SeqBudget - tokens"))
          .as("pad_tokens"),
        (sum(expr(s"(tokens + $SeqBudget - 1) div $SeqBudget * $SeqBudget - tokens"))
          .cast("double")
          / (sum(expr(s"(tokens + $SeqBudget - 1) div $SeqBudget")) * SeqBudget))
          .as("pad_waste_frac"),
        sum(when(col("tokens") > SeqBudget, 1L).otherwise(0L))
          .as("docs_over_budget"))
  }

  /** Overlapping-window chunking (the RAG / long-doc-training shape): each
    * document splits into 512-token windows with a 64-token overlap
    * (stride 448); chunk count = ceil((tokens − overlap) / stride), min 1.
    * Map-side explode — the per-doc fan-out is tokens/stride, so the output
    * scales with corpus token count, never with doc count × max-length. All
    * boundary arithmetic is exact-integer, so cross-engine hashes match.
    */
  private val ChunkSize = 512L
  private val ChunkStride = 448L // ChunkSize - 64 overlap
  private val chunks = q("pipe_text_chunks",
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS tokens
       |  FROM documents WHERE len(text) > 0),
       |n AS (
       |  SELECT doc_id, tokens,
       |    greatest(1, (tokens + $ChunkStride - 1 - (${ChunkSize - ChunkStride})) // $ChunkStride) AS n_chunks
       |  FROM toks)
       |SELECT doc_id, chunk_id,
       |  chunk_id * $ChunkStride AS start_tok,
       |  least(chunk_id * $ChunkStride + $ChunkSize, tokens) AS end_tok
       |FROM (SELECT doc_id, tokens, unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM n)
       |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    graft.Tables.t(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("tokens"))
      .withColumn("n_chunks",
        greatest(lit(1L),
          expr(s"(tokens + $ChunkStride - 1 - ${ChunkSize - ChunkStride}) div $ChunkStride")))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * ChunkStride).as("start_tok"),
        least(col("chunk_id") * ChunkStride + ChunkSize, col("tokens")).as("end_tok"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Deterministic corpus shuffle: training order = rank under a seeded
    * content-independent hash of the stable id — reproducible on any
    * cluster, any partitioning, any re-run, unlike RNG `orderBy(rand())`.
    * Epochs re-shuffle by changing the seed, not by re-reading state.
    *
    * Scale design — same two-phase construction as [[pack]]: the global
    * `row_number() OVER (ORDER BY hkey, doc_id)` never materializes as a
    * single-partition window. The 60-bit [[hash64]] key is uniform in
    * [0, 2⁶⁰), so its top bits ARE a deterministic range bucket
    * (`pid = hkey div 2^54`, monotone in hkey); each bucket ranks locally in
    * parallel and the |buckets|-row counts broadcast back as rank bases.
    * `pos = base + local_rank` equals the global rank exactly (equal hkeys
    * share a bucket), so the result is hash-identical to the oracle.
    */
  private val ShuffleSeed = ":42"
  private val shuffle = q("pipe_shuffle",
    s"""WITH h AS (
       |  SELECT doc_id, ${sqlHash64(s"doc_id::VARCHAR || '$ShuffleSeed'")} AS hkey
       |  FROM documents)
       |SELECT doc_id, hkey,
       |  row_number() OVER (ORDER BY hkey, doc_id) AS pos
       |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // top log2(PrefixBuckets) bits of the 60-bit hash key
    val shift = 1L << (60 - (63 - java.lang.Long.numberOfLeadingZeros(PrefixBuckets.toLong)))
    val h = graft.Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        hash64(concat(col("doc_id").cast("string"), lit(ShuffleSeed))).as("hkey"))
      .withColumn("pid", expr(s"cast(hkey div ${shift}L as int)"))
    val wLocal = Window.partitionBy("pid").orderBy("hkey", "doc_id")
    val bases = bucketBases(h.groupBy("pid").agg(count(lit(1)).as("tot")))
    h.withColumn("rn", row_number().over(wLocal))
      .join(broadcast(bases), Seq("pid"))
      .withColumn("pos", (col("base") + col("rn")).cast("int"))
      .select("doc_id", "hkey", "pos")
      .orderBy("doc_id")
  }

  /** Curriculum ordering — the training order used by quality-curriculum
    * runs: documents are banded by quality (highest band trains first) and
    * shuffled deterministically WITHIN each band, so epoch order is
    * reproducible and the quality ramp is explicit. `pos` is the exact
    * global training position.
    *
    * Scale design — same no-global-window construction as [[shuffle]]: the
    * composite order key is (band, hkey, doc_id); `pid = band·16 +
    * hkey div 2⁵⁶` is monotone in that key (4 bands × 16 hash sub-buckets =
    * 64 buckets), each bucket ranks locally in parallel, and the 64-row
    * count totals broadcast back as rank bases. The quality thresholds are
    * literal doubles compared against the bit-identical quality score, so
    * band assignment agrees cross-engine.
    */
  private val CurriculumSeed = ":cur7"
  private val curriculum = q("pipe_curriculum",
    withDocs(s""", ${TextAnalysis.qualitySql},
       |h AS (
       |  SELECT doc_id,
       |    CASE WHEN quality >= 0.8 THEN 0 WHEN quality >= 0.6 THEN 1
       |         WHEN quality >= 0.4 THEN 2 ELSE 3 END AS band,
       |    ${sqlHash64(s"doc_id::VARCHAR || '$CurriculumSeed'")} AS hkey
       |  FROM quality)
       |SELECT doc_id, band, hkey,
       |  row_number() OVER (ORDER BY band, hkey, doc_id) AS pos
       |FROM h ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val subShift = 1L << 56 // top 4 bits of the 60-bit hash → 16 sub-buckets
    val h = TextAnalysis.qualityDf(s, dir)
      .select(col("doc_id"),
        when(col("quality") >= 0.8, 0).when(col("quality") >= 0.6, 1)
          .when(col("quality") >= 0.4, 2).otherwise(3).as("band"),
        hash64(concat(col("doc_id").cast("string"), lit(CurriculumSeed)))
          .as("hkey"))
      .withColumn("pid", expr(s"cast(band * 16 + hkey div ${subShift}L as int)"))
    val wLocal = Window.partitionBy("pid").orderBy("band", "hkey", "doc_id")
    val bases = bucketBases(h.groupBy("pid").agg(count(lit(1)).as("tot")))
    h.withColumn("rn", row_number().over(wLocal))
      .join(broadcast(bases), Seq("pid"))
      .select(col("doc_id"), col("band"), col("hkey"),
        (col("base") + col("rn")).as("pos"))
      .orderBy("doc_id")
  }

  /** Per-source distribution drift — the data-QA alarm for a source whose
    * quality profile diverges from the corpus: each source's quality-decile
    * histogram compared to the corpus-wide histogram by exact TOTAL
    * VARIATION distance, `tv = Σ_b |c_sb·N − c_b·n_s| / (2·n_s·N)`. A source
    * with tv near 0 matches the corpus mix; near 1 is a different
    * distribution entirely (a broken scraper, a new domain, an injected
    * corpus). TV keeps everything rational: the per-bin terms are exact
    * integer cross-products summed as integers, and the single final
    * division makes the double bit-identical cross-engine (KL would need a
    * per-bin log — order-dependent float accumulation).
    *
    * Scale shape: two map-combinable censuses over the memoized quality
    * frame (per-(source,bin) and per-bin), a |sources|×10 grid join against
    * broadcast totals, and a |sources|-row output. The corpus is scanned
    * once.
    */
  private val sourceDrift = q("pipe_source_drift",
    withDocs(s""", ${TextAnalysis.qualitySql},
       |qb AS (
       |  SELECT d.source,
       |    least(CAST(floor(q.quality * 10) AS INT), 9) AS bin
       |  FROM quality q JOIN documents d ON d.doc_id = q.doc_id),
       |sb AS (SELECT source, bin, count(*)::BIGINT AS c FROM qb GROUP BY 1, 2),
       |st AS (SELECT source, count(*)::BIGINT AS ns FROM qb GROUP BY 1),
       |cb AS (SELECT bin, count(*)::BIGINT AS cbn FROM qb GROUP BY 1),
       |tot AS (SELECT count(*)::BIGINT AS n FROM qb),
       |grid AS (
       |  SELECT st.source, st.ns, g.i::INT AS bin, tot.n
       |  FROM st, generate_series(0, 9) g(i), tot),
       |terms AS (
       |  SELECT grid.source, grid.ns, grid.n,
       |    abs(coalesce(sb.c, 0) * grid.n - coalesce(cb.cbn, 0) * grid.ns) AS term
       |  FROM grid
       |  LEFT JOIN sb ON sb.source = grid.source AND sb.bin = grid.bin
       |  LEFT JOIN cb ON cb.bin = grid.bin)
       |SELECT source, ns AS n_docs,
       |  sum(term)::DOUBLE / (2.0 * ns * n) AS tv
       |FROM terms GROUP BY source, ns, n ORDER BY source""".stripMargin)) {
    (s, dir) =>
    val qb = TextAnalysis.qualityDf(s, dir).select("doc_id", "quality")
      .join(graft.Tables.t(s, dir, "documents").select("doc_id", "source"),
        Seq("doc_id"))
      .select(col("source"),
        least(floor(col("quality") * 10).cast("int"), lit(9)).as("bin"))
    val sb = qb.groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val st = qb.groupBy("source").agg(count(lit(1)).as("ns"))
    val cb = qb.groupBy("bin").agg(count(lit(1)).as("cbn"))
    val tot = qb.agg(count(lit(1)).as("n"))
    val bins = s.range(0, 10).select(col("id").cast("int").as("bin"))
    st.crossJoin(broadcast(bins)).crossJoin(broadcast(tot))
      .join(sb, Seq("source", "bin"), "left")
      .join(broadcast(cb), Seq("bin"), "left")
      .select(col("source"), col("ns"), col("n"),
        abs(coalesce(col("c"), lit(0L)) * col("n")
          - coalesce(col("cbn"), lit(0L)) * col("ns")).as("term"))
      .groupBy("source", "ns", "n")
      .agg(sum("term").as("tsum"))
      .select(col("source"), col("ns").as("n_docs"),
        (col("tsum").cast("double") / (lit(2.0) * col("ns") * col("n"))).as("tv"))
      .orderBy("source")
  }

  /** Per-source corpus report — the dataset card every training corpus
    * ships with: document and token counts, mean quality (rounded — a
    * cross-engine float-sum guard, same as the CDC stats), and the
    * exact-duplicate rate per source. One groupBy over per-row metrics plus
    * the fingerprint window; at 100 TB the report is |sources| rows.
    */
  private val stats = q("pipe_corpus_stats",
    withDocs(s""", ${TextAnalysis.qualitySql},
       |toks AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS tokens
       |  FROM documents WHERE len(text) > 0),
       |kept AS (
       |  SELECT doc_id,
       |    row_number() OVER (PARTITION BY sha256(norm) ORDER BY doc_id) = 1 AS k
       |  FROM docs)
       |SELECT d.source, count(*)::BIGINT AS n_docs,
       |  sum(t.tokens)::BIGINT AS n_tokens,
       |  round(avg(q.quality), 4) AS mean_quality,
       |  sum(CASE WHEN kept.k THEN 0 ELSE 1 END)::BIGINT AS n_dups
       |FROM documents d
       |JOIN toks t ON t.doc_id = d.doc_id
       |JOIN quality q ON q.doc_id = d.doc_id
       |JOIN kept ON kept.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin)) { (s, dir) =>
    val docs = graft.Tables.t(s, dir, "documents")
    val toks = docs.filter(length(col("text")) > 0)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("tokens"))
    val firstPerFp = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    val kept = docsNorm(s, dir)
      .select(col("doc_id"), sha2(col("norm"), 256).as("fp"))
      .withColumn("k", row_number().over(firstPerFp) === 1)
      .select("doc_id", "k")
    docs.select("doc_id", "source")
      .join(toks, Seq("doc_id"))
      .join(TextAnalysis.qualityDf(s, dir).select("doc_id", "quality"), Seq("doc_id"))
      .join(kept, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("tokens").as("n_tokens"),
        round(avg("quality"), 4).as("mean_quality"),
        sum(when(col("k"), 0L).otherwise(1L)).as("n_dups"))
      .orderBy("source")
  }

  /** Token-length histogram in power-of-two buckets with the cumulative
    * document share — the report that picks a packing sequence length
    * (pair of [[pack]]): "what max_len covers 99% of documents without
    * truncation". The bucket id is the BINARY DIGIT COUNT of the token
    * count (floor(log2)+1) computed by integer base conversion in both
    * engines — never floating log2, whose values at exact powers of two
    * land ulp-below the integer and bucket those docs differently per
    * engine. One scan + a |buckets|-row aggregate; the cumulative window
    * runs over ~60 rows at any corpus size.
    */
  private val lenHist = q("pipe_len_histogram",
    s"""WITH t AS (
       |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS tokens
       |  FROM documents WHERE len(text) > 0),
       |b AS (SELECT doc_id, tokens, length(bin(tokens))::BIGINT AS bucket FROM t),
       |g AS (
       |  SELECT bucket, count(*)::BIGINT AS n_docs, sum(tokens)::BIGINT AS total_tokens,
       |    min(tokens) AS min_tokens, max(tokens) AS max_tokens
       |  FROM b GROUP BY bucket)
       |SELECT bucket, (1::BIGINT << (bucket - 1)) AS lo,
       |  (1::BIGINT << bucket) - 1 AS hi, n_docs, total_tokens,
       |  min_tokens, max_tokens,
       |  sum(n_docs) OVER (ORDER BY bucket)::BIGINT AS cum_docs,
       |  sum(n_docs) OVER (ORDER BY bucket)::DOUBLE
       |    / sum(n_docs) OVER () AS cum_frac
       |FROM g ORDER BY bucket""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val g = graft.Tables.t(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(size(org.apache.spark.sql.functions.split(col("text"), " ", -1))
        .cast("long").as("tokens"))
      .withColumn("bucket", length(conv(col("tokens").cast("string"), 10, 2)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("total_tokens"),
        min("tokens").as("min_tokens"), max("tokens").as("max_tokens"))
    g.select(
        col("bucket"),
        expr("shiftleft(cast(1 as bigint), cast(bucket as int) - 1)").as("lo"),
        (expr("shiftleft(cast(1 as bigint), cast(bucket as int))") - 1).as("hi"),
        col("n_docs"), col("total_tokens"), col("min_tokens"), col("max_tokens"))
      // constant-valued partition key (pmod(x, 1) = 0, non-foldable —
      // a literal gets folded and stripped) over the ≤64-bucket rollup:
      // identical cumulative sums, no WindowExec empty-partition warning
      .withColumn("cum_docs",
        sum("n_docs").over(
          Window.partitionBy(pmod(col("bucket"), lit(1L))).orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_frac", col("cum_docs").cast("double") /
        sum("n_docs").over(
          Window.partitionBy(pmod(col("bucket"), lit(1L))).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      .orderBy("bucket")
  }

  /** The full curation pipeline as ONE query — what actually ships to
    * training: per near-dup cluster (MinHash+LSH candidates → bounded label
    * propagation) keep only the highest-quality member, then require it to
    * clear the Gopher rule gate. Upgrades [[corpus]]'s exact-fingerprint ∧
    * score-threshold composition to near-dup ∧ hard-rules — the two stages
    * every production pretraining pipeline runs.
    *
    * Plan shape: the near-dup resolution is the bounded-rounds machinery
    * already analyzed in [[Dedup]]; quality and the gate add one doc-keyed
    * join each (co-partitioned after the first shuffle) and the survivor
    * pick is a per-cluster window over near-dup-sized groups. Nothing here
    * is corpus × corpus.
    */
  private val corpusFinal = q("pipe_corpus_final",
    withDocs(s""", ${Dedup.minhashSql},
       |${Dedup.resolveCtes},
       |${TextAnalysis.qualitySql},
       |${TextAnalysis.gopherCtes},
       |surv AS (
       |  SELECT l.doc_id, l.cluster, q.quality,
       |    row_number() OVER (PARTITION BY l.cluster
       |      ORDER BY q.quality DESC, l.doc_id) = 1 AS survivor
       |  FROM l${Dedup.ResolveRounds} l JOIN quality q ON q.doc_id = l.doc_id)
       |SELECT s.doc_id, s.cluster, s.quality, g.n_words
       |FROM surv s JOIN gate g ON g.doc_id = s.doc_id
       |WHERE s.survivor AND g.passes
       |ORDER BY s.doc_id""".stripMargin)) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(desc("quality"), col("doc_id"))
    Dedup.clusterLabels(s, dir)
      .join(TextAnalysis.qualityDf(s, dir).select("doc_id", "quality"), Seq("doc_id"))
      .withColumn("survivor", row_number().over(w) === 1)
      .join(TextAnalysis.gopherDf(s, dir).select("doc_id", "n_words", "passes"),
        Seq("doc_id"))
      .filter(col("survivor") && col("passes"))
      .select("doc_id", "cluster", "quality", "n_words")
      .orderBy("doc_id")
  }

  /** Source-calibrated quality selection: rank each document's quality
    * WITHIN its source (percent_rank) and keep the top half per source —
    * the domain-balancing move every mixed-corpus pipeline needs, because
    * one absolute quality threshold over heterogeneous sources just deletes
    * the hardest domain (a web-crawl doc and a reference-manual doc don't
    * share a quality scale).
    *
    * Plan shape: one doc-keyed join (quality ⨝ source) then a window
    * PARTITIONED BY source — per-source sorts, never a global one. Sources
    * are numerous and individually bounded in a real corpus.
    * Ties are broken by doc_id so rank — and therefore the percentile and
    * the hash gate — is deterministic cross-engine.
    */
  private val qualityCalibrated = q("pipe_quality_calibrated",
    withDocs(s""", ${TextAnalysis.qualitySql}
       |SELECT q.doc_id, d.source, q.quality,
       |  percent_rank() OVER (PARTITION BY d.source
       |    ORDER BY q.quality, q.doc_id) AS src_pctl,
       |  percent_rank() OVER (PARTITION BY d.source
       |    ORDER BY q.quality, q.doc_id) >= 0.5 AS selected
       |FROM quality q JOIN documents d ON d.doc_id = q.doc_id
       |ORDER BY q.doc_id""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("quality", "doc_id")
    TextAnalysis.qualityDf(s, dir).select("doc_id", "quality")
      .join(graft.Tables.t(s, dir, "documents").select("doc_id", "source"),
        Seq("doc_id"))
      .withColumn("src_pctl", percent_rank().over(w))
      .withColumn("selected", col("src_pctl") >= 0.5)
      .select("doc_id", "source", "quality", "src_pctl", "selected")
      .orderBy("doc_id")
  }

  /** Temperature-flattened source mixing — the multilingual/multi-domain
    * rebalancing rule (sample sources ∝ size^α, α = 1/2 here): raw
    * proportional sampling lets the largest source drown the rest, uniform
    * sampling over-trains tiny ones; the α-power compromise is the standard
    * curriculum knob. Emits per source its doc/token mass, the flattened
    * sampling share, and the effective epochs over that source when filling
    * a 1M-token training budget at that share — epochs > 1 is the "this
    * source will be memorized" warning a mix designer reads off.
    *
    * Scale shape: one corpus pass folding to a |sources|-row aggregate
    * (map-side combinable count/sum), then arithmetic on the tiny table —
    * nothing corpus-sized moves. Exactness: α = 1/2 is applied as the
    * INTEGER sqrt (floor(sqrt(tokens)) — IEEE sqrt is correctly rounded,
    * floor is exact), so weights and their sum are exact BIGINTs and the
    * final shares/epochs are single deterministic double divisions — no
    * order-dependent float accumulation anywhere.
    */
  private val mixTemperature = q("pipe_mix_temperature",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |agg AS (
       |  SELECT d.source, count(*)::BIGINT AS n_docs,
       |    sum(len(w.w))::BIGINT AS n_tokens
       |  FROM words w JOIN documents d ON d.doc_id = w.doc_id
       |  GROUP BY d.source),
       |wt AS (SELECT source, n_docs, n_tokens,
       |         floor(sqrt(n_tokens::DOUBLE))::BIGINT AS weight FROM agg),
       |tot AS (SELECT sum(weight)::BIGINT AS wsum FROM wt)
       |SELECT source, n_docs, n_tokens, weight,
       |  weight::DOUBLE / wsum AS share,
       |  weight::DOUBLE / wsum * 1000000 / n_tokens AS epochs_at_1m
       |FROM wt, tot ORDER BY source""".stripMargin) { (s, dir) =>
    val agg = docTokens(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"))
    val wt = agg.withColumn("weight",
      floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = wt.agg(sum("weight").as("wsum"))
    wt.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        (col("weight").cast("double") / col("wsum")).as("share"),
        (col("weight").cast("double") / col("wsum") * 1000000 / col("n_tokens"))
          .as("epochs_at_1m"))
      .orderBy("source")
  }

  /** Epoch-annealed mixing SCHEDULE — the grid a multi-epoch training run
    * actually consumes: epoch 0 samples sources at their NATURAL token
    * share (weight = n_tokens), the final epoch at the
    * [[mixTemperature]]-flattened share (weight = ⌊√n_tokens⌋), and the
    * epochs between linearly interpolate the two weights — the standard
    * "start natural, anneal toward flat" curriculum that keeps early
    * training on-distribution and late training diverse. One row per
    * (epoch, source) with the exact integer token budget at 1M
    * tokens/epoch: `w·1e6 div Σw` — integer end to end, shares are one
    * division each.
    *
    * Scale shape: one per-source census (map-combinable), a 4-row epoch
    * dimension crossed broadcast, per-epoch weight sums joined back
    * broadcast — |sources|×|epochs| rows, corpus scanned once.
    */
  private val Epochs = 4
  private val mixSchedule = q("pipe_mix_schedule",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |agg AS (
       |  SELECT d.source, sum(len(w.w))::BIGINT AS n_tokens
       |  FROM words w JOIN documents d ON d.doc_id = w.doc_id
       |  GROUP BY d.source),
       |wt AS (SELECT source, n_tokens,
       |         floor(sqrt(n_tokens::DOUBLE))::BIGINT AS flat FROM agg),
       |grid AS (
       |  SELECT g.e::BIGINT AS epoch, source, n_tokens,
       |    (n_tokens * (${Epochs - 1} - g.e) + flat * g.e)::BIGINT AS w
       |  FROM wt, generate_series(0, ${Epochs - 1}) g(e)),
       |tot AS (SELECT epoch, sum(w)::BIGINT AS wsum FROM grid GROUP BY epoch)
       |SELECT g.epoch, g.source, g.n_tokens, g.w,
       |  g.w::DOUBLE / t.wsum AS share,
       |  (g.w * 1000000 // t.wsum)::BIGINT AS tokens_at_1m
       |FROM grid g JOIN tot t USING (epoch)
       |ORDER BY epoch, source""".stripMargin) { (s, dir) =>
    val agg = docTokens(s, dir)
      .groupBy("source").agg(sum("t").as("n_tokens"))
    val wt = agg.withColumn("flat",
      floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val epochs = s.range(0, Epochs).select(col("id").as("epoch"))
    val grid = wt.crossJoin(broadcast(epochs))
      .select(col("epoch"), col("source"), col("n_tokens"),
        (col("n_tokens") * (lit(Epochs - 1) - col("epoch"))
          + col("flat") * col("epoch")).as("w"))
    val tot = grid.groupBy("epoch").agg(sum("w").as("wsum"))
    grid.join(broadcast(tot), Seq("epoch"))
      .select(col("epoch"), col("source"), col("n_tokens"), col("w"),
        (col("w").cast("double") / col("wsum")).as("share"),
        expr("(w * 1000000) div wsum").as("tokens_at_1m"))
      .orderBy("epoch", "source")
  }

  /** DSIR-shaped importance selection (hashed-n-gram importance resampling:
    * score raw-pool documents by how much more likely their hashed word
    * features are under a small TARGET domain's unigram distribution than
    * under the rest of the pool, then keep the ones that lean target-ward).
    * Target here is the `src0` source; every other source is the raw pool.
    *
    * Scale shape — this is the whole reason DSIR works at corpus scale:
    * the model is just two hashed-feature histograms. One map-combinable
    * aggregate builds the 256-bucket target/pool census, the per-bucket
    * smoothed log-ratio table is 256 rows (broadcast), and scoring is a
    * map-side broadcast join + one doc-keyed aggregate. Two passes over the
    * corpus total, no wide shuffle beyond the per-doc rollup.
    *
    * Exactness: the only transcendental (ln) runs once per BUCKET (256
    * evals, not per word), is rounded to 6 decimals, and lands in
    * DECIMAL(18,6); per-doc scores are exact decimal sums of those — fully
    * order-independent, so both engines hash-match bit for bit. The final
    * DOUBLE cast is one deterministic conversion per row.
    */
  private val dsir = {
    val B = 256
    val target = "src0"
    q("pipe_select_dsir",
      s"""WITH ddocs AS (
         |  SELECT doc_id, source = '$target' AS tgt,
         |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
         |  FROM documents),
         |dfeat AS (
         |  SELECT doc_id, tgt, ${sqlHash64("word")} % $B AS f
         |  FROM (SELECT doc_id, tgt, unnest(string_split(norm, ' ')) AS word
         |        FROM ddocs)),
         |bc AS (
         |  SELECT f,
         |    sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS ct,
         |    sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END)::BIGINT AS cs
         |  FROM dfeat GROUP BY f),
         |tot AS (SELECT sum(ct)::BIGINT AS nt, sum(cs)::BIGINT AS ns FROM bc),
         |lr AS (
         |  SELECT f, round(ln(((ct + 1)::DOUBLE / (nt + $B))
         |      / ((cs + 1)::DOUBLE / (ns + $B))), 6)::DECIMAL(18,6) AS lr
         |  FROM bc, tot)
         |SELECT d.doc_id, count(*)::BIGINT AS n_feats,
         |  sum(lr.lr)::DOUBLE AS dsir_score,
         |  sum(lr.lr) > 0 AS selected
         |FROM dfeat d JOIN lr USING (f)
         |WHERE NOT d.tgt
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val feat = graft.Tables.t(s, dir, "documents")
        .select(col("doc_id"), (col("source") === target).as("tgt"),
          explode(org.apache.spark.sql.functions.split(
            normText(col("text")), " ")).as("word"))
        .select(col("doc_id"), col("tgt"),
          (hash64(col("word")) % B).as("f"))
      // the 256-row census feeds both the totals and the log-ratio table;
      // memoized so the corpus is scanned once for it, not twice
      val bc = graft.Caches.fragment(s, dir, "dsirCensus") {
        feat.groupBy("f").agg(
          sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
          sum(when(!col("tgt"), 1L).otherwise(0L)).as("cs"))
      }
      val tot = bc.agg(sum("ct").as("nt"), sum("cs").as("ns"))
      val lr = bc.crossJoin(broadcast(tot))
        .select(col("f"),
          round(log(((col("ct") + 1).cast("double") / (col("nt") + B))
            / ((col("cs") + 1).cast("double") / (col("ns") + B))), 6)
            .cast("decimal(18,6)").as("lr"))
      feat.filter(!col("tgt"))
        .join(broadcast(lr), Seq("f"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"), sum(col("lr")).as("s"))
        .select(col("doc_id"), col("n_feats"),
          col("s").cast("double").as("dsir_score"),
          (col("s") > 0).as("selected"))
        .orderBy("doc_id")
    }
  }

  /** Epoch-capped token-budget allocation — the sampling-proportions table
    * a pretraining run is actually configured from: given a total token
    * budget (half the corpus here) and temperature-flattened source weights
    * (floor-sqrt, like [[mixTemperature]]), allocate tokens per source
    * subject to a hard repeat cap (≤2 epochs of any source), water-filling
    * in fixed rounds: each round hands the unallocated remainder to the
    * still-uncapped sources in weight proportion, and sources that hit
    * their cap drop out of the next round's denominator. Three rounds is
    * the oracle-replayable fixed form; the fixpoint variant just loops the
    * same step.
    *
    * Scale shape: ONE corpus pass builds the per-source token census; every
    * round after that runs on the source table (sources, not documents —
    * 20 rows here, thousands at worst) with two scalar aggregates riding
    * broadcasts. Exactness: allocations stay integral — gives are
    * `floor(remainder × weight / active_weight)` computed in decimal/
    * hugeint so the product can't overflow at corpus scale, and the only
    * doubles are the final reported epochs (one division, rounded).
    */
  /** Oracle CTE chain ending in `a3 (source, n_tokens, weight, cap, alloc)` —
    * the water-filled allocation table. Shared verbatim by
    * `pipe_token_budget` and `pipe_budget_sample` so the two oracles cannot
    * drift. Requires `docs`/`words` CTEs in scope.
    */
  private val allocCtes: String = {
    val roundSql = (i: Int) =>
      s"""rem$i AS (
         |  SELECT t.budget - sum(a.alloc) AS r FROM a${i - 1} a, tot t
         |  GROUP BY t.budget),
         |aw$i AS (
         |  SELECT coalesce(sum(weight), 0)::BIGINT AS w
         |  FROM a${i - 1} WHERE alloc < cap),
         |a$i AS (
         |  SELECT a.source, a.n_tokens, a.weight, a.cap,
         |    CASE WHEN a.alloc >= a.cap OR aw.w = 0 THEN a.alloc
         |         ELSE least(a.cap,
         |           a.alloc + CAST((rem.r::HUGEINT * a.weight) // aw.w AS BIGINT))
         |    END AS alloc
         |  FROM a${i - 1} a, rem$i rem, aw$i aw)""".stripMargin
    s"""agg AS (
       |  SELECT d.source, sum(len(w.w))::BIGINT AS n_tokens
       |  FROM words w JOIN documents d ON d.doc_id = w.doc_id
       |  GROUP BY d.source),
       |base AS (
       |  SELECT source, n_tokens,
       |    floor(sqrt(n_tokens::DOUBLE))::BIGINT AS weight,
       |    2 * n_tokens AS cap
       |  FROM agg),
       |tot AS (SELECT (sum(n_tokens) // 2)::BIGINT AS budget FROM base),
       |a0 AS (SELECT source, n_tokens, weight, cap, 0::BIGINT AS alloc FROM base),
       |${(1 to 3).map(roundSql).mkString(",\n")}""".stripMargin
  }

  /** Per-doc token counts `(doc_id, source, t)` — the one corpus pass the
    * budget queries share. One SCAN, zero joins: doc_id, source, and the
    * word count all project out of the same parquet row (the oracle spells
    * it as words⨝documents, but the Spark plan needn't — results are
    * identical and the scan already reads the row). */
  private[pipeline] def docTokens(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(org.apache.spark.sql.functions.split(normText(col("text")), " "))
          .cast("long").as("t"))

  /** Max census rows [[allocationOf]] collects for the driver water-fill;
    * a larger census takes the truncated in-plan rounds. */
  private val AllocSourceGate = 65536

  /** Spark twin of [[allocCtes]]: `(source, n_tokens, weight, cap, alloc)`
    * from a [[docTokens]]-shaped frame. Sources-table sized (the corpus
    * pass is only the token census, and the caller supplies it so a
    * consumer that also needs per-doc counts pays for it once).
    *
    * The water-fill rounds run ON THE DRIVER over the collected census —
    * but the collect is GATED, not assumed (the gatherUnder discipline):
    * one bounded job pulls at most gate+1 census rows; a clipped result
    * means the source dimension outgrew the bound, and the identical
    * rounds run distributed instead — per round one aggregate for
    * (remaining budget, active weight), broadcast back into the ≤|sources|
    * frame, lineage truncated per round so the plan cannot triple
    * (the 242-Exchange disease the driver loop originally replaced).
    * Sources are a dimension table (20 here, thousands at worst), so the
    * driver path is the one that runs in practice; the gate makes the
    * 100 TB claim mechanical instead of rhetorical. NOTE the gate probe is
    * eager (a bounded census job at DataFrame-construction time) — plan
    * audits on the token-budget cards execute the census to build the plan.
    *
    * Algebra identical on both paths: gives are
    * `min(cap, alloc + (rem·weight) div active_weight)` with the product
    * exact — BigInt on the driver, DECIMAL(38,0) with integral `DIV` in
    * plan — matching the oracle's HUGEINT; same 3 rounds.
    */
  private[graft] def allocationOf(dt: org.apache.spark.sql.DataFrame,
      gate: Int = AllocSourceGate): org.apache.spark.sql.DataFrame = {
    val s = dt.sparkSession
    import s.implicits._
    val census = dt.groupBy("source").agg(sum("t").as("n_tokens"))
    val head = census.limit(gate + 1).collect()
    if (head.length <= gate) {
      var rows = head.map { r =>
        val nt = r.getLong(1)
        (r.getString(0), nt,
          math.floor(math.sqrt(nt.toDouble)).toLong, 2L * nt, 0L)
      }.toSeq
      val budget = rows.map(_._2).sum / 2
      var round = 0
      while (round < 3) {
        val rem = budget - rows.map(_._5).sum
        val aw = rows.collect { case t if t._5 < t._4 => t._3 }.sum
        rows = rows.map { case (src, nt, w, cap, alloc) =>
          val next = if (alloc >= cap || aw == 0L) alloc
            else math.min(cap, alloc + (BigInt(rem) * w / aw).toLong)
          (src, nt, w, cap, next)
        }
        round += 1
      }
      rows.toDF("source", "n_tokens", "weight", "cap", "alloc")
    } else {
      var a = census.select(col("source"), col("n_tokens"),
        floor(sqrt(col("n_tokens").cast("double"))).cast("long").as("weight"),
        (col("n_tokens") * 2).as("cap"))
        .withColumn("alloc", lit(0L))
      var round = 0
      while (round < 3) {
        val t = graft.Iterative.truncate(a)
        val stats = t.agg(
          expr("sum(n_tokens) div 2 - sum(alloc)").as("rem"),
          coalesce(sum(when(col("alloc") < col("cap"), col("weight"))), lit(0L))
            .as("aw"))
        a = t.crossJoin(broadcast(stats)).select(
          col("source"), col("n_tokens"), col("weight"), col("cap"),
          when(col("alloc") >= col("cap") || col("aw") === 0L, col("alloc"))
            .otherwise(least(col("cap"), col("alloc") +
              expr("CAST((CAST(rem AS DECIMAL(38,0)) * weight) DIV aw AS BIGINT)")))
            .as("alloc"))
        round += 1
      }
      a
    }
  }

  private val tokenBudget =
    q("pipe_token_budget",
      s"""WITH $docsNormCte,
         |$wordsCte,
         |$allocCtes
         |SELECT source, n_tokens, cap, alloc,
         |  round(alloc::DOUBLE / n_tokens, 6) AS epochs,
         |  alloc >= cap AS capped
         |FROM a3 ORDER BY source""".stripMargin) { (s, dir) =>
      allocationOf(docTokens(s, dir))
        .select(col("source"), col("n_tokens"), col("cap"), col("alloc"),
          round(col("alloc").cast("double") / col("n_tokens"), 6).as("epochs"),
          (col("alloc") >= col("cap")).as("capped"))
        .orderBy("source")
    }

  /** Materialize the [[tokenBudget]] allocation into the actual sampled
    * epoch plan — per document, how many copies enter the training run.
    * `alloc div n_tokens` full epochs go to every document of the source;
    * the remainder (`alloc mod n_tokens`) is filled by the deterministic
    * hash-order prefix of the source's documents: order by
    * `(hash64(doc_id), doc_id)` and keep documents whose running token sum
    * stays within the remainder. So `copies = full + (cum <= partial)`,
    * and only docs with `copies > 0` appear — this is the document-level
    * repetition plan (which docs repeat, which appear once, which are cut)
    * that closes the loop from allocation table to corpus.
    *
    * Scale shape: one corpus pass for per-doc token counts, the
    * allocation table rides a broadcast into the doc join, and the prefix
    * sum is a window PARTITIONED BY source — per-source state, never a
    * global window. A corpus that is one giant source would swap the
    * window for the bucketed two-phase prefix sum ([[pack]]'s
    * `bucketBases` machinery, Curation.scala:179) — same result, 64-way
    * parallel.
    */
  private val budgetSample =
    q("pipe_budget_sample",
      s"""WITH $docsNormCte,
         |$wordsCte,
         |$allocCtes,
         |dt AS (
         |  SELECT d.doc_id, d.source, len(w.w)::BIGINT AS t,
         |    ${sqlHash64("d.doc_id::VARCHAR")} AS h
         |  FROM words w JOIN documents d ON d.doc_id = w.doc_id),
         |cum AS (
         |  SELECT dt.doc_id, dt.source, dt.t,
         |    a.alloc // a.n_tokens AS n_full,
         |    a.alloc % a.n_tokens AS n_partial,
         |    sum(dt.t) OVER (PARTITION BY dt.source
         |      ORDER BY dt.h, dt.doc_id
         |      ROWS UNBOUNDED PRECEDING) AS c
         |  FROM dt JOIN a3 a ON a.source = dt.source)
         |SELECT doc_id, source, t AS n_tokens,
         |  (n_full + CASE WHEN c <= n_partial THEN 1 ELSE 0 END)::BIGINT AS copies
         |FROM cum
         |WHERE n_full + CASE WHEN c <= n_partial THEN 1 ELSE 0 END > 0
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // ONE corpus pass: the same per-doc frame feeds both the census
      // behind the allocation and the prefix-sum materialization
      val dt = docTokens(s, dir)
        .withColumn("h", hash64(col("doc_id").cast("string")))
        .transform(graft.Iterative.truncate)
      val alloc = allocationOf(dt)
        .select(col("source"), expr("alloc div n_tokens").as("n_full"),
          (col("alloc") % col("n_tokens")).as("n_partial"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dt.join(broadcast(alloc), Seq("source"))
        .withColumn("c", sum("t").over(w))
        .withColumn("copies",
          (col("n_full") + when(col("c") <= col("n_partial"), 1L).otherwise(0L))
            .cast("long"))
        .filter(col("copies") > 0)
        .select(col("doc_id"), col("source"), col("t").as("n_tokens"),
          col("copies"))
        .orderBy("doc_id")
    }

  /** Pareto-frontier (skyline) selection over (quality, rarity) — the
    * non-parametric "best of both" pick: a document is selected iff NO other
    * document strictly dominates it (higher quality with at-least-equal
    * rarity, or equal quality with strictly higher rarity). Unlike the
    * calibrated/threshold selections, the skyline needs no weights or
    * cutoffs — it IS the set of optimal trade-offs, the classic skyline
    * operator (Börzsönyi et al. 2001) Spark has no built-in for.
    *
    * Distributed shape — dominance is resolved in three bounded steps, no
    * global sort or window anywhere:
    * 1. quality is banded into ≤1024 integer bands; a per-band max-rarity
    *    census (map-combinable) and its strictly-higher-band prefix max
    *    (a triangular join over the ≤1024-row band table, broadcast) kill
    *    every point dominated from a HIGHER band in one map-side compare;
    * 2. within a band, a window PARTITIONED by band with a RANGE frame
    *    over strictly-higher quality resolves intra-band dominance;
    * 3. a (band, quality) partition max resolves equal-quality ties.
    * Both coordinates are exact integer nano-units (one floor of identical
    * doubles per engine), so dominance is integer comparison end to end.
    */
  private val pareto = q("pipe_select_pareto",
    withDocs(s""", ${TextAnalysis.qualitySql},
       |wx AS (SELECT doc_id, unnest(w) AS word FROM words),
       |freq AS (SELECT word, count(*)::BIGINT AS f FROM wx GROUP BY word),
       |thr AS (SELECT (sum(f) // count(*))::BIGINT AS mean_f FROM freq),
       |rare AS (SELECT word FROM freq, thr WHERE f < mean_f),
       |perdoc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_rare
       |  FROM wx JOIN rare USING (word) GROUP BY doc_id),
       |pts AS (
       |  SELECT q.doc_id,
       |    CAST(floor(q.quality * 1000000000 + 0.5) AS BIGINT) AS quality_nano,
       |    CAST(floor(coalesce(r.n_rare, 0)::DOUBLE / q.n_words * 1000000000
       |      + 0.5) AS BIGINT) AS rarity_nano
       |  FROM quality q LEFT JOIN perdoc r USING (doc_id))
       |SELECT p.doc_id, p.quality_nano, p.rarity_nano
       |FROM pts p
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM pts o
       |  WHERE (o.quality_nano > p.quality_nano
       |         AND o.rarity_nano >= p.rarity_nano)
       |     OR (o.quality_nano = p.quality_nano
       |         AND o.rarity_nano > p.rarity_nano))
       |ORDER BY quality_nano DESC, doc_id""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // fanOut + truncate: the normalize+split+explode pass feeds both the
    // global frequency census and the per-doc rare count — parallelize it
    // off the one-task scan and materialize it once (profiled as two
    // ~300 ms single-task stages)
    val dw = graft.Tables.fanOut(
        graft.Tables.t(s, dir, "documents").select("doc_id", "text"),
        col("doc_id"))
      .select(col("doc_id"),
        org.apache.spark.sql.functions.split(normText(col("text")), " ")
          .as("w"))
    val wx = dw.select(col("doc_id"), explode(col("w")).as("word"))
      .transform(graft.Iterative.truncate)
    // freq feeds the mean threshold AND the rare-word list — truncate so
    // the corpus-wide word census aggregates once, not twice (guide §2.4)
    val freq = wx.groupBy("word").agg(count(lit(1)).as("f"))
      .transform(graft.Iterative.truncate)
    val thr = freq.agg(expr("sum(f) div count(1)").as("mean_f"))
    val rare = freq.crossJoin(broadcast(thr))
      .filter(col("f") < col("mean_f")).select("word")
    val perDoc = wx.join(rare, Seq("word"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
    val pts = TextAnalysis.qualityDf(s, dir)
      .select(col("doc_id"), col("quality"), col("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        floor(col("quality") * lit(1000000000.0) + lit(0.5)).as("qi"),
        floor(coalesce(col("n_rare"), lit(0L)).cast("double") / col("n_words")
          * lit(1000000000.0) + lit(0.5)).as("ri"))
      .withColumn("band", expr("qi div 1048576")) // qi >> 20: <=954 bands
      // pts feeds the band census AND the final dominance pass — truncate
      // so the rarity join chain runs once (guide §2.4)
      .transform(graft.Iterative.truncate)
    // both sides of the triangular prefix-max join read this ≤954-row
    // rollup — truncate so the corpus-sized pts pass aggregates once
    val bandMax = pts.groupBy("band").agg(max("ri").as("bmax"))
      .transform(graft.Iterative.truncate)
    // strictly-higher-band prefix max: triangular join over the bounded
    // band table (broadcast both sides; never touches the corpus)
    val hi = bandMax.as("a")
      .join(broadcast(bandMax.select(col("band").as("hb"),
        col("bmax").as("hmax"))), col("hb") > col("a.band"))
      .groupBy(col("a.band").as("band")).agg(max(col("hmax")).as("himax"))
    val wInBand = Window.partitionBy("band").orderBy(col("qi"))
      .rangeBetween(1L, Window.unboundedFollowing)
    val wSameQ = Window.partitionBy("band", "qi")
    pts.join(broadcast(hi), Seq("band"), "left")
      .withColumn("inbandmax", max("ri").over(wInBand))
      .withColumn("sameqmax", max("ri").over(wSameQ))
      .filter((col("himax").isNull || col("himax") < col("ri")) &&
        (col("inbandmax").isNull || col("inbandmax") < col("ri")) &&
        col("sameqmax") === col("ri"))
      .select(col("doc_id"), col("qi").as("quality_nano"),
        col("ri").as("rarity_nano"))
      .orderBy(desc("quality_nano"), col("doc_id"))
  }

  val all: Seq[GQuery] = Seq(sample, split, corpus, mix, pack, shuffle, chunks,
    stats, lenHist, corpusFinal, qualityCalibrated, dsir, mixTemperature,
    mixSchedule, tokenBudget, budgetSample, curriculum, packEfficiency,
    sourceDrift, pareto)
}
