package graft.pipeline

import org.apache.spark.sql.functions._

import graft.queries.{q, GQuery}

/** Text-analysis operators over `documents`: language-ID (stopword n-gram
  * heuristic), quality scoring, token counting (whitespace + BPE-ish regex),
  * and document fingerprinting. All are single-scan, shuffle-free per-row
  * transforms (the 100 TB shape: map-only stage, fully codegen'd built-ins,
  * no UDFs).
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the heuristic language ID. */
  private val stops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "que", "y", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  private def inList(vals: Seq[String]): String =
    vals.map(v => s"'$v'").mkString("(", ", ", ")")

  /** Language ID: stopword-hit ratio per candidate language, argmax with a
    * fixed priority order for ties. (The shipped `lang` column is synthetic
    * metadata — the operator demonstrates the detection computation itself,
    * and the oracle replicates it.)
    */
  private val langId = {
    val scoreSql = stops.map { case (l, ws) =>
      s"len(list_filter(w, x -> x IN ${inList(ws)}))::DOUBLE / len(w) AS s_$l"
    }.mkString(",\n  ")
    val caseSql = stops.init.map { case (l, _) =>
      val geAll = stops.filter(_._1 != l).map(o => s"s_$l >= s_${o._1}").mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }.mkString(" ")
    q("pipe_text_langid",
      s"""WITH $docsNormCte,
         |$wordsCte,
         |scored AS (
         |  SELECT doc_id,
         |  $scoreSql
         |  FROM words WHERE len(w) > 0)
         |SELECT doc_id, s_en, s_de, s_es, s_fr,
         |  CASE $caseSql ELSE '${stops.last._1}' END AS lang_guess
         |FROM scored ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val scores = stops.map { case (l, ws) =>
        expr(s"size(filter(w, x -> x IN ${inList(ws)}))").cast("double")
          ./(size(col("w"))).as(s"s_$l")
      }
      val caseExpr = stops.init.map { case (l, _) =>
        val geAll = stops.filter(_._1 != l).map(o => s"s_$l >= s_${o._1}").mkString(" AND ")
        s"WHEN $geAll THEN '$l'"
      }.mkString("CASE ", " ", s" ELSE '${stops.last._1}' END")
      docWords(s, dir).filter(size(col("w")) > 0)
        .select(col("doc_id") +: scores: _*)
        .withColumn("lang_guess", expr(caseExpr))
        .orderBy("doc_id")
    }
  }

  /** The quality CTE body (shared with the corpus-selection composition in
    * [[Curation]]): per-doc length/word/stopword/punctuation stats + the
    * composite score. Expects `docs`/`words` CTEs in scope.
    */
  val qualitySql: String =
    s"""base AS (
       |  SELECT d.doc_id,
       |    len(d.text) AS n_chars,
       |    len(w.w) AS n_words,
       |    len(replace(ww.norm, ' ', ''))::DOUBLE / len(w.w) AS avg_word_len,
       |    len(list_filter(w.w, x -> x IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE / len(w.w) AS stopword_ratio,
       |    (len(d.text) - len(regexp_replace(d.text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE / len(d.text) AS punct_ratio
       |  FROM documents d JOIN words w ON w.doc_id = d.doc_id
       |  JOIN docs ww ON ww.doc_id = d.doc_id
       |  WHERE len(w.w) > 0 AND len(d.text) > 0),
       |quality AS (
       |  SELECT doc_id, n_chars, n_words, avg_word_len, stopword_ratio, punct_ratio,
       |    0.4 * stopword_ratio + 0.4 * (1.0 - punct_ratio)
       |      + 0.2 * (CASE WHEN n_words >= 50 THEN 1.0 ELSE n_words / 50.0 END) AS quality
       |  FROM base)""".stripMargin

  /** Spark twin of [[qualitySql]]: (doc_id, n_chars, n_words, avg_word_len,
    * stopword_ratio, punct_ratio, quality). Memoized fragment — five
    * registered queries (quality itself, survivor, corpus_final, calibrated
    * selection, corpus select) compose over it; the cached frame is a few
    * narrow numeric columns per doc, far cheaper than re-tokenizing the
    * corpus per consumer.
    */
  def qualityDf(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.Caches.fragment(s, dir, "text_quality") {
      qualityOf(graft.Tables.fanOut(
          graft.Tables.t(s, dir, "documents").select("doc_id", "text"),
          col("doc_id")))
        .drop("text")
    }

  /** Frame-generic quality scorer: appends the metric columns
    * (n_chars/n_words/avg_word_len/stopword_ratio/punct_ratio/quality) to
    * ANY frame carrying a `text` column, preserving its other columns.
    * Pure map-side expressions, so the same plan fragment runs over a
    * batch table (where [[qualityDf]] memoizes it) or an unbounded stream
    * with scores identical to the batch oracle's.
    */
  def qualityOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(length(col("text")) > 0)
      .withColumn("__norm", normText(col("text")))
      .withColumn("__w", split(col("__norm"), " "))
      .filter(size(col("__w")) > 0)
      .withColumn("n_chars", length(col("text")))
      .withColumn("n_words", size(col("__w")))
      .withColumn("avg_word_len",
        length(regexp_replace(col("__norm"), " ", "")).cast("double")
          / size(col("__w")))
      .withColumn("stopword_ratio",
        expr("size(filter(__w, x -> x IN ('the', 'a', 'of', 'and', 'to')))")
          .cast("double") / size(col("__w")))
      .withColumn("punct_ratio",
        (length(col("text")) - length(regexp_replace(col("text"),
          "[^a-zA-Z0-9 ]", ""))).cast("double") / length(col("text")))
      .withColumn("quality",
        lit(0.4) * col("stopword_ratio") + lit(0.4) * (lit(1.0) - col("punct_ratio"))
          + lit(0.2) * when(col("n_words") >= 50, 1.0).otherwise(col("n_words") / 50.0))
      .drop("__norm", "__w")

  /** Quality scoring: length, word stats, stopword ratio, punctuation ratio,
    * and a deterministic composite score — the heuristics a pretraining
    * pipeline filters on.
    */
  private val quality = q("pipe_text_quality",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |$qualitySql
       |SELECT doc_id, n_chars, n_words, avg_word_len, stopword_ratio, punct_ratio,
       |  quality
       |FROM quality ORDER BY doc_id""".stripMargin) { (s, dir) =>
    qualityDf(s, dir).orderBy("doc_id")
  }

  /** Token counting: whitespace tokens and a BPE-ish regex tokenizer
    * (letter runs | digit runs | single punctuation).
    */
  private val tokens = q("pipe_text_tokens",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
      |  len(text) AS n_chars,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::DOUBLE * 100.0 / len(text) AS tokens_per_100chars
      |FROM documents WHERE len(text) > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val pat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    graft.Tables.t(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(
        col("doc_id"),
        size(split(col("text"), " ", -1)).as("ws_tokens"),
        size(expr(s"regexp_extract_all(lower(text), '$pat', 0)")).as("bpe_tokens"),
        length(col("text")).as("n_chars"),
        (size(expr(s"regexp_extract_all(lower(text), '$pat', 0)")).cast("double")
          * 100.0 / length(col("text"))).as("tokens_per_100chars"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: an order-independent 60-bit XOR fingerprint over
    * the distinct-word hashes, plus a SHA-256 of the canonical (sorted
    * distinct words) form — the cheap pre-filter pair for content identity.
    */
  private val fingerprint = q("pipe_text_fingerprint",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |dw AS (
       |  SELECT DISTINCT doc_id, word FROM (SELECT doc_id, unnest(w) AS word FROM words)),
       |xorfp AS (
       |  SELECT doc_id, bit_xor(${sqlHash64("word")}) AS fp_xor FROM dw GROUP BY doc_id)
       |SELECT x.doc_id, x.fp_xor,
       |  sha256(array_to_string(list_sort(list_distinct(w.w)), ' ')) AS fp_sha
       |FROM xorfp x JOIN words w ON w.doc_id = x.doc_id
       |ORDER BY x.doc_id""".stripMargin) { (s, dir) =>
    // XOR is order-independent, so the fingerprint folds per ROW with a
    // higher-order aggregate over the distinct-word array — map-only, zero
    // shuffles, no explode and no rejoin (the previous shape exploded 10M+
    // word rows through an exchange and joined the two halves back)
    docWords(s, dir)
      .withColumn("dw", array_distinct(col("w")))
      .select(col("doc_id"),
        aggregate(transform(col("dw"), w => hash64(w)), lit(0L),
          (acc, h) => acc.bitwiseXOR(h)).as("fp_xor"),
        sha2(array_join(array_sort(col("dw")), " "), 256).as("fp_sha"))
      .orderBy("doc_id")
  }

  /** Repetition signal (the Gopher/RefinedWeb-style quality heuristic):
    * duplicate-word and duplicate-bigram fractions per document, plus the
    * filter flag a pretraining pipeline gates on. Map-only per-row math on
    * the word array — no shuffle at any scale.
    */
  private val repetition = q("pipe_text_repetition",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |bg AS (
       |  SELECT doc_id, w,
       |    CASE WHEN len(w) < 2 THEN []::VARCHAR[]
       |         ELSE list_transform(generate_series(1, len(w) - 1),
       |                i -> w[i] || ' ' || w[i + 1]) END AS b
       |  FROM words WHERE len(w) > 0)
       |SELECT doc_id,
       |  1.0 - len(list_distinct(w))::DOUBLE / len(w) AS dup_word_frac,
       |  CASE WHEN len(b) = 0 THEN 0.0
       |       ELSE 1.0 - len(list_distinct(b))::DOUBLE / len(b) END AS dup_bigram_frac,
       |  (CASE WHEN len(b) = 0 THEN 0.0
       |        ELSE 1.0 - len(list_distinct(b))::DOUBLE / len(b) END) > 0.5 AS repetitive
       |FROM bg ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bigrams = expr(
      "CASE WHEN size(w) < 2 THEN array() ELSE transform(sequence(1, size(w) - 1), " +
        "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1))) END")
    val dupBg = when(size(col("b")) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(col("b"))).cast("double") / size(col("b")))
    docWords(s, dir).filter(size(col("w")) > 0)
      .withColumn("b", bigrams)
      .select(col("doc_id"),
        (lit(1.0) - size(array_distinct(col("w"))).cast("double") / size(col("w")))
          .as("dup_word_frac"),
        dupBg.as("dup_bigram_frac"),
        (dupBg > 0.5).as("repetitive"))
      .orderBy("doc_id")
  }

  /** Rare-word scoring — the quality signal that needs CORPUS statistics,
    * not just the row: pass 1 aggregates the word-frequency table, pass 2
    * joins it back to score each document by its fraction of below-mean-
    * frequency word occurrences. The frequency table is vocabulary-sized
    * (≪ corpus at any scale) and the scoring join is word-keyed — left to
    * AQE, never force-broadcast, since a 100 TB corpus has a 10M+-word
    * vocabulary. All arithmetic is exact-integer until the single final
    * division, so cross-engine hashes match.
    */
  private val rarity = q("pipe_text_rarity",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |wx AS (SELECT doc_id, unnest(w) AS word FROM words),
       |freq AS (SELECT word, count(*)::BIGINT AS f FROM wx GROUP BY word),
       |thr AS (SELECT (sum(f) // count(*))::BIGINT AS mean_f FROM freq),
       |rare AS (SELECT word FROM freq, thr WHERE f < mean_f),
       |perdoc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_rare
       |  FROM wx JOIN rare USING (word) GROUP BY doc_id)
       |SELECT w.doc_id, len(w.w)::BIGINT AS n_words,
       |  coalesce(r.n_rare, 0) AS n_rare,
       |  coalesce(r.n_rare, 0)::DOUBLE / len(w.w) AS rare_frac
       |FROM words w LEFT JOIN perdoc r USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val dw = docWords(s, dir)
    val wx = dw.select(col("doc_id"), explode(col("w")).as("word"))
    val freq = wx.groupBy("word").agg(count(lit(1)).as("f"))
    val thr = freq.agg(expr("sum(f) div count(1)").as("mean_f"))
    val rare = freq.crossJoin(broadcast(thr))
      .filter(col("f") < col("mean_f")).select("word")
    val perDoc = wx.join(rare, Seq("word"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
    dw.select(col("doc_id"), size(col("w")).cast("long").as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        (coalesce(col("n_rare"), lit(0L)).cast("double") / col("n_words"))
          .as("rare_frac"))
      .orderBy("doc_id")
  }

  /** PII detection + redaction — the compliance pass a training-data
    * pipeline runs before release: count emails / IPv4 addresses / phone
    * numbers per document and hash the redacted text. The shipped corpus is
    * PII-free by construction, so the operator first weaves deterministic
    * synthetic PII into a subset of rows (identical arithmetic in both
    * engines — the detection/redaction logic is what's under test, the same
    * way `mm_*` fabricate media bytes). Patterns avoid regex escapes
    * entirely (`[.]` classes, no `\b`/`\d`) because Spark SQL string
    * literals process backslash escapes and RE2/Java boundary semantics
    * differ at string edges; these spellings parse identically in both.
    * Map-only scan — no shuffle at any scale.
    */
  private val pii = {
    val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
    val ipPat = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
    val phonePat = "555[-][0-9]{4}"
    q("pipe_text_pii",
      s"""WITH aug AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR
         |         || '@mail' || (doc_id % 7)::VARCHAR || '.example.com' ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || (doc_id % 256)::VARCHAR
         |         || '.' || ((doc_id // 251) % 256)::VARCHAR || '.1' ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' call 555-'
         |         || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '$emailPat')) AS n_emails,
         |  len(regexp_extract_all(t, '$ipPat')) AS n_ips,
         |  len(regexp_extract_all(t, '$phonePat')) AS n_phones,
         |  len(regexp_extract_all(t, '$emailPat')) + len(regexp_extract_all(t, '$ipPat'))
         |    + len(regexp_extract_all(t, '$phonePat')) > 0 AS has_pii,
         |  sha256(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$emailPat', '<EMAIL>', 'g'), '$ipPat', '<IP>', 'g'),
         |    '$phonePat', '<PHONE>', 'g')) AS red_sha
         |FROM aug ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail"), (col("doc_id") % 7).cast("string"),
            lit(".example.com"))).otherwise(""),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit("."), (expr("doc_id div 251") % 256).cast("string"),
            lit(".1"))).otherwise(""),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(""))
      def count(pat: String) = size(expr(s"regexp_extract_all(t, '$pat', 0)"))
      graft.Tables.t(s, dir, "documents")
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          count(emailPat).as("n_emails"),
          count(ipPat).as("n_ips"),
          count(phonePat).as("n_phones"),
          (count(emailPat) + count(ipPat) + count(phonePat) > 0).as("has_pii"),
          sha2(regexp_replace(regexp_replace(regexp_replace(col("t"),
            emailPat, "<EMAIL>"), ipPat, "<IP>"),
            phonePat, "<PHONE>"), 256).as("red_sha"))
        .orderBy("doc_id")
    }
  }

  /** TF-IDF top terms per document — the relevance/keyword primitive of a
    * corpus pipeline. Two corpus-level aggregates (per-doc term counts and
    * the vocabulary-sized document-frequency table) joined back on `word`;
    * the df join is word-keyed and left to AQE — at 100 TB the vocabulary is
    * tens of millions of rows, far too big to broadcast but tiny next to the
    * occurrence stream it prunes. Ranking uses only exact-integer keys
    * (in-doc count desc, corpus df asc, word asc) so no float ever decides a
    * row's inclusion; the tfidf score itself — the one log in the engine —
    * is rounded to 6 dp in both dialects because libm and Math.log may
    * differ in the last ulp.
    */
  private val tfidf = q("pipe_text_tfidf",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |wx AS (SELECT doc_id, len(w) AS n_words, unnest(w) AS word
       |       FROM words WHERE len(w) > 0),
       |tf AS (SELECT doc_id, word, max(n_words) AS n_words,
       |         count(*)::BIGINT AS c
       |       FROM wx GROUP BY doc_id, word),
       |df AS (SELECT word, count(DISTINCT doc_id)::BIGINT AS df FROM wx GROUP BY word),
       |n AS (SELECT count(*)::BIGINT AS n_docs FROM words WHERE len(w) > 0),
       |scored AS (
       |  SELECT t.doc_id, t.word, t.c, d.df,
       |    round((t.c::DOUBLE / t.n_words) * ln(n.n_docs::DOUBLE / d.df), 6) AS tfidf,
       |    row_number() OVER (PARTITION BY t.doc_id
       |      ORDER BY t.c DESC, d.df ASC, t.word ASC) AS rk
       |  FROM tf t JOIN df d USING (word) CROSS JOIN n)
       |SELECT doc_id, word, c, df, tfidf
       |FROM scored WHERE rk <= 3 ORDER BY doc_id, word""".stripMargin) { (s, dir) =>
    val wx = docWords(s, dir).filter(size(col("w")) > 0)
      .select(col("doc_id"), size(col("w")).as("n_words"),
        explode(col("w")).as("word"))
    // ONE pass over the occurrence stream: tf has exactly one row per
    // (doc, word), so the document frequency IS count(*) per word over tf
    // and the doc census IS countDistinct(doc_id) over tf (a doc with
    // len(w) > 0 always lands in tf) — both previously replayed the full
    // normalize + explode pass (before-plan: 16 Exchanges / 6 scans). tf is
    // truncated because it feeds the df census, the doc census and the
    // score join (guide §2.4).
    val tf = graft.Iterative.truncate(wx.groupBy("doc_id", "word")
      .agg(max(col("n_words")).as("n_words"), count(lit(1)).as("c")))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("c").desc, col("df").asc, col("word").asc)
    tf.join(df, Seq("word")).crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("word"), col("c"), col("df"),
        round((col("c").cast("double") / col("n_words"))
          * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).drop("rk")
      .orderBy("doc_id", "word")
  }

  /** Bigram language-model familiarity — the n-gram LM scoring stage of a
    * data-quality pipeline (fluent prose reuses common word transitions;
    * boilerplate/gibberish doesn't): score each doc by the mean corpus
    * frequency of its word bigrams. Two shuffles (bigram count, per-doc
    * rollup) + one join on the bigram key; hot bigrams skew that join at
    * 100 TB — AQE skew-split handles it, and the count side is
    * map-side-combined so the hot key ships one partial per partition, not
    * one row per occurrence. Exactness: `sum_freq` and `n_bigrams` are exact
    * BIGINTs, one double division at the end → bit-identical cross-engine.
    */
  private val bigramLm = q("pipe_text_bigram_lm",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |bgs AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
       |  FROM words WHERE len(w) >= 2),
       |cnt AS (SELECT bg, count(*)::BIGINT AS c FROM bgs GROUP BY bg)
       |SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
       |  sum(c.c)::BIGINT AS sum_freq,
       |  sum(c.c)::DOUBLE / count(*) AS familiarity
       |FROM bgs b JOIN cnt c USING (bg)
       |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // ONE explode pass: aggregate to (doc, bg) partials, take the global
    // bigram count as a window sum over bg (exactly Σ partials — the same
    // BIGINT the join-back against a separate census produced), then fold
    // per doc: n_bigrams = Σ ci, sum_freq = Σ ci·c. The census+join-back
    // form ran the explode twice and shuffled the full instance stream
    // into the join (guide §2.4/§3.3)
    val bct = docWords(s, dir).filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"))
        .as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("ci"))
      .withColumn("c", sum(col("ci")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bg")))
    bct.groupBy("doc_id")
      .agg(sum(col("ci")).as("n_bigrams"),
        sum(col("ci") * col("c")).as("sum_freq"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_freq"),
        (col("sum_freq").cast("double") / col("n_bigrams")).as("familiarity"))
      .orderBy("doc_id")
  }

  /** Gopher-style hard rule gate — the pass/fail document filter applied
    * BEFORE any soft quality score in a pretraining pipeline (word-count
    * bounds, mean-word-length bounds, minimum distinct-stopword evidence,
    * and a single-word dominance cap against degenerate/spammy repetition).
    * Emits every rule verdict plus the underlying metric so a corpus report
    * can attribute WHY documents were dropped, not just how many.
    *
    * Scale shape: the dominance metric needs a per-(doc, word) count — that
    * is the explode + two-level aggregate (map-side combinable on both
    * levels), NOT a per-row nested loop over distinct words (O(n·distinct)
    * per document blows up on long documents). Everything else is per-row
    * arithmetic in one scan; the doc-keyed join is co-partitioned with the
    * aggregate output.
    */
  /** The rule-gate CTE chain (expects `docs`/`words` in scope; CTE names are
    * g-prefixed to compose beside [[qualitySql]]): per-(doc, word) counts →
    * per-doc dominant-word count → the `gate` table with every metric, every
    * rule verdict, and the conjunction `passes`.
    */
  val gopherCtes: String =
    s"""gwc AS (
       |  SELECT doc_id, word, count(*) AS c
       |  FROM (SELECT doc_id, unnest(w) AS word FROM words)
       |  GROUP BY doc_id, word),
       |gdom AS (SELECT doc_id, max(c) AS mx FROM gwc GROUP BY doc_id),
       |gm AS (
       |  SELECT d.doc_id,
       |    len(w.w) AS n_words,
       |    len(replace(d.norm, ' ', ''))::DOUBLE / len(w.w) AS avg_word_len,
       |    len(list_filter(['the', 'a', 'of', 'and', 'to'],
       |      x -> list_contains(w.w, x)))::BIGINT AS n_stop_distinct,
       |    gdom.mx::DOUBLE / len(w.w) AS dom_ratio
       |  FROM docs d
       |  JOIN words w ON w.doc_id = d.doc_id
       |  JOIN gdom ON gdom.doc_id = d.doc_id
       |  WHERE len(w.w) > 0),
       |gate AS (
       |  SELECT doc_id, n_words, avg_word_len, n_stop_distinct, dom_ratio,
       |    n_words BETWEEN 50 AND 100000 AS r_wordcount,
       |    avg_word_len BETWEEN 3.0 AND 10.0 AS r_wordlen,
       |    n_stop_distinct >= 2 AS r_stopwords,
       |    dom_ratio <= 0.1 AS r_dominance,
       |    (n_words BETWEEN 50 AND 100000) AND (avg_word_len BETWEEN 3.0 AND 10.0)
       |      AND n_stop_distinct >= 2 AND dom_ratio <= 0.1 AS passes
       |  FROM gm)""".stripMargin

  /** Spark twin of [[gopherCtes]]' `gate` table. Memoized fragment — five
    * cards compose on it (the gate report, both classifier evaluations, the
    * calibration table, the surprisal gate, the token-budget join), each of
    * which re-ran the word census and dominance aggregate per reference.
    */
  def gopherDf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.Caches.fragment(s, dir, "text_gopher_gate")(gopherDf0(s, dir))

  private def gopherDf0(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val stopsList = "('the', 'a', 'of', 'and', 'to')"
    // fan the one-time fragment build out (word explode + dominance agg
    // over every token — the heaviest map in the gate)
    val words = graft.Tables.fanOut(
        graft.Tables.t(s, dir, "documents").select("doc_id", "text"),
        col("doc_id"))
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .withColumn("w", split(col("norm"), " "))
      .filter(size(col("w")) > 0)
    val dom = words.select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("mx"))
    words.join(dom, Seq("doc_id"))
      .select(
        col("doc_id"),
        size(col("w")).as("n_words"),
        (length(regexp_replace(col("norm"), " ", "")).cast("double") / size(col("w")))
          .as("avg_word_len"),
        size(expr(s"filter(array$stopsList, x -> array_contains(w, x))"))
          .cast("long").as("n_stop_distinct"),
        (col("mx").cast("double") / size(col("w"))).as("dom_ratio"))
      .withColumn("r_wordcount", col("n_words").between(50, 100000))
      .withColumn("r_wordlen", col("avg_word_len").between(3.0, 10.0))
      .withColumn("r_stopwords", col("n_stop_distinct") >= 2)
      .withColumn("r_dominance", col("dom_ratio") <= 0.1)
      .withColumn("passes",
        col("r_wordcount") && col("r_wordlen") && col("r_stopwords") && col("r_dominance"))
  }

  private val gopher = q("pipe_gopher_rules",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |$gopherCtes
       |SELECT doc_id, n_words, avg_word_len, n_stop_distinct, dom_ratio,
       |  r_wordcount, r_wordlen, r_stopwords, r_dominance, passes
       |FROM gate ORDER BY doc_id""".stripMargin) { (s, dir) =>
    gopherDf(s, dir).orderBy("doc_id")
  }

  /** Model-based quality filtering — the fastText-shaped classifier gate
    * every large pretraining corpus runs (GPT-3's WebText-vs-CommonCrawl
    * logistic filter, LLaMA's Wikipedia-reference classifier): train a
    * Naive-Bayes bag-of-words model on a labeled seed (here: "curated"
    * sources src0–src9 vs the rest, 80% of docs by `doc_id % 5`), then
    * score the held-out 20% and report per-source keep rates at the
    * score>0 decision boundary.
    *
    * Log-odds weights with add-one smoothing are EXACTLY the closed form of
    * NB — no gradient loop, so training is two aggregations: token-class
    * counts (one shuffle keyed by token, map-side combinable) and the
    * class totals. Everything downstream of the two `ln` calls is
    * fixed-point: weights quantize to `floor(logit·1e6 + 0.5)` longs, doc
    * scores are integer sums — order-independent, hash-identical cross-
    * engine (the `ln` inputs are identical exact-integer ratios, same
    * discipline as tfidf).
    *
    * Scale shape: the weight table is vocabulary-sized, not corpus-sized,
    * but a web-scale vocab (1e8+ junk tokens) is too big to force-broadcast
    * — the scoring join stays token-keyed and AQE-planned, like
    * [[rarity]]'s frequency join. Scoring itself is explode → join →
    * per-doc integer sum: one shuffle by token, one by doc_id.
    */
  /** The NB classifier's oracle CTE chain ending in
    * `scored (doc_id, source, score)` — held-out docs with their integer
    * micro-logit scores. Shared by the per-source report and the
    * classifier-vs-rule-gate evaluation so the model definition cannot
    * drift between them.
    */
  private val classifierCtes: String =
    """d2 AS (
      |  SELECT doc_id, source,
      |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm,
      |    CAST(substr(source, 4) AS INT) < 10 AS pos
      |  FROM documents),
      |ttoks AS (
      |  SELECT doc_id, pos, unnest(string_split(norm, ' ')) AS tok
      |  FROM d2 WHERE ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 5 < 4),
      |counts AS (
      |  SELECT tok, sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS cpos,
      |    sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)::BIGINT AS cneg
      |  FROM ttoks GROUP BY tok),
      |tot AS (
      |  SELECT sum(cpos)::BIGINT AS npos, sum(cneg)::BIGINT AS nneg,
      |    count(*)::BIGINT AS v
      |  FROM counts),
      |w AS (
      |  SELECT tok, CAST(floor((ln((cpos + 1.0) / (npos + v))
      |      - ln((cneg + 1.0) / (nneg + v))) * 1000000 + 0.5) AS BIGINT) AS wt
      |  FROM counts, tot),
      |pri AS (
      |  SELECT CAST(floor(ln((sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1.0)
      |      / (sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) + 1.0))
      |      * 1000000 + 0.5) AS BIGINT) AS prior
      |  FROM d2 WHERE ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 5 < 4),
      |htoks AS (
      |  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
      |  FROM d2 WHERE ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 5 = 4),
      |dsc AS (
      |  SELECT h.doc_id, sum(coalesce(w.wt, 0))::BIGINT AS tw
      |  FROM htoks h LEFT JOIN w ON w.tok = h.tok
      |  GROUP BY h.doc_id),
      |scored AS (
      |  SELECT d.doc_id, d.source, coalesce(s.tw, 0) + p.prior AS score
      |  FROM d2 d LEFT JOIN dsc s ON s.doc_id = d.doc_id, pri p
      |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR),1,15))::BIGINT % 5 = 4)""".stripMargin

  /** Spark twin of [[classifierCtes]]' `scored`: held-out docs
    * `(doc_id, source, score)` with their exact integer micro-logit NB
    * scores. Shared by the per-source report and [[classifierEval]].
    */
  private def classifierScored(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.Caches.fragment(s, dir, "text_classifier_scored")(
      classifierScored0(s, dir))

  private def classifierScored0(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val base = graft.Tables.fanOut(graft.Tables.t(s, dir, "documents")
        .select("doc_id", "source", "text"), col("doc_id"))
      .select(col("doc_id"), col("source"), normText(col("text")).as("norm"),
        (expr("CAST(substring(source, 4, 10) AS INT)") < 10).as("pos"))
    val trainSel = hash64(col("doc_id").cast("string")) % 5 < 4
    val train = base.filter(trainSel)
    val ttoks = train.select(col("doc_id"), col("pos"),
      explode(split(col("norm"), " ")).as("tok"))
    val counts = ttoks.groupBy("tok").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("cpos"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("cneg"))
    val tot = counts.agg(sum("cpos").as("npos"), sum("cneg").as("nneg"),
      count(lit(1)).as("v"))
    val w = counts.crossJoin(broadcast(tot))
      .select(col("tok"),
        floor((log((col("cpos") + 1.0) / (col("npos") + col("v")))
          - log((col("cneg") + 1.0) / (col("nneg") + col("v"))))
          * 1000000.0 + 0.5).as("wt"))
    val pri = train.agg(
      floor(log((sum(when(col("pos"), 1L).otherwise(0L)) + 1.0)
        / (sum(when(!col("pos"), 1L).otherwise(0L)) + 1.0))
        * 1000000.0 + 0.5).as("prior"))
    val held = base.filter(!trainSel)
    val htoks = held.select(col("doc_id"), explode(split(col("norm"), " ")).as("tok"))
    val dsc = htoks.join(w, Seq("tok"), "left")
      .groupBy("doc_id").agg(sum(coalesce(col("wt"), lit(0L))).as("tw"))
    held.select("doc_id", "source")
      .join(dsc, Seq("doc_id"), "left")
      .crossJoin(broadcast(pri))
      .select(col("doc_id"), col("source"),
        (coalesce(col("tw"), lit(0L)) + col("prior")).as("score"))
  }

  private val qualityClassifier = q("pipe_quality_classifier",
    s"""WITH $classifierCtes
      |SELECT source, count(*)::BIGINT AS n_docs,
      |  sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)::BIGINT AS n_keep,
      |  round(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
      |    AS keep_rate,
      |  round(sum(score)::DOUBLE / count(*) / 1000000, 6) AS mean_score
      |FROM scored GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    classifierScored(s, dir).groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_keep"),
        round(sum(when(col("score") > 0, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("keep_rate"),
        round(sum(col("score")).cast("double") / count(lit(1)) / 1000000.0, 6)
          .as("mean_score"))
      .orderBy("source")
  }

  /** Quality-threshold sweep — the keep-rate curve a curation run is tuned
    * from: for each candidate threshold 0.1..0.9, how many documents and
    * how much token mass survive `quality >= t`, as counts and corpus
    * fractions. This is the quality-vs-quantity tradeoff table you read
    * BEFORE committing to a gate (pick the threshold where the token-mass
    * curve bends), and it prices every candidate gate in ONE corpus pass:
    * the 9-row threshold dimension broadcasts into the quality frame, and
    * the sweep is a single map-combinable hash aggregate keyed by
    * threshold — never 9 separate filtered scans. Thresholds are `i/10.0`
    * from integer `i` in both engines, so the doubles (and the `>=`
    * verdicts) are bit-identical.
    */
  private val qualitySweep = q("pipe_quality_sweep",
    withDocs(s""", $qualitySql,
       |th AS (SELECT i::DOUBLE / 10.0 AS threshold
       |       FROM generate_series(1, 9) t(i)),
       |tot AS (SELECT count(*)::BIGINT AS nd, sum(n_words)::BIGINT AS nt
       |        FROM quality)
       |SELECT th.threshold,
       |  sum(CASE WHEN q.quality >= th.threshold THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  sum(CASE WHEN q.quality >= th.threshold THEN q.n_words ELSE 0 END)::BIGINT AS tok_kept,
       |  sum(CASE WHEN q.quality >= th.threshold THEN 1 ELSE 0 END)::DOUBLE / any_value(tot.nd) AS frac_docs,
       |  sum(CASE WHEN q.quality >= th.threshold THEN q.n_words ELSE 0 END)::DOUBLE / any_value(tot.nt) AS frac_tokens
       |FROM quality q, th, tot
       |GROUP BY th.threshold
       |ORDER BY th.threshold""".stripMargin)) { (s, dir) =>
    val qf = qualityDf(s, dir).select("quality", "n_words")
    val th = s.range(1, 10)
      .select((col("id").cast("double") / 10.0).as("threshold"))
    val tot = qf.agg(count(lit(1)).as("nd"), sum("n_words").as("nt"))
    qf.crossJoin(broadcast(th)).crossJoin(broadcast(tot))
      .groupBy("threshold")
      .agg(
        sum(when(col("quality") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("quality") >= col("threshold"), col("n_words"))
          .otherwise(0L)).as("tok_kept"),
        (sum(when(col("quality") >= col("threshold"), 1L).otherwise(0L))
          .cast("double") / first("nd")).as("frac_docs"),
        (sum(when(col("quality") >= col("threshold"), col("n_words"))
          .otherwise(0L)).cast("double") / first("nt")).as("frac_tokens"))
      .orderBy("threshold")
  }

  /** Unigram surprisal gate — the perplexity-style LM filter of a
    * pretraining pipeline (CCNet/RefinedWeb keep documents whose words the
    * corpus LM finds unsurprising; OCR noise, codes and gibberish score
    * high-surprisal) expressed with EXACT integer log-space arithmetic:
    * each word's corpus count `c` maps to its binary digit count
    * `length(bin(c)) − 1 = ⌊log₂ c⌋`, the per-doc familiarity is the mean
    * bucket, and the gate `mean ≥ 3` is evaluated as the integer
    * cross-product `sum_bucket ≥ 3·n_words`. No floating log anywhere, so
    * the only double (the reported mean) is one division of two exact
    * BIGINTs — bit-identical cross-engine.
    *
    * Scale shape: a map-combinable word census, one join on the word key
    * (hot words skew it at 100 TB — AQE skew-split; the census side ships
    * one partial per partition, never one row per occurrence), and a
    * doc-keyed rollup co-partitioned with the explode. Same audited shape
    * as the bigram LM, one scan of the corpus.
    */
  private val surprisalGate = q("pipe_surprisal_gate",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |uw AS (SELECT doc_id, unnest(w) AS word FROM words WHERE len(w) > 0),
       |cnt AS (SELECT word, count(*)::BIGINT AS c FROM uw GROUP BY word),
       |sc AS (
       |  SELECT u.doc_id, count(*)::BIGINT AS n_words,
       |    sum(length(bin(c.c)) - 1)::BIGINT AS sum_bucket
       |  FROM uw u JOIN cnt c USING (word) GROUP BY u.doc_id)
       |SELECT doc_id, n_words, sum_bucket,
       |  sum_bucket::DOUBLE / n_words AS mean_log2_freq,
       |  sum_bucket >= 3 * n_words AS passes
       |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val uw = docWords(s, dir).filter(size(col("w")) > 0)
      .select(col("doc_id"), explode(col("w")).as("word"))
    val cnt = uw.groupBy("word").agg(count(lit(1)).as("c"))
    uw.join(cnt, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum((length(bin(col("c"))) - 1).cast("long")).as("sum_bucket"))
      .select(col("doc_id"), col("n_words"), col("sum_bucket"),
        (col("sum_bucket").cast("double") / col("n_words"))
          .as("mean_log2_freq"),
        (col("sum_bucket") >= lit(3L) * col("n_words")).as("passes"))
      .orderBy("doc_id")
  }

  /** N-gram novelty — the memorization-risk / freshness profile of each
    * document: the fraction of its DISTINCT word-3-gram shingles that occur
    * in no other document. High-novelty docs carry content the corpus has
    * nowhere else (valuable, and un-dedupable); near-zero novelty marks
    * templated/boilerplate text even when no single pair crosses a
    * near-dup threshold — the complement of the pairwise dedup family.
    *
    * Scale shape: the shared shingle fragment, one map-combinable shingle
    * census, one join back on the shingle key (AQE skew-split for
    * boilerplate shingles), one doc-keyed rollup. Counts are exact BIGINTs;
    * `novelty` is their single division.
    */
  private val ngramNovelty = q("pipe_ngram_novelty",
    withDocs(s"""
       |, dfc AS (SELECT sh, count(*)::BIGINT AS df FROM shingles GROUP BY sh)
       |SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
       |  sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
       |  sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS novelty
       |FROM shingles s JOIN dfc d USING (sh)
       |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    // ONE shingle pass (same rewrite as pipe_text_bigram_lm): (doc, sh)
    // partials, global df as a window sum over sh, per-doc fold. df = 1
    // implies the shingle's single instance lives in this doc, so
    // n_unique = Σ ci·[df = 1] is exactly the join-back's count
    val sct = docShingles(s, dir)
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("ci"))
      .withColumn("df", sum(col("ci")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("sh")))
    sct.groupBy("doc_id")
      .agg(sum(col("ci")).as("n_shingles"),
        sum(when(col("df") === 1, col("ci")).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_shingles")).as("novelty"))
      .orderBy("doc_id")
  }

  /** Vocabulary growth per source — the Heaps/Zipf dataset card: token
    * count, distinct-word vocabulary, hapax legomena (words seen once), and
    * their ratios. A source whose type-token ratio collapses is templated
    * output (bot text, logs); an inflated hapax share is OCR noise or
    * tokenizer-hostile content — both feed the per-source curation
    * decisions next to [[pipe_source_drift]]'s quality drift.
    *
    * Scale shape: a two-level map-combinable census — (source, word)
    * partials then a |sources|-row rollup; nothing else touches the corpus.
    * All counts exact BIGINTs, each ratio one division.
    */
  private val vocabGrowth = q("pipe_vocab_growth",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |uw AS (
       |  SELECT d.source, unnest(w.w) AS word
       |  FROM words w JOIN documents d ON d.doc_id = w.doc_id
       |  WHERE len(w.w) > 0),
       |wc AS (SELECT source, word, count(*)::BIGINT AS c FROM uw GROUP BY 1, 2)
       |SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_vocab,
       |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
       |  count(*)::DOUBLE / sum(c) AS type_token_ratio,
       |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS hapax_share
       |FROM wc GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val uw = docWords(s, dir).filter(size(col("w")) > 0)
      .join(graft.Tables.t(s, dir, "documents").select("doc_id", "source"),
        Seq("doc_id"))
      .select(col("source"), explode(col("w")).as("word"))
    uw.groupBy("source", "word").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_vocab"), col("n_hapax"),
        (col("n_vocab").cast("double") / col("n_tokens"))
          .as("type_token_ratio"),
        (col("n_hapax").cast("double") / col("n_vocab")).as("hapax_share"))
      .orderBy("source")
  }

  /** Corpus hot n-grams — the boilerplate discovery pass that feeds
    * line/span dedup thresholds: the 20 word-3-grams present in the most
    * DISTINCT documents (document frequency, not raw occurrences — a
    * shingle repeated inside one doc is repetition, one repeated across
    * docs is boilerplate), with the corpus share. One map-combinable hash
    * aggregate keyed by shingle, then a global top-k that folds to
    * TakeOrderedAndProject — never a full sort of the shingle vocabulary.
    */
  private val hotNgrams = q("pipe_hot_ngrams",
    withDocs(s"""
       |, tot AS (SELECT count(*)::BIGINT AS nd FROM documents),
       |df AS (SELECT sh, count(*)::BIGINT AS n_docs FROM shingles GROUP BY sh)
       |SELECT sh, n_docs, n_docs::DOUBLE / tot.nd AS doc_share
       |FROM df, tot
       |ORDER BY n_docs DESC, sh LIMIT 20""".stripMargin)) { (s, dir) =>
    val tot = graft.Tables.t(s, dir, "documents")
      .agg(count(lit(1)).as("nd"))
    docShingles(s, dir)
      .groupBy("sh").agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(tot))
      .select(col("sh"), col("n_docs"),
        (col("n_docs").cast("double") / col("nd")).as("doc_share"))
      .orderBy(desc("n_docs"), col("sh")).limit(20)
  }

  /** Classifier-vs-rule-gate evaluation — how a learned quality filter is
    * actually judged before it replaces (or stacks on) the hand-written
    * gate: on the held-out slice, treat the Gopher rule verdict as the
    * pseudo-label and the NB score sign as the prediction, and report the
    * confusion counts with precision/recall/accuracy. All counts are exact
    * integers; each rate is ONE division of two of them, so the doubles
    * are bit-identical cross-engine.
    *
    * Scale shape: composes two already-audited fragments — the classifier
    * scores (token-keyed joins, integer micro-logits) and the rule gate
    * (one scan + a doc-keyed aggregate) — through one doc-keyed join and a
    * single global confusion aggregate (4 counters, map-combinable).
    */
  private val classifierEval = q("pipe_classifier_eval",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |$gopherCtes,
       |$classifierCtes,
       |ev AS (
       |  SELECT sc.score > 0 AS pred, g.passes AS label
       |  FROM scored sc JOIN gate g ON g.doc_id = sc.doc_id)
       |SELECT count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN pred AND label THEN 1 ELSE 0 END)::BIGINT AS tp,
       |  sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END)::BIGINT AS fp,
       |  sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END)::BIGINT AS fn,
       |  sum(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END)::BIGINT AS tn,
       |  CASE WHEN sum(CASE WHEN pred THEN 1 ELSE 0 END) = 0 THEN 0.0
       |    ELSE sum(CASE WHEN pred AND label THEN 1 ELSE 0 END)::DOUBLE
       |      / sum(CASE WHEN pred THEN 1 ELSE 0 END) END AS precision,
       |  CASE WHEN sum(CASE WHEN label THEN 1 ELSE 0 END) = 0 THEN 0.0
       |    ELSE sum(CASE WHEN pred AND label THEN 1 ELSE 0 END)::DOUBLE
       |      / sum(CASE WHEN label THEN 1 ELSE 0 END) END AS recall,
       |  sum(CASE WHEN pred = label THEN 1 ELSE 0 END)::DOUBLE / count(*)
       |    AS accuracy
       |FROM ev""".stripMargin) { (s, dir) =>
    val pred = classifierScored(s, dir)
      .select(col("doc_id"), (col("score") > 0).as("pred"))
    val ev = pred.join(gopherDf(s, dir).select(col("doc_id"),
      col("passes").as("label")), Seq("doc_id"))
    val cnt = (c: org.apache.spark.sql.Column) =>
      sum(when(c, 1L).otherwise(0L))
    ev.agg(
      count(lit(1)).as("n_docs"),
      cnt(col("pred") && col("label")).as("tp"),
      cnt(col("pred") && !col("label")).as("fp"),
      cnt(!col("pred") && col("label")).as("fn"),
      cnt(!col("pred") && !col("label")).as("tn"),
      when(cnt(col("pred")) === 0, 0.0)
        .otherwise(cnt(col("pred") && col("label")).cast("double")
          / cnt(col("pred"))).as("precision"),
      when(cnt(col("label")) === 0, 0.0)
        .otherwise(cnt(col("pred") && col("label")).cast("double")
          / cnt(col("label"))).as("recall"),
      (cnt(col("pred") === col("label")).cast("double") / count(lit(1)))
        .as("accuracy"))
  }

  /** The held-out evaluation frame shared by [[classifierAuc]] and
    * [[calibration]]: each held-out doc's exact integer NB score paired with
    * its Gopher rule verdict as the pseudo-label — the same framing as
    * [[classifierEval]], keeping the full score instead of just its sign.
    */
  private def evalFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    classifierScored(s, dir).select("doc_id", "score")
      .join(gopherDf(s, dir).select(col("doc_id"), col("passes").as("label")),
        Seq("doc_id"))

  /** Oracle CTE twin of [[evalFrame]] (expects [[gopherCtes]] and
    * [[classifierCtes]] in scope).
    */
  private val evalFrameCte: String =
    """ev AS (
      |  SELECT sc.score, g.passes AS label
      |  FROM scored sc JOIN gate g ON g.doc_id = sc.doc_id)""".stripMargin

  /** Exact ROC AUC of the quality classifier against the rule-gate
    * pseudo-labels — the threshold-free ranking quality a learned filter is
    * actually selected by (the confusion matrix in [[classifierEval]] prices
    * ONE operating point; AUC prices them all). Midrank tie handling, so
    * this is the exact Mann-Whitney U statistic: with per-score positive and
    * negative counts p(s), n(s) and the exclusive running negative count
    * cn(s), `AUC = Σ p(s)·(2·cn(s) + n(s)) / (2·P·N)` — the numerator and
    * denominator are exact integers, so the one division is bit-identical
    * cross-engine.
    *
    * 100 TB shape: ranking normally means a global sort; here it never
    * happens. The per-score census is one map-combinable hash aggregate
    * (|distinct scores| rows, ≤ held-out docs), and the running negative
    * count reuses the [[Curation]] bucketed-prefix-sum machinery — exact
    * integer range buckets on the score (monotone by construction), a
    * per-bucket window in parallel, and a ≤64-row triangular broadcast for
    * the bases. No single-partition WindowExec anywhere.
    */
  private val classifierAuc = q("pipe_classifier_auc",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |$gopherCtes,
       |$classifierCtes,
       |$evalFrameCte,
       |census AS (
       |  SELECT score,
       |    sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS p,
       |    sum(CASE WHEN NOT label THEN 1 ELSE 0 END)::BIGINT AS n
       |  FROM ev GROUP BY score),
       |cum AS (
       |  SELECT p, n,
       |    (sum(n) OVER (ORDER BY score
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)::BIGINT AS cn
       |  FROM census),
       |pn AS (SELECT sum(p)::BIGINT AS tp, sum(n)::BIGINT AS tn FROM census)
       |SELECT tp AS n_pos, tn AS n_neg,
       |  sum(p * (2 * cn + n))::BIGINT AS num2,
       |  CASE WHEN tp = 0 OR tn = 0 THEN 0.0
       |    ELSE sum(p * (2 * cn + n))::DOUBLE / (2.0 * tp * tn) END AS auc
       |FROM cum, pn GROUP BY tp, tn""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // census feeds THREE consumers (bounds, the bucketed frame, the p/n
    // totals) — truncate so the eval join + aggregate run once, not thrice
    // (the before-plan held 98 parquet scans / 210 Exchanges)
    val census = evalFrame(s, dir).groupBy("score").agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("p"),
      sum(when(!col("label"), 1L).otherwise(0L)).as("n"))
      .transform(graft.Iterative.truncate)
    // deterministic range bucket on the score — monotone, so per-bucket
    // running sums + broadcast bases equal the global ordered prefix sum
    val bounds = census.agg(min("score").as("lo"), max("score").as("hi"))
    val bucketed = census.crossJoin(broadcast(bounds))
      .withColumn("pid", expr(
        s"cast(((score - lo) * ${Curation.PrefixBuckets}) div (hi - lo + 1) as int)"))
      .drop("lo", "hi")
    val wLocal = Window.partitionBy("pid").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = Curation.bucketBases(
      bucketed.groupBy("pid").agg(sum("n").as("tot")))
    val cum = bucketed
      .withColumn("run", sum("n").over(wLocal))
      .join(broadcast(bases), Seq("pid"))
      .withColumn("cn", col("base") + col("run") - col("n"))
    val tot = census.agg(sum("p").as("tp"), sum("n").as("tn"))
    cum.crossJoin(broadcast(tot))
      .groupBy("tp", "tn")
      .agg(sum(col("p") * (col("cn") * 2L + col("n"))).as("num2"))
      .select(col("tp").as("n_pos"), col("tn").as("n_neg"), col("num2"),
        when(col("tp") === 0L || col("tn") === 0L, 0.0)
          .otherwise(col("num2").cast("double")
            / (lit(2.0) * col("tp") * col("tn"))).as("auc"))
  }

  /** Classifier calibration table (the reliability diagram's data): held-out
    * scores cut into 10 equal-width bins over the observed range, each bin
    * reporting its doc count, mean score (in logits), and empirical
    * positive rate. A well-calibrated filter's positive rate should rise
    * monotonically with the bin — the table a score threshold is picked
    * from when the gate needs a target precision rather than a target
    * keep-rate. Bin edges are exact integer range arithmetic on the
    * (broadcast) min/max, so binning is map-side and cross-engine identical;
    * each rate is one division of two exact integers.
    */
  private val calibration = q("pipe_classifier_calibration",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |$gopherCtes,
       |$classifierCtes,
       |$evalFrameCte,
       |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM ev)
       |SELECT ((score - lo) * 10) // (hi - lo + 1) AS bin,
       |  count(*)::BIGINT AS n_docs,
       |  round(sum(score)::DOUBLE / count(*) / 1000000, 6) AS mean_score,
       |  sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |  sum(CASE WHEN label THEN 1 ELSE 0 END)::DOUBLE / count(*) AS pos_rate
       |FROM ev, bounds
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val ev = evalFrame(s, dir)
    val bounds = ev.agg(min("score").as("lo"), max("score").as("hi"))
    ev.crossJoin(broadcast(bounds))
      .groupBy(expr("((score - lo) * 10) div (hi - lo + 1)").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum("score").cast("double") / count(lit(1)) / 1000000.0, 6)
          .as("mean_score"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
        (sum(when(col("label"), 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("pos_rate"))
      .orderBy("bin")
  }

  /** k-anonymity rare-combination gate — the release-side privacy pass that
    * [[pii]]'s content scan can't do: a document whose QUASI-IDENTIFIER
    * combination (lang, source, length band) is shared by fewer than K
    * documents is re-identifiable even with the PII strings scrubbed, so
    * the gate suppresses every member of an under-K combination (classic
    * k-anonymity, Sweeney 2002, applied at the document-metadata grain a
    * training-corpus release actually publishes).
    *
    * Scale shape: the combo census is one map-combinable aggregate bounded
    * by |langs|×|sources|×bands rows (a dimension table at any corpus
    * size), joined back broadcast — two scans, zero wide shuffles, exact
    * integer counts end to end.
    */
  private val KAnon = 5
  private val kanonSuppress = q("pipe_kanon_suppress",
    s"""WITH d AS (
       |  SELECT doc_id, lang, source,
       |    CAST(floor(n_chars / 500.0) AS BIGINT) AS band
       |  FROM documents),
       |combos AS (
       |  SELECT lang, source, band, count(*)::BIGINT AS n
       |  FROM d GROUP BY 1, 2, 3)
       |SELECT d.source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN c.n < $KAnon THEN 1 ELSE 0 END)::BIGINT AS n_suppressed,
       |  sum(CASE WHEN c.n >= $KAnon THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  count(DISTINCT CASE WHEN c.n < $KAnon
       |    THEN d.lang || '|' || d.band::VARCHAR END)::BIGINT
       |    AS n_suppressed_combos
       |FROM d JOIN combos c
       |  ON c.lang = d.lang AND c.source = d.source AND c.band = d.band
       |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
    val d = graft.Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        floor(col("n_chars") / lit(500.0)).as("band"))
    val combos = d.groupBy("lang", "source", "band")
      .agg(count(lit(1)).as("n"))
    d.join(broadcast(combos), Seq("lang", "source", "band"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n") < KAnon, 1L).otherwise(0L)).as("n_suppressed"),
        sum(when(col("n") >= KAnon, 1L).otherwise(0L)).as("n_kept"),
        countDistinct(when(col("n") < KAnon,
          concat_ws("|", col("lang"), col("band")))).as("n_suppressed_combos"))
      .orderBy("source")
  }

  /** Sliding-segment language-mix (code-switch) detection: [[langId]] gives
    * one label per document, which silently mislabels mixed-language docs —
    * the standard mitigation is to re-run the detector over fixed-size word
    * SEGMENTS and measure how many disagree with the whole-doc label. Docs
    * with a high `mix_frac` are the code-switched / boilerplate-contaminated
    * ones a monolingual filter should not trust its doc-level label on.
    * Segments are non-overlapping [[LangMixSeg]]-word windows sliced from
    * the already-split word array — explode + slice inside the scan, one
    * map-combinable per-doc rollup, no joins, no shuffle beyond the
    * aggregate.
    */
  private val LangMixSeg = 20
  private val langMix = {
    def segScore(arr: String, ws: Seq[String], l: String): String =
      s"len(list_filter($arr, x -> x IN ${inList(ws)}))::DOUBLE / len($arr) AS s_$l"
    val caseSql = stops.init.map { case (l, _) =>
      val geAll = stops.filter(_._1 != l).map(o => s"s_$l >= s_${o._1}")
        .mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${stops.last._1}' END")
    q("pipe_text_langmix",
      s"""WITH $docsNormCte,
         |$wordsCte,
         |docguess AS (
         |  SELECT doc_id, $caseSql AS doc_lang FROM (
         |    SELECT doc_id,
         |      ${stops.map { case (l, ws) => segScore("w", ws, l) }.mkString(",\n      ")}
         |    FROM words WHERE len(w) > 0)),
         |segs AS (
         |  SELECT doc_id, seg,
         |    w[seg * $LangMixSeg + 1 : least((seg + 1) * $LangMixSeg, len(w))] AS sw
         |  FROM (
         |    SELECT doc_id, w,
         |      unnest(generate_series(0, (len(w) - 1) // $LangMixSeg)) AS seg
         |    FROM words WHERE len(w) > 0)),
         |segguess AS (
         |  SELECT doc_id, seg, $caseSql AS seg_lang FROM (
         |    SELECT doc_id, seg,
         |      ${stops.map { case (l, ws) => segScore("sw", ws, l) }.mkString(",\n      ")}
         |    FROM segs))
         |SELECT g.doc_id, d.doc_lang,
         |  count(*)::BIGINT AS n_segments,
         |  sum(CASE WHEN g.seg_lang = d.doc_lang THEN 1 ELSE 0 END)::BIGINT
         |    AS n_agree,
         |  (count(*) - sum(CASE WHEN g.seg_lang = d.doc_lang THEN 1 ELSE 0 END))::DOUBLE
         |    / count(*) AS mix_frac
         |FROM segguess g JOIN docguess d USING (doc_id)
         |GROUP BY g.doc_id, d.doc_lang ORDER BY g.doc_id""".stripMargin) {
      (s, dir) =>
      def scores(arr: String) = stops.map { case (l, ws) =>
        expr(s"size(filter($arr, x -> x IN ${inList(ws)}))").cast("double")
          ./(size(col(arr))).as(s"s_$l")
      }
      val caseExpr = expr(caseSql)
      val dw = docWords(s, dir).filter(size(col("w")) > 0)
      val docGuess = dw.select(col("doc_id") +: scores("w"): _*)
        .withColumn("doc_lang", caseExpr).select("doc_id", "doc_lang")
      val segs = dw
        .withColumn("seg",
          explode(sequence(lit(0), expr(s"(size(w) - 1) div $LangMixSeg"))))
        .withColumn("sw", slice(col("w"),
          col("seg") * LangMixSeg + 1, lit(LangMixSeg)))
      val segGuess = segs.select(col("doc_id") +: col("seg") +: scores("sw"): _*)
        .withColumn("seg_lang", caseExpr)
      segGuess.join(docGuess, Seq("doc_id"))
        .groupBy("doc_id", "doc_lang")
        .agg(count(lit(1)).as("n_segments"),
          sum(when(col("seg_lang") === col("doc_lang"), 1L).otherwise(0L))
            .as("n_agree"))
        .select(col("doc_id"), col("doc_lang"), col("n_segments"),
          col("n_agree"),
          ((col("n_segments") - col("n_agree")).cast("double")
            / col("n_segments")).as("mix_frac"))
        .orderBy("doc_id")
    }
  }

  /** Quality-filter ENSEMBLE — what a production curation stack actually
    * ships: no single gate is trusted alone, so each document collects a
    * vote from three independent filter families (the [[gopher]] hard-rule
    * gate, the [[surprisalGate]] integer-LM gate, and the composite
    * [[quality]] score at its 0.5 boundary) and survives on 2-of-3
    * majority. Disagreement is the signal: a doc one gate kills and two
    * keep is exactly the band a threshold re-tune or human audit looks at,
    * and the per-doc vote vector is what that audit reads.
    *
    * Scale shape: the three verdict frames are the gates' own plans (map-
    * level rules, one word census, the memoized quality fragment), joined
    * on doc_id — no new corpus pass beyond what the gates already cost.
    */
  private val ensemble = q("pipe_quality_ensemble",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |$gopherCtes,
       |$qualitySql,
       |uw AS (SELECT doc_id, unnest(w) AS word FROM words WHERE len(w) > 0),
       |cnt AS (SELECT word, count(*)::BIGINT AS c FROM uw GROUP BY word),
       |surp AS (
       |  SELECT u.doc_id,
       |    sum(length(bin(c.c)) - 1)::BIGINT >= 3 * count(*)::BIGINT
       |      AS surprisal_pass
       |  FROM uw u JOIN cnt c USING (word) GROUP BY u.doc_id),
       |v AS (
       |  SELECT g.doc_id, g.passes AS gopher_pass, s.surprisal_pass,
       |    q.quality >= 0.5 AS quality_pass
       |  FROM gate g JOIN surp s USING (doc_id)
       |  JOIN quality q USING (doc_id))
       |SELECT doc_id, gopher_pass, surprisal_pass, quality_pass,
       |  (gopher_pass::INT + surprisal_pass::INT + quality_pass::INT)::BIGINT
       |    AS votes,
       |  gopher_pass::INT + surprisal_pass::INT + quality_pass::INT >= 2
       |    AS keep
       |FROM v ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val g = gopherDf(s, dir).select(col("doc_id"),
      col("passes").as("gopher_pass"))
    val uw = docWords(s, dir).filter(size(col("w")) > 0)
      .select(col("doc_id"), explode(col("w")).as("word"))
    val cnt = uw.groupBy("word").agg(count(lit(1)).as("c"))
    val surp = uw.join(cnt, Seq("word"))
      .groupBy("doc_id")
      .agg((sum((length(bin(col("c"))) - 1).cast("long"))
        >= lit(3L) * count(lit(1))).as("surprisal_pass"))
    val qp = qualityDf(s, dir).select(col("doc_id"),
      (col("quality") >= 0.5).as("quality_pass"))
    val votes = col("gopher_pass").cast("int") +
      col("surprisal_pass").cast("int") + col("quality_pass").cast("int")
    g.join(surp, Seq("doc_id")).join(qp, Seq("doc_id"))
      .select(col("doc_id"), col("gopher_pass"), col("surprisal_pass"),
        col("quality_pass"), votes.cast("long").as("votes"),
        (votes >= 2).as("keep"))
      .orderBy("doc_id")
  }

  /** Flesch readability over the corpus, per source: the classic
    * surface-statistics readability screen (Flesch 1948) that curation
    * stacks run next to [[quality]] to catch prose that is grammatical but
    * unreadably dense (or trivially simple) before it reaches a training
    * mix. All three inputs are per-doc INTEGER counts from one scan —
    * words = `[a-z]+` runs, syllables = vowel-group `[aeiouy]+` runs (the
    * standard dictionary-free heuristic), sentences = `[.!?]+` runs floored
    * at 1 — summed per group as BIGINTs, so the only floats are two final
    * divisions and one fixed-constant polynomial evaluated once per GROUP
    * (identical expression shape both engines, then floored to integer
    * micro-units), never accumulated. Scale shape: map-only codegen'd
    * regex counting + one map-combinable aggregate; output is |sources|
    * rows at any corpus size.
    */
  private val readability = q("pipe_text_readability",
    """WITH c AS (
      |  SELECT source,
      |    greatest(len(regexp_extract_all(lower(text), '[a-z]+')), 1) AS w,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s
      |  FROM documents),
      |g AS (
      |  SELECT source, count(*)::BIGINT AS n_docs,
      |    sum(w)::BIGINT AS n_words, sum(y)::BIGINT AS n_syllables,
      |    sum(s)::BIGINT AS n_sentences
      |  FROM c GROUP BY source)
      |SELECT source, n_docs, n_words, n_syllables, n_sentences,
      |  n_words::DOUBLE / n_sentences AS words_per_sentence,
      |  n_syllables::DOUBLE / n_words AS syllables_per_word,
      |  CAST(floor((206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
      |    - 84.6 * (n_syllables::DOUBLE / n_words)) * 1000000.0 + 0.5)
      |    AS BIGINT) AS flesch_micro
      |FROM g ORDER BY source""".stripMargin) { (s, dir) =>
    val c = graft.Tables.t(s, dir, "documents").select(
      col("source"),
      greatest(regexp_count(lower(col("text")), lit("[a-z]+")), lit(1)).as("w"),
      regexp_count(lower(col("text")), lit("[aeiouy]+")).as("y"),
      greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).as("s"))
    c.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("y").as("n_syllables"), sum("s").as("n_sentences"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_syllables"), col("n_sentences"),
        (col("n_words").cast("double") / col("n_sentences"))
          .as("words_per_sentence"),
        (col("n_syllables").cast("double") / col("n_words"))
          .as("syllables_per_word"),
        floor((lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")))
          * lit(1000000.0) + lit(0.5)).cast("long").as("flesch_micro"))
      .orderBy("source")
  }

  /** Differentially-private count release over (lang, source) — the
    * privacy-preserving twin of the plain histogram, published next to
    * [[kanonSuppress]]: each group's count is perturbed with DISCRETE
    * Laplace noise (two-sided geometric, the integer-valued mechanism of
    * Ghosh-Roughgarden-Sundararajan 2009) at ε = 0.5 per release, then
    * clamped at 0. Noise is drawn by inverse-CDF lookup: a 20-bit uniform
    * comes from the seeded 60-bit md5 hash of the group key (deterministic
    * ⇒ oracle-replayable, and exactly the seeded-PRNG-per-key shape a
    * production release uses so reruns don't leak fresh noise draws), and
    * the CDF thresholds are PRECOMPUTED integers for r = e^(−ε), support
    * clamped to ±8 with the tail mass folded into the extremes — the
    * lookup is one shared CASE expression, no float in sight. Scale
    * shape: one map-combinable count aggregate + a per-group scalar map;
    * |langs|·|sources| output rows at any corpus size.
    */
  private val DpThresholds: Seq[(Int, Int)] = Seq(
    -8 -> 11955, -7 -> 19710, -6 -> 32496, -5 -> 53577, -4 -> 88333,
    -3 -> 145636, -2 -> 240113, -1 -> 395880, 0 -> 652696, 1 -> 808463,
    2 -> 902940, 3 -> 960243, 4 -> 994999, 5 -> 1016080, 6 -> 1028866,
    7 -> 1036621)
  private def dpNoiseCase(u: String): String =
    DpThresholds.map { case (k, t) => s"WHEN $u < $t THEN ($k)" }
      .mkString("CASE ", " ", " ELSE 8 END")
  private val dpRelease = q("pipe_dp_release",
    s"""WITH g AS (
       |  SELECT lang, source, count(*)::BIGINT AS n
       |  FROM documents GROUP BY 1, 2),
       |un AS (
       |  SELECT lang, source, n,
       |    ${sqlHash64("lang || '|' || source || '|dp-seed-1'")} % 1048576 AS u
       |  FROM g)
       |SELECT lang, source,
       |  greatest(n + (${dpNoiseCase("u")}), 0)::BIGINT AS n_noisy
       |FROM un ORDER BY lang, source""".stripMargin) { (s, dir) =>
    graft.Tables.t(s, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .withColumn("u", graft.pipeline.hash64(
        concat(col("lang"), lit("|"), col("source"), lit("|dp-seed-1")))
        % lit(1048576L))
      .select(col("lang"), col("source"),
        greatest(col("n") + expr(dpNoiseCase("u")), lit(0L)).as("n_noisy"))
      .orderBy("lang", "source")
  }

  val all: Seq[GQuery] = Seq(langId, quality, tokens, fingerprint, repetition,
    rarity, pii, tfidf, bigramLm, gopher, qualityClassifier, qualitySweep,
    hotNgrams, classifierEval, classifierAuc, calibration, surprisalGate,
    ngramNovelty, vocabGrowth, kanonSuppress, langMix, ensemble, readability,
    dpRelease)
}
