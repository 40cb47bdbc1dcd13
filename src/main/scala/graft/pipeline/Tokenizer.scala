package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{q, GQuery}

/** BPE tokenizer TRAINING as distributed aggregation — the step upstream of
  * every token count the pipeline reports: learn the merge table from the
  * corpus itself (byte-pair encoding, Sennrich et al. 2016), then tokenize
  * with it.
  *
  * The classic scale trick makes this tractable at 100 TB: BPE statistics
  * live on WORD TYPES, not the corpus. One corpus-wide census (word →
  * occurrence count, shuffle keyed by word, map-side combinable) reduces
  * everything to a vocabulary-sized table; each of the k merge rounds is
  * then one pair-count aggregate over the types weighted by census count +
  * one single-row top-1 collect (bounded by construction, like the IVF
  * centroids) — corpus data is never touched again.
  *
  * Cross-engine exactness: a word's symbol sequence is represented as a
  * double-space-joined string (`"a  b  c"` — symbols are `[a-z0-9]+`, so
  * the delimiter can't occur inside one). Applying merge (a,b) is then
  * literally `replace(wstr, 'a  b', 'ab')`: both engines' `replace` scans
  * left-to-right over the original string without rescanning replaced
  * output, which IS the standard non-overlapping BPE merge application
  * ("aaa" + merge(a,a) → "aa a") — identical strings, identical next-round
  * pair counts, hash-identical merge tables. Pair counts are exact integer
  * sums; top-1 ties break on (count DESC, left, right).
  */
object Tokenizer {

  private val Merges = 6

  /** Corpus census → (word, cnt, wstr): occurrence-weighted word types with
    * the initial character-split symbol string.
    */
  private def census(s: SparkSession, dir: String): DataFrame =
    docWords(s, dir).select(explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("wstr", rtrim(regexp_replace(col("word"), "(.)", "$1  ")))

  /** One round's pair-count frame over the current types. */
  private def pairCounts(wt: DataFrame): DataFrame =
    wt.withColumn("l", split(col("wstr"), "  "))
      .filter(size(col("l")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(0, size(l) - 2), i -> struct(l[i] AS a, l[i+1] AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Train `Merges` rounds; returns the merge table (rank, lhs, rhs, count)
    * and the final word-type frame `(word, wstr, cnt)`. Each round's winning
    * pair is a 1-row collect; the merge application is a map-side literal
    * `replace` (symbols are alphanumeric by construction — no quoting
    * hazards). Lineage is truncated per round like every iterative op.
    *
    * Trained state is memoized per (session, dir, merges) through
    * [[graft.Caches.memo]] — a tokenizer is trained once and consumed by
    * everything downstream (the apply query, token budgeting), and the
    * cached artifact is merge-table-sized plus a vocab-sized truncated
    * frame handle.
    */
  def train(s: SparkSession, dir: String,
      merges: Int = Merges): (Seq[(Int, String, String, Long)], DataFrame) =
    graft.Caches.memo(s, dir, s"bpe_merges_$merges") {
      var wt = census(s, dir).transform(graft.Iterative.truncate)
      val out = Seq.newBuilder[(Int, String, String, Long)]
      (1 to merges).foreach { r =>
        val top = pairCounts(wt)
          .orderBy(desc("cnt"), col("a"), col("b")).limit(1).collect()
        if (top.nonEmpty) {
          val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          out += ((r, a, b, c))
          wt = wt.withColumn("wstr",
              expr(s"replace(wstr, '$a  $b', '$a$b')"))
            .transform(graft.Iterative.truncate)
        }
      }
      (out.result(), wt)
    }

  // ---- DuckDB oracle fragments --------------------------------------------

  private val censusCte =
    s"""w0 AS (
       |  SELECT word, cnt,
       |    rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) AS wstr
       |  FROM (
       |    SELECT word, count(*)::BIGINT AS cnt FROM (
       |      SELECT unnest(w) AS word FROM words)
       |    WHERE word <> '' GROUP BY word))""".stripMargin

  /** One oracle merge round: pair census over types, top-1, apply. */
  private def roundCtes(r: Int): String =
    s"""p$r AS (
       |  SELECT t.l[t.i] AS a, t.l[t.i + 1] AS b, sum(t.cnt)::BIGINT AS cnt
       |  FROM (
       |    SELECT l, cnt, unnest(generate_series(1, len(l) - 1)) AS i
       |    FROM (SELECT string_split(wstr, '  ') AS l, cnt FROM w${r - 1})) t
       |  GROUP BY 1, 2),
       |m$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       |w$r AS (
       |  SELECT w.word, replace(w.wstr, m.a || '  ' || m.b, m.a || m.b) AS wstr,
       |    w.cnt
       |  FROM w${r - 1} w, m$r m)""".stripMargin

  private val allRounds = (1 to Merges).map(roundCtes).mkString(",\n")

  /** The learned merge table: rank, pair, merged symbol, weighted count. */
  private val bpeTrain = q("pipe_bpe_train",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |$censusCte,
       |$allRounds
       |${(1 to Merges).map(r =>
          s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, cnt AS pair_count FROM m$r")
         .mkString("\nUNION ALL\n")}
       |ORDER BY merge_rank""".stripMargin) { (s, dir) =>
    val (merges, _) = train(s, dir)
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      merges.map { case (r, a, b, c) =>
        org.apache.spark.sql.Row(r.toLong, a, b, a + b, c)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("merge_rank",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lhs",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("rhs",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("merged",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pair_count",
          org.apache.spark.sql.types.LongType))))
      .orderBy("merge_rank")
  }

  /** Tokenize WITH the trained tokenizer: per-source corpus token counts
    * under the learned merges, vs raw characters — the compression a merge
    * table actually buys, reported where a mixing pipeline consumes it (per
    * source). Token counts ride the vocabulary: each word type's token
    * count is `len(split(final wstr))`, joined back to occurrences by word
    * (vocab-sized side, AQE-planned like the rarity frequency join); the
    * per-source rollup is map-side combinable.
    */
  private val bpeApply = q("pipe_bpe_apply",
    s"""WITH $docsNormCte,
       |$wordsCte,
       |$censusCte,
       |$allRounds,
       |occ AS (
       |  SELECT d.source, t.word
       |  FROM documents d
       |  JOIN (SELECT doc_id, unnest(w) AS word FROM words) t
       |    ON t.doc_id = d.doc_id
       |  WHERE t.word <> ''),
       |wtok AS (
       |  SELECT word, len(string_split(wstr, '  '))::BIGINT AS ntok
       |  FROM w$Merges)
       |SELECT o.source, count(*)::BIGINT AS n_words,
       |  sum(len(o.word))::BIGINT AS n_chars,
       |  sum(k.ntok)::BIGINT AS n_bpe_tokens,
       |  round(sum(len(o.word))::DOUBLE / sum(k.ntok), 6) AS compression
       |FROM occ o JOIN wtok k ON k.word = o.word
       |GROUP BY o.source ORDER BY o.source""".stripMargin) { (s, dir) =>
    val (_, wt) = train(s, dir)
    val wtok = wt.select(col("word"),
      size(split(col("wstr"), "  ")).cast("long").as("ntok"))
    // census per (source, word) BEFORE the vocab join: the map-combinable
    // aggregate collapses the corpus occurrence stream to |sources|x|vocab|
    // rows, so the join touches vocabulary-scale data instead of every
    // word occurrence — the same pre-aggregation move as line dedup's
    // segment census
    val occ = graft.Tables.t(s, dir, "documents").select("doc_id", "source")
      .join(docWords(s, dir).select(col("doc_id"),
        explode(col("w")).as("word")), Seq("doc_id"))
      .filter(col("word") =!= "")
      .groupBy("source", "word").agg(count(lit(1)).as("occ_n"))
    occ.join(wtok, Seq("word"))
      .groupBy("source")
      .agg(sum(col("occ_n")).as("n_words"),
        sum(col("occ_n") * length(col("word"))).as("n_chars"),
        sum(col("occ_n") * col("ntok")).as("n_bpe_tokens"),
        round(sum(col("occ_n") * length(col("word"))).cast("double") /
          sum(col("occ_n") * col("ntok")), 6).as("compression"))
      .orderBy("source")
  }

  val all: Seq[GQuery] = Seq(bpeTrain, bpeApply)
}
