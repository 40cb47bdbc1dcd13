package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scaled-testdata generator for the sf1 scaling rehearsal.
  *
  * The driver ships fixtures only up to sf0.1; the scaling-exponent
  * measurement (SCALING_MEASURED.md) needs the SAME schemas and value
  * domains at 2.5×/5×/10× that volume. This generator reproduces the
  * fixture tables' shape — schemas, key ranges, value distributions,
  * near-dup structure — from pure hash functions of the row id (seeded,
  * no RNG state), entirely as Spark expressions: generation itself is
  * map-only and runs at any scale.
  *
  * Scaling discipline: larger scales are SUPERSETS of smaller ones (row
  * ids are a prefix range), so a time-vs-rows exponent fit across the
  * generated dirs measures the operator, not distribution drift.
  *
  * NOT a fixture replacement: correctness runs stay on the driver's
  * read-only /root/testdata dirs; these dirs exist only for performance
  * measurement (gitignored).
  *
  * Usage: `runMain graft.tools.GenScale <outRoot> <sf> [sf ...]`
  * where sf is the TPC-H-ish scale factor (fixtures ≈ sf0.1 shapes ×10
  * per unit): sf1 ⇒ 1.5M orders / ~6M lineitem / 50k docs / 20k vecs /
  * 1M events.
  */
object GenScale {

  private val Vocab = Seq(
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "a", "the", "join", "vector", "customer")

  private def h(c: org.apache.spark.sql.Column, salt: Int) =
    abs(hash(c, lit(salt)).cast("long"))

  def orders(spark: SparkSession, sf: Double): DataFrame = {
    val n = (1500000 * sf).toLong
    val nCust = math.max(1L, (150000 * sf).toLong)
    val id = col("id")
    spark.range(0, n, 1, 32).select(
      id.as("o_orderkey"),
      (h(id, 1) % nCust).as("o_custkey"),
      element_at(typedLit(Seq("F", "O", "P")), (h(id, 2) % 3 + 1).cast("int"))
        .as("o_orderstatus"),
      (round(h(id, 3) % 45000000L / 100.0, 2) + 900.0).as("o_totalprice"),
      expr("timestampadd(DAY, cast(abs(cast(hash(id, 4) as bigint)) % 2404 as int), " +
        "timestamp'1995-01-01 00:00:00')").as("o_orderdate"),
      element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")), (h(id, 5) % 5 + 1).cast("int"))
        .as("o_orderpriority"))
  }

  def lineitem(spark: SparkSession, sf: Double): DataFrame = {
    val n = (1500000 * sf).toLong
    val nPart = math.max(1L, (200000 * sf).toLong)
    val nSupp = math.max(1L, (10000 * sf).toLong)
    // 1..7 lines per order (avg 4) — the fixture's ~4.1 lines/order
    spark.range(0, n, 1, 32)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (h(col("id"), 10) % 7 + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (h(expr("l_orderkey * 8 + l_linenumber"), 11) % nPart).as("l_partkey"),
        (h(expr("l_orderkey * 8 + l_linenumber"), 12) % nSupp).as("l_suppkey"),
        (h(expr("l_orderkey * 8 + l_linenumber"), 13) % 50 + 1).cast("double")
          .as("l_quantity"),
        round(h(expr("l_orderkey * 8 + l_linenumber"), 14) % 9500000L / 100.0
          + 900.0, 2).as("l_extendedprice"),
        round((h(expr("l_orderkey * 8 + l_linenumber"), 15) % 11).cast("double")
          / 100.0, 2).as("l_discount"),
        round((h(expr("l_orderkey * 8 + l_linenumber"), 16) % 9).cast("double")
          / 100.0, 2).as("l_tax"),
        element_at(typedLit(Seq("A", "N", "R")),
          (h(expr("l_orderkey * 8 + l_linenumber"), 17) % 3 + 1).cast("int"))
          .as("l_returnflag"),
        element_at(typedLit(Seq("F", "O")),
          (h(expr("l_orderkey * 8 + l_linenumber"), 18) % 2 + 1).cast("int"))
          .as("l_linestatus"),
        expr("timestampadd(DAY, cast(abs(cast(hash(l_orderkey * 8 + l_linenumber, 19) as bigint)) " +
          "% 2500 as int), timestamp'1995-01-01 00:00:00')").as("l_shipdate"))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
  }

  def documents(spark: SparkSession, sf: Double): DataFrame = {
    val n = (500000 * sf * 0.1).toLong // fixtures: 5k docs at sf0.1
    val vocab = typedLit(Vocab)
    val id = col("doc_id")
    // ~5% of docs are near-duplicates of an earlier doc (same word stream
    // seeded by base_id, one extra trailing word) — keeps the dedup family
    // doing real candidate verification at every scale
    spark.range(0, n, 1, 32).select(col("id").as("doc_id"))
      .withColumn("base_id",
        when(id % 20 === 7 && id >= 7, id - 7).otherwise(id))
      .withColumn("n_words", (h(col("base_id"), 20) % 93 + 8).cast("int"))
      .withColumn("text", concat_ws(" ",
        concat(
          transform(sequence(lit(1), col("n_words")),
            i => element_at(vocab,
              (abs(hash(col("base_id") * 1000 + i, lit(21)).cast("long")) % Vocab.size + 1)
                .cast("int"))),
          when(id % 20 === 7 && id >= 7, array(lit("extra")))
            .otherwise(array().cast("array<string>")))))
      .withColumn("lang", element_at(
        typedLit(Seq("en", "en", "zh", "es", "fr", "de")),
        (h(id, 22) % 6 + 1).cast("int")))
      .withColumn("source",
        concat(lit("src"), (id % 20).cast("string")))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(spark: SparkSession, sf: Double): DataFrame = {
    val n = (200000 * sf * 0.1).toLong // fixtures: 2k vecs at sf0.1
    val id = col("vec_id")
    // clustered geometry: a per-label centroid plus uniform noise, so
    // k-means/IVF/ANN see real cluster structure at every scale
    spark.range(0, n, 1, 32).select(col("id").as("vec_id"))
      .withColumn("label", (h(id, 30) % 10).cast("int"))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(63)), i =>
          (((abs(hash(col("label") * 64 + i, lit(31)).cast("long")) % 1000).cast("double")
              / lit(1000.0) - lit(0.5)) * lit(1.2) +
            ((abs(hash(id * 64 + i, lit(32)).cast("long")) % 2001).cast("double")
              / lit(1000.0) - lit(1.0)) * lit(0.4)).cast("float")))
      .select("vec_id", "embedding", "label")
  }

  def events(spark: SparkSession, sf: Double): DataFrame = {
    val n = (10000000 * sf * 0.1).toLong // fixtures: 100k events at sf0.1
    val nUsers = math.max(1L, (15000 * sf * 0.1).toLong)
    val id = col("event_id")
    spark.range(0, n, 1, 32).select(col("id").as("event_id"))
      .withColumn("ts", expr(
        "timestamp_micros(cast(timestamp'2024-01-01 00:00:00' as long) * 1000000 " +
          "+ (abs(cast(hash(event_id, 40) as bigint)) % (30 * 86400)) * 1000000 " +
          "+ abs(cast(hash(event_id, 41) as bigint)) % 1000000)"))
      .withColumn("user_id", h(id, 42) % nUsers)
      .withColumn("event_type", element_at(
        typedLit(Seq("view", "click", "signup", "purchase", "error")),
        (h(id, 43) % 5 + 1).cast("int")))
      .withColumn("value",
        round((h(id, 44) % 100000).cast("double") / 100.0, 2))
      .withColumn("props",
        concat(lit("{\"k\": "), (h(id, 45) % 100).cast("string"), lit("}")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  def customer(spark: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1L, (150000 * sf).toLong)
    val id = col("c_custkey")
    spark.range(0, n, 1, 16).select(col("id").as("c_custkey"))
      .withColumn("c_name", concat(lit("Customer#"), id.cast("string")))
      .withColumn("c_nationkey", (h(id, 50) % 25).cast("int"))
      .withColumn("c_acctbal",
        round((h(id, 51) % 1100000).cast("double") / 100.0 - 999.0, 2))
      .withColumn("c_mktsegment", element_at(
        typedLit(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")), (h(id, 52) % 5 + 1).cast("int")))
  }

  def supplier(spark: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1L, (10000 * sf).toLong)
    val id = col("s_suppkey")
    spark.range(0, n, 1, 8).select(col("id").as("s_suppkey"))
      .withColumn("s_name", concat(lit("Supplier#"), id.cast("string")))
      .withColumn("s_nationkey", (h(id, 60) % 25).cast("int"))
      .withColumn("s_acctbal",
        round((h(id, 61) % 1100000).cast("double") / 100.0 - 999.0, 2))
  }

  def part(spark: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1L, (200000 * sf).toLong)
    val id = col("p_partkey")
    spark.range(0, n, 1, 16).select(col("id").as("p_partkey"))
      .withColumn("p_name", concat(lit("part "),
        element_at(typedLit(Vocab), (h(id, 70) % Vocab.size + 1).cast("int")),
        lit(" "), element_at(typedLit(Vocab),
          (h(id, 71) % Vocab.size + 1).cast("int"))))
      .withColumn("p_brand",
        concat(lit("Brand#"), (h(id, 72) % 55 + 11).cast("string")))
      .withColumn("p_type", element_at(
        typedLit(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
          "PROMO")), (h(id, 73) % 6 + 1).cast("int")))
      .withColumn("p_size", (h(id, 74) % 50 + 1).cast("int"))
      .withColumn("p_retailprice",
        round((h(id, 75) % 120000).cast("double") / 100.0 + 900.0, 2))
  }

  def main(args: Array[String]): Unit = {
    val outRoot = args(0)
    val sfs = args.drop(1).map(_.toDouble)
    val spark = graft.Session.local(graft.Session.cpus(32))
    sfs.foreach { sf =>
      val dir = f"$outRoot/sfg$sf%s"
      def w(name: String, df: DataFrame): Unit = {
        df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
        println(s"[genscale] $dir/$name.parquet written")
      }
      w("orders", orders(spark, sf))
      w("lineitem", lineitem(spark, sf))
      w("documents", documents(spark, sf))
      w("embeddings", embeddings(spark, sf))
      w("events", events(spark, sf))
      w("customer", customer(spark, sf))
      w("supplier", supplier(spark, sf))
      w("part", part(spark, sf))
      // tiny fixed dims: copy the fixture content (25 nations / 5 regions)
      Seq("nation", "region").foreach { t =>
        w(t, spark.read.parquet(s"/root/testdata/sf0.1/$t.parquet"))
      }
    }
    spark.stop()
  }
}
