package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Md5Prefix64

class NativeFunctionsSpec extends AnyFunSuite {
  import TestSpark._

  test("native expression equals the built-in conv(md5) chain on random strings") {
    import spark.implicits._
    val df = spark.range(0, 5000)
      .select(concat(lit("s|"), col("id").cast("string"),
        lit("|"), md5(col("id").cast("string").cast("binary"))).as("s"))
    val chain = conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10).cast("long")
    assert(df.filter(Md5Prefix64(col("s")) =!= chain).count() == 0)
    // null-safe
    assert(Seq[Option[String]](None).toDF("s")
      .select(Md5Prefix64(col("s")).isNull).head.getBoolean(0))
  }

  test("expression participates in whole-stage codegen") {
    val plan = spark.range(10)
      .select(Md5Prefix64(col("id").cast("string")).as("h"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [md5prefix64"), plan)
  }

  test("dot_d equals the higher-order aggregate/zip_with chain bit-for-bit") {
    import graft.functions.DotProductD
    val df = spark.range(0, 2000)
      .select(col("id"),
        expr("transform(sequence(0, 63), j -> sin(id * 1.0 + j) * 0.125)").as("x"),
        expr("transform(sequence(0, 63), j -> cos(id * 2.0 - j) * 0.25)").as("y"))
    val hof = expr(
      "aggregate(zip_with(x, y, (a, b) -> a * b), 0d, (acc, v) -> acc + v)")
    // bit-identical, not approximately equal: same sequential fold
    assert(df.filter(DotProductD(col("x"), col("y")) =!= hof).count() == 0)
    // null-safe on null arrays
    assert(df.limit(1)
      .select(DotProductD(lit(null).cast("array<double>"), col("y")).isNull)
      .head.getBoolean(0))
  }

  test("sqdist_l equals the higher-order aggregate/zip_with chain exactly") {
    import graft.functions.SqDistL
    val df = spark.range(0, 2000)
      .select(col("id"),
        expr("transform(sequence(0, 63), j -> cast(id * 7 + j * 3 as long))").as("x"),
        expr("transform(sequence(0, 63), j -> cast(id * 5 - j * 11 as long))").as("y"))
    val hof = expr(
      "aggregate(zip_with(x, y, (a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)")
    assert(df.filter(SqDistL(col("x"), col("y")) =!= hof).count() == 0)
    // null-safe on null arrays
    assert(df.limit(1)
      .select(SqDistL(lit(null).cast("array<long>"), col("y")).isNull)
      .head.getBoolean(0))
    // participates in whole-stage codegen (the starred Project) — built
    // over plain array columns so the interpreted `transform` inputs above
    // don't drag the whole projection out of codegen
    val plan = spark.range(10)
      .select(expr("transform(sequence(0, 3), j -> cast(j as long))").as("x"))
      .select(SqDistL(col("x"), col("x")).as("d"))
      .queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[sqdistl".r.findFirstIn(plan).isDefined, plan)
  }

  test("dot_d participates in whole-stage codegen") {
    import graft.functions.DotProductD
    val plan = spark.range(10)
      .select(expr("transform(sequence(0, 3), j -> cast(j as double))").as("x"))
      .select(DotProductD(col("x"), col("x")).as("d"))
      .queryExecution.executedPlan.toString
    // the starred project marks whole-stage codegen; the interpreted
    // higher-order transform below it is exactly what dot_d avoids
    assert("\\*\\(\\d+\\) Project \\[dotproductd".r.findFirstIn(plan).isDefined, plan)
  }

  test("shingles equals the array_distinct/transform chain, in order") {
    import graft.functions.Shingles
    val df = spark.range(0, 500)
      .select(split(concat_ws(" ",
        lit("a b c a b c d"), col("id").cast("string"),
        lit("x y"), col("id").cast("string")), " ").as("w"))
    val chain = expr(
      """array_distinct(CASE WHEN size(w) >= 3
        | THEN transform(sequence(1, size(w) - 2),
        |   i -> concat_ws(' ', element_at(w, i), element_at(w, i+1), element_at(w, i+2)))
        | ELSE array() END)""".stripMargin)
    assert(df.filter(Shingles(col("w")) =!= chain).count() == 0)
    // short docs produce the empty array, not null
    import spark.implicits._
    val short = Seq(Seq("a", "b")).toDF("w")
      .select(Shingles(col("w")).as("sh")).head.getSeq[String](0)
    assert(short.isEmpty)
  }

  /** Register every `GraftExtensions` SQL function on the live session —
    * the same builders `injectFunction` installs at session build.
    */
  private def registerSql(): Unit =
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  test("SQL registration via GraftExtensions injectFunction") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // constructs without error
    registerSql()
    val viaSql = spark.sql("SELECT md5_prefix64('hello') AS h").head.getLong(0)
    val viaCol = spark.range(1).select(Md5Prefix64(lit("hello"))).head.getLong(0)
    assert(viaSql == viaCol)

    val sh = spark.sql("SELECT shingles(array('a','b','c','d')) AS sh")
      .head.getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))

    val sim = spark.sql("SELECT simhash_sig(array('a','b','a')) AS s").head.getLong(0)
    val simCol = spark.range(1)
      .select(graft.functions.SimhashSig(array(lit("a"), lit("b"), lit("a"))))
      .head.getLong(0)
    assert(sim == simCol && sim != 0L)
    // null elements cast no vote (SQL callers can hand arrays with nulls)
    val simNull = spark.sql(
      "SELECT simhash_sig(array('a', CAST(NULL AS STRING), 'b', 'a')) AS s")
      .head.getLong(0)
    assert(simNull == sim)

    val hh = spark.sql(
      "SELECT heavy_hitters(v, 5) AS hh FROM VALUES ('x'),('x'),('y') t(v)")
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(hh.map(r => (r.getString(0), r.getLong(1))) == Seq(("x", 2L), ("y", 1L)))

    val dot = spark.sql(
      "SELECT dot_d(array(1d, 2d, 3d), array(4d, 5d, -6d)) AS d").head.getDouble(0)
    assert(dot == -4.0)

    val mk = spark.sql(
      "SELECT min_k(v, 2) AS m FROM VALUES ('c'),('a'),('b'),('a') t(v)")
      .head.getSeq[String](0)
    assert(mk == Seq("a", "b"))
  }

  test("SQL builders reject a non-literal k and a wrong argument count") {
    registerSql()
    def failure(sql: String): String = {
      val e = intercept[Throwable](spark.sql(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    }
    for (fn <- Seq("min_k", "heavy_hitters")) {
      val msg = failure(s"SELECT $fn(v, length(v)) FROM VALUES ('x') t(v)")
      assert(msg.contains(s"$fn: k must be an integer literal"), msg)
    }
    val arity = failure("SELECT dot_d(array(1d)) AS d")
    assert(arity.contains("dot_d takes 2 argument(s)"), arity)
  }

  test("deflate_len: deterministic, discriminates repetition, codegen == eval") {
    import graft.functions.DeflateLen
    import spark.implicits._
    val rep = "spam spam spam spam " * 200   // highly compressible
    val varied = (1 to 200).map(i => s"w${i * 7919}").mkString(" ") // high entropy
    // determinism across evaluations and evaluation paths
    val viaCol = Seq(rep, rep, varied).toDF("text")
      .select(DeflateLen(col("text")).as("n")).as[Int].collect()
    assert(viaCol(0) == viaCol(1), "same input must compress to the same size")
    assert(viaCol(0) == DeflateLen.len(rep.getBytes("UTF-8")),
      "codegen path must equal the direct evaluation")
    // the signal discriminates: repetition compresses far better
    val ratioRep = viaCol(0).toDouble / rep.getBytes("UTF-8").length
    val ratioVar = viaCol(2).toDouble / varied.getBytes("UTF-8").length
    assert(ratioRep < 0.1 && ratioVar > 0.3,
      s"ratios failed to separate: rep=$ratioRep varied=$ratioVar")
    // SQL registration path
    registerSql()
    assert(spark.sql("SELECT deflate_len('hello hello hello') AS n")
      .head.getInt(0) == DeflateLen.len("hello hello hello".getBytes("UTF-8")))
  }
}
