package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Keys, Time}
import graft.jql.Lexer

class FunctionsSpec extends AnyFunSuite {

  /** Property check over ScalaCheck generators (the scalatest bridge artifact
    * is not in the offline cache, so samples are drawn directly).
    */
  private def checkAll[T](gen: Gen[T], n: Int = 100)(body: T => Unit): Unit =
    Iterator.continually(gen.sample).flatten.take(n).foreach(body)
  import TestSpark._

  private val genProj: Gen[String] = for {
    head <- Gen.alphaUpperChar
    tail <- Gen.listOfN(4, Gen.oneOf(Gen.alphaUpperChar, Gen.numChar))
  } yield (head :: tail).mkString

  test("extractProjectKey inverts key construction (incl. multi-dash projects)") {
    import spark.implicits._
    val samples = Gen.listOfN(80, for {
      segs <- Gen.choose(1, 3)
      parts <- Gen.listOfN(segs, genProj)
      n <- Gen.choose(1, 999999)
    } yield (parts.mkString("-"), n)).sample.get
    val df = samples.map { case (p, n) => (p, s"$p-$n") }.toDF("proj", "key")
    val bad = df.filter(Keys.extractProjectKey(col("key")) =!= col("proj")).count()
    assert(bad == 0)
  }

  test("parseEpicKey and keyFromFilePath round-trip through the path rule") {
    import spark.implicits._
    val df = Seq("PROJ-1", "A1-B2-77", "X-123456").toDF("key")
      .withColumn("path", concat(lit("projects/"),
        Keys.extractProjectKey(col("key")), lit("/issues/"), col("key"), lit(".yaml")))
    assert(df.filter(Keys.keyFromFilePath(col("path")) =!= col("key")).count() == 0)
    val parsed = df.select(Keys.parseEpicKey(col("key")).as("e"), col("key"))
      .select(concat(col("e.project"), lit("-"), col("e.number")).as("re"), col("key"))
    assert(parsed.filter(col("re") =!= col("key")).count() == 0)
  }

  test("jira timestamp format → parse round-trips across the fallback formats") {
    import spark.implicits._
    val samples = Gen.listOfN(50, Gen.choose(
      java.sql.Timestamp.valueOf("1990-01-01 00:00:00").getTime,
      java.sql.Timestamp.valueOf("2030-01-01 00:00:00").getTime))
      .sample.get.map(ms => new java.sql.Timestamp(ms / 1000 * 1000)) // whole seconds
    val df = samples.map(_.toString).toDF("ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
      .withColumn("wire", Time.formatJiraTimestamp(col("ts")))
      .withColumn("back", Time.parseJiraTimestamp(col("wire")))
    assert(df.filter(col("back") =!= col("ts")).count() == 0)
    // each individual fallback format parses too
    val multi = df
      .withColumn("f2", Time.parseJiraTimestamp(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")))
      .withColumn("f3", Time.parseJiraTimestamp(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss")))
    assert(multi.filter(col("f2") =!= col("ts") || col("f3") =!= col("ts")).count() == 0)
    assert(df.sparkSession.range(1)
      .select(Time.parseJiraTimestamp(lit("not a date")).isNull.as("n"))
      .head.getBoolean(0))
  }

  test("lexer: doubled-quote escapes round-trip (property)") {
    checkAll(Gen.listOfN(6, Gen.oneOf(Gen.alphaNumChar, Gen.const('"'))).map(_.mkString)) { s =>
      val quoted = "\"" + s.replace("\"", "\"\"") + "\""
      val toks = Lexer.tokenize(s"summary = $quoted")
      val strTok = toks.collectFirst { case Lexer.TStr(v, _) => v }
      assert(strTok.contains(s))
    }
  }

  test("heavy hitters: exact when k >= cardinality; bounded + ranked under eviction") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 'a' strictly exceeds n/k = 110/2 = 55, inside space-saving's survival
    // guarantee; seeded shuffle keeps the partition interleaving stable
    val df = Seq.fill(60)("a") ++ Seq.fill(30)("b") ++ Seq.fill(15)("c") ++
      Seq.fill(4)("d") ++ Seq("e")
    val data = new scala.util.Random(42).shuffle(df).toDF("v").repartition(8)
    // exact regime: k >= 5 distinct values → true counts, ranked
    val exact = data.agg(graft.functions.HeavyHitters(col("v"), 10).as("hh"))
      .select(explode(col("hh"))).select("col.item", "col.cnt")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(exact == Seq("a" -> 60L, "b" -> 30L, "c" -> 15L, "d" -> 4L, "e" -> 1L))
    // eviction regime: k=2 → state stays bounded and the majority item
    // still ranks first. NOTE: the single-stream space-saving overestimate
    // guarantee does NOT survive merging k-bounded partial sketches — mass
    // evicted from a partition's summary before the merge is lost — so the
    // merged count may undercount (56 here vs 60 true, stable under the
    // fixed seed); identity of a strict majority item is what's preserved.
    val top2 = data.agg(graft.functions.HeavyHitters(col("v"), 2).as("hh"))
      .select(explode(col("hh"))).select("col.item", "col.cnt")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top2.length == 2)
    assert(top2.head._1 == "a" && top2.head._2 >= 50L && top2.head._2 <= 110L)
    // misuse fails at analysis, not mid-job
    intercept[Exception] {
      data.agg(graft.functions.HeavyHitters(col("v").cast("int"), 2)).collect()
    }
  }

  test("min_k: k smallest distinct values, ascending, bounded across partitions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vals = (1 to 500).map(i => f"K-$i%04d") ++ (1 to 500).map(i => f"K-$i%04d")
    val data = new scala.util.Random(7).shuffle(vals).toDF("v").repartition(16)
    val got = data.agg(graft.functions.MinK(col("v"), 20).as("mk"))
      .head.getSeq[String](0).toList
    assert(got == (1 to 20).map(i => f"K-$i%04d").toList) // distinct, sorted, k-capped
    // k larger than cardinality returns everything
    val all = data.agg(graft.functions.MinK(col("v"), 1000).as("mk"))
      .head.getSeq[String](0)
    assert(all.size == 500 && all == all.sorted)
    // nulls are skipped, groups aggregate independently
    val grouped = Seq(("g1", "b"), ("g1", "a"), ("g2", "z"), ("g1", null))
      .toDF("g", "v")
      .groupBy("g").agg(graft.functions.MinK(col("v"), 1).as("mk"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(grouped == Map("g1" -> List("a"), "g2" -> List("z")))
    // misuse fails at analysis, not mid-job
    intercept[Exception] {
      data.agg(graft.functions.MinK(col("v").cast("int"), 2)).collect()
    }
  }

  test("min_k equals sorted-distinct-take-k on arbitrary inputs (property)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val genCase = for {
      n <- Gen.choose(0, 60)
      vs <- Gen.listOfN(n, Gen.oneOf(Gen.alphaNumStr.map(_.take(8)),
        Gen.oneOf("", "a", "b", "zz")))
      k <- Gen.choose(1, 10)
    } yield (vs, k)
    checkAll(genCase, n = 25) { case (vs, k) =>
      val expected = vs.distinct.sorted.take(k)
      val got =
        if (vs.isEmpty) // agg over an empty frame: buffer stays empty
          Seq("x").toDF("v").filter(lit(false))
            .agg(graft.functions.MinK(col("v"), k)).head.getSeq[String](0)
        else vs.toDF("v").repartition(4)
          .agg(graft.functions.MinK(col("v"), k)).head.getSeq[String](0)
      assert(got.toList == expected,
        s"min_k($k) over $vs: got $got, expected $expected")
    }
  }
}
