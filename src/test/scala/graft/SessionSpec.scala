package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.scalatest.funsuite.AnyFunSuite

/** The session policy lives in [[Session]] alone: its fixed keys reach the
  * session, and no other main builds a session of its own.
  */
class SessionSpec extends AnyFunSuite {
  import TestSpark._

  test("the factory sets the fixed keys, the cores, the log levels") {
    assert(Session.fixed.toMap == Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
    val conf = spark.sparkContext.getConf
    Session.fixed.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(spark.sparkContext.master == "local[8]")
    assert(conf.get("spark.sql.shuffle.partitions") == "8")
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
    assert(LogManager.getLogger(
      "org.apache.spark.sql.execution.streaming.FileStreamSink").getLevel == Level.ERROR)
  }

  test("no file under src/main/scala but the factory builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    val builders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toSeq
    assert(builders == Seq("graft/Session.scala"))
  }
}
