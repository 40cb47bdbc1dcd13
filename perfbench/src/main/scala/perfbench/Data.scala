package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The fixed TPC-H-ish base tables every workload derives its seeded
  * inputs from, written at a given scale factor with the engine's own
  * deterministic generator (`graft.tools.GenScale`: pure hashes of the row
  * id, so a scale always yields the same rows). Each table is one parquet
  * file, the layout of the driver fixtures. The tables do not depend on the
  * seed, so they are generated once per build under the data dir run.py
  * passes and reused by later runs.
  */
object Data {
  val AllTables: Seq[String] = Seq("orders", "lineitem", "documents", "embeddings",
    "events", "customer", "supplier", "part", "nation", "region")

  def table(spark: SparkSession, name: String, sf: Double): DataFrame = {
    import graft.tools.GenScale
    import spark.implicits._
    name match {
      case "orders" => GenScale.orders(spark, sf)
      case "lineitem" => GenScale.lineitem(spark, sf)
      case "documents" => GenScale.documents(spark, sf)
      case "embeddings" => GenScale.embeddings(spark, sf)
      case "events" => GenScale.events(spark, sf)
      case "customer" => GenScale.customer(spark, sf)
      case "supplier" => GenScale.supplier(spark, sf)
      case "part" => GenScale.part(spark, sf)
      // the fixtures' fixed dimensions: 25 nations over 5 regions
      case "nation" =>
        (0 until 25).map(i => (i, s"NATION_$i", i % 5))
          .toDF("n_nationkey", "n_name", "n_regionkey")
      case "region" =>
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
          .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
    }
  }

  /** The dir holding `names` at scale `sf`, generating the missing ones. */
  def ensure(spark: SparkSession, root: Path, sf: Double, names: Seq[String]): Path = {
    val dir = Files.createDirectories(root.resolve(s"sf$sf"))
    names.foreach(n => derived(dir, n)(table(spark, n, sf)))
    dir
  }

  /** `dir/name.parquet`, written from `df` unless it exists (written aside
    * and renamed into place, so a cut run leaves no half table behind).
    */
  def derived(dir: Path, name: String)(df: => DataFrame): String = {
    val dst = dir.resolve(s"$name.parquet")
    if (!Files.exists(dst)) {
      val tmp = dir.resolve(s"$name.parquet.tmp-${ProcessHandle.current().pid()}")
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    dst.toString
  }

  /** Removes a directory tree. */
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  /** Bytes under a directory tree. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
