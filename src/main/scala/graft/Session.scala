package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession factory. Every main builds its session here,
  * so the session policy lives in one place:
  *   - master `local[cores]` (the Cli honours `SPARK_MASTER` instead);
  *   - shuffle partitions = cores;
  *   - UTC session time zone, TIMESTAMP(NANOS) parquet read as long, no UI;
  *   - WARN log level, with the FileStreamSink probe logger muted.
  *
  * `SPARK_MASTER` and `SPARK_GRAFT_CPUS` are its only inputs.
  */
object Session {

  /** Keys every session gets, whatever its master. */
  val fixed: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** `SPARK_GRAFT_CPUS`, else the caller's fallback. */
  def cpus(fallback: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", fallback.toString)

  /** A `local[cores]` session with `cores` shuffle partitions. */
  def local(cores: String): SparkSession = build(s"local[$cores]", cores)

  /** The Cli's session: `SPARK_MASTER` (else every local core), with
    * `SPARK_GRAFT_CPUS` (else 32) shuffle partitions.
    */
  def cli(): SparkSession =
    build(sys.env.getOrElse("SPARK_MASTER", "local[*]"), cpus(32))

  private def build(master: String, partitions: String): SparkSession = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", partitions)
    fixed.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    muteStreamProbe()
    spark
  }

  /** `spark.read.text` on a glob probes for a streaming-sink metadata dir and
    * logs a full FileNotFoundException stack at WARN — pure noise that eats
    * the bounded stdout tail that Bench's caller parses. Pin that one logger to
    * ERROR (both the Spark 3 and Spark 4 class locations).
    */
  private def muteStreamProbe(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      java.util.Map.of(
        "org.apache.spark.sql.execution.streaming.FileStreamSink",
        org.apache.logging.log4j.Level.ERROR,
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        org.apache.logging.log4j.Level.ERROR))
    catch { case _: Throwable => () }
}
