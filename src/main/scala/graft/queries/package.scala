package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** One registered engine query: the Spark implementation plus (when the op
    * is SQL-expressible) the equivalent DuckDB SQL the driver oracles against.
    * Column names/aliases MUST match between the two (driver sorts columns by
    * name before hashing).
    */
  final case class GQuery(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): GQuery =
    GQuery(name, fn, Some(oracle))
}
