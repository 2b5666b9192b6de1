package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One slice of the graded surface: query builders keyed by name, and
  * the DuckDB SQL of each query's oracle under the same key. */
trait Catalog {
  val queries: Map[String, (SparkSession, String) => DataFrame]
  val oracle: Map[String, String]
}
