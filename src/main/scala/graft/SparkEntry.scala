package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the graded surface: one entry per implemented operator from
  * SURVEY.md §2 (reference parity, [[graft.queries.Parity]]) plus the
  * LLM-data-pipeline extension surface §2.10 ([[graft.queries.Ext]]).
  * `oracleSql` carries the DuckDB-equivalent SQL for the driver's
  * differential correctness gate, one entry per query.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full gold fact pipeline: 2 hash aggregates + FK join + 3-way left
    * join onto the distinct customer spine with guarded ratio columns. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_fact_summary")(spark, "/root/testdata/sf0.001")

  /** The catalog objects; `queries` and `oracleSql` are their union.
    * ContractSpec checks that no two objects share a name. */
  val catalog: Seq[graft.queries.Catalog] = {
    import graft.queries._
    Seq(Parity, Ext, Ext2, Ext3, Ext4, Ext5, Ext6, Ext7, Ext8, Ext9,
      Ext10, Ext11, Ext12, Ext13, Ext14, Ext15, Ext16)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.flatMap(_.queries).toMap

  val oracleSql: Map[String, String] = catalog.flatMap(_.oracle).toMap
}
