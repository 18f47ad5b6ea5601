package graft

import graft.core.Violations
import graft.queries.{Registry, Tables, ValidationQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.immutable.HashMap

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2 + the training-data pipeline ops), each with an ANSI-SQL
  * oracle the driver runs in DuckDB over the same parquet tables. Both maps
  * are derived from [[graft.queries.Registry]], where each query sits next
  * to its oracle in its family's file under `graft/queries/`.
  */
object SparkEntry {

  /** Flagship: the lineitem rule-pack verdict on sf0.001 (driver smoke
    * checks rows > 0 — quantities above 45 exist at every sf). */
  def entry(spark: SparkSession): DataFrame =
    Violations.ruleCounts(
      Violations.validate(new Tables(spark, "/root/testdata/sf0.001", floor = true)("lineitem"),
        ValidationQueries.lineitemPack, Seq("l_orderkey")))
      .orderBy("path", "rule_id")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.byName.map { case (name, q) => name -> (q.run _) }

  /** A `HashMap` keyed by query id, so `oracle_sql.json` keeps its order. */
  def oracleSql: Map[String, String] = HashMap.from(Registry.all.map(q => q.name -> q.oracle))
}
