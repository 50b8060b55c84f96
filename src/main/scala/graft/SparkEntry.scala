package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module; each entry has a matching
  * DuckDB oracle in `oracleSql` unless the operation is not SQL-expressible
  * (then the driver records a rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Uses the 6-way join + broadcast-dim aggregation (TPC-H Q5 shape). */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q05_local_supplier")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Text.queries ++ Dedup.queries ++ Graph.queries ++
      Similarity.queries ++ Multimodal.queries ++ Stats.queries ++
      TrainPrep.queries ++ Lifecycle.queries

  /** The one query selector (`SPARK_GRAFT_ONLY`, `ScaleMain run`'s list):
    * comma-separated exact names, trimmed, blanks dropped. A blank value
    * means unset (`None`: the caller's default set), never "select zero
    * queries silently", and a name that is not a query fails naming it —
    * a typo must not read as a clean run of fewer queries. */
  def parseOnly(raw: Option[String]): Option[Set[String]] = {
    val names = raw.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    val known = queries.keySet
    val unknown = names.toSeq.flatten.filterNot(known).sorted
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    names
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Text.oracles ++ Dedup.oracles ++ Graph.oracles ++
      Similarity.oracles ++ Multimodal.oracles ++ Stats.oracles ++
      TrainPrep.oracles ++ Lifecycle.oracles
}
