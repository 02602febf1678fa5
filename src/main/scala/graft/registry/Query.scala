package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its plan over (session, scale-factor
  * directory), and, when it has one, the DuckDB SQL that must return the
  * same rows.
  */
final case class Query(
    name: String,
    plan: (SparkSession, String) => DataFrame,
    oracleSql: Option[String]) {

  /** This query, checked against `sql`. */
  def oracle(sql: String): Query = copy(oracleSql = Some(sql))
}

object Query {

  /** A query with no oracle; add one with [[Query.oracle]]. */
  def apply(name: String)(plan: (SparkSession, String) => DataFrame): Query =
    Query(name, plan, None)
}
