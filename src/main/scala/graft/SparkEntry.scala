package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry._

/** Driver contract — query registry + DuckDB oracle SQL.
  *
  * Conventions shared by every oracle-checked query (SURVEY §5):
  *   - Money/value doubles are exactly 2-decimal in the testdata, so
  *     aggregates run on integer cents (`floor(x*100+0.5)` per row, summed as
  *     BIGINT). Integer sums are order-independent → bit-exact between Spark
  *     and DuckDB regardless of reduction order. No floating-point hash flakes.
  *   - Timestamps cross the engine boundary as epoch millis (BIGINT) to dodge
  *     timezone/precision representation differences.
  *   - Every computed column is aliased identically in the Spark plan and the
  *     oracle SQL (the driver's compare sorts columns by name).
  *
  * Every query is declared once, as a [[registry.Query]] in its family's
  * file under `registry/`, next to its oracle SQL and the legs and oracle
  * fragments only that family reads. Helpers two or more families read live
  * in [[registry.Shared]]. This object only assembles the families.
  */
object SparkEntry {

  /** `entries` by name. A name declared twice fails here, and the error
    * names it.
    */
  private[graft] def index(entries: Seq[Query]): Map[String, Query] = {
    val twice = entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty,
      s"query declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    entries.map(q => q.name -> q).toMap
  }

  private lazy val registered: Map[String, Query] = index(
    GamingQueries.entries ++ EventStatsQueries.entries ++ TpchQueries.entries ++
      NearDupQueries.entries ++ AnnQueries.entries ++ EmbeddingQueries.entries ++
      TextQueries.entries ++ QualityQueries.entries ++ CurationQueries.entries ++
      TimeSeriesQueries.entries ++ MediaQueries.entries)

  /** Every registered query's plan over (session, scale-factor dir), by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.map { case (n, q) => n -> q.plan }

  /** The DuckDB oracle SQL of every query that has one, by name. */
  lazy val oracleSql: Map[String, String] =
    registered.collect { case (n, Query(_, _, Some(sql))) => n -> sql }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("hourly_team_score")(spark, "/root/testdata/sf0.001")
}
