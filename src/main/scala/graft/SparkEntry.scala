package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries live in [[graft.queries.QueryPack]]s, one pack per operator
  * family from SURVEY.md §2; this object is the flat registry the driver
  * consumes. Each query key has a matching DuckDB oracle SQL entry unless
  * the operator is not SQL-expressible (approx sketches, LSH, streaming
  * internals) — those get the driver's rows-only check and ScalaTest
  * property coverage instead.
  */
object SparkEntry {
  private def packs: Seq[QueryPack] = Seq(
    RelationalQueries,
    MatrixQueries,
    WindowQueries,
    ScalarQueries,
    AggQueries,
    JoinQueries,
    SourceQueries,
    LlmQueries,
    StreamingQueries,
    AnalyticsQueries,
    MiningQueries
  )

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q03_join_agg")(spark, "/root/testdata/sf0.001")

  /** Merge pack maps, failing fast on duplicate keys (a later pack
    * silently shadowing an earlier one would desync queries vs oracles —
    * round-1 ADVICE fix). */
  private def merged[V](parts: Seq[Map[String, V]]): Map[String, V] = {
    val all = parts.flatten
    val dups = all.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"duplicate query keys across packs: ${dups.mkString(", ")}")
    all.toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. Merged once:
    * every pack map is a `val`, so the registry never changes. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(packs.map(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    merged(packs.map(_.oracles))
}
