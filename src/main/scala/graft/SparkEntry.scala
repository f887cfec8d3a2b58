package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Registry.oracleSql

  /** The registered queries in the comma-separated `names`, in order. Fails
    * listing every name the registry does not have, so a typo never drops
    * a query silently. */
  def named(names: String): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val wanted = names.split(',').map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val unknown = wanted.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    wanted.map(n => n -> all(n))
  }
}
