package graft

import graft.queries.CoreQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private def registry: Seq[graft.queries.Q] =
    (CoreQueries.all :+ graft.queries.ReferencePipeline.query) ++
      graft.queries.ExtQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q12.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The entries of [[queries]] named in `names` (comma-separated; the
    * whole registry when unset), sorted by name. A name that is not
    * registered throws IllegalArgumentException listing every such
    * name, so a typo fails loudly instead of selecting nothing. */
  def selected(names: Option[String] = sys.env.get("SPARK_GRAFT_QUERIES"))
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val only = names.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = only.getOrElse(Set.empty[String]).filterNot(all.contains)
    require(unknown.isEmpty, "SPARK_GRAFT_QUERIES names unregistered " +
      s"queries: ${unknown.toSeq.sorted.mkString(", ")}")
    all.toSeq.filter { case (n, _) => only.forall(_.contains(n)) }.sortBy(_._1)
  }
}
