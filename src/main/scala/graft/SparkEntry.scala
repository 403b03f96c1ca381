package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.GQuery

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All capabilities are registered as [[graft.core.GQuery]] values in the
  * per-module registries below; this object only aggregates them into the
  * `queries` / `oracleSql` maps the driver consumes.
  */
object SparkEntry {

  /** Every registered capability, in display order. */
  def allQueries: Seq[GQuery] =
    _root_.graft.queries.Relational.defs ++
      _root_.graft.queries.EtlParity.defs ++
      _root_.graft.queries.Analytics.defs ++
      _root_.graft.queries.TextDedup.defs ++
      _root_.graft.queries.SimilarityQueries.defs ++
      _root_.graft.queries.SamplingQueries.defs ++
      _root_.graft.queries.Advanced.defs

  /** The registered gates named in `names`, in that order. Throws an
    * IllegalArgumentException that names every unknown name, so a typo in
    * a dev subset fails the run instead of silently dropping a gate. */
  def gates(names: Seq[String]): Seq[GQuery] = {
    val byName = allQueries.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains).distinct
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown gate name(s): ${unknown.map(n => s"'$n'").mkString(", ")}")
    names.map(byName)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allQueries.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
