package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All registered engine queries (each one operator from SURVEY.md §2 or
    * a beyond-reference pipeline operator), with DuckDB oracles.
    */
  val registry: Seq[QueryDef] =
    EventsQueries.all ++ RelationalQueries.all ++ PipelineQueries.all ++
      StreamMultimodalQueries.all ++ StoreQueries.all ++ CurationQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's canonical read: pruned range scan + LWW + order
    * (SURVEY.md §7.5), here over the events table.
    */
  def entry(spark: SparkSession): DataFrame =
    registry.find(_.name == "ts_lww_dedup").get
      .impl(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.impl).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> normalize(o))).toMap

  /** Collapse the Scala-source indentation to one line — keeps the JSON
    * dump readable and avoids any escaping surprises downstream.
    */
  private def normalize(sql: String): String =
    sql.trim.replaceAll("\\s+", " ")

  /** `<exception class>: <first message line>` — how the driver mains
    * name a failed row on stderr (a bare message can be null or a
    * many-line plan dump).
    */
  def describeFailure(e: Throwable): String =
    s"${e.getClass.getName}: " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
}
