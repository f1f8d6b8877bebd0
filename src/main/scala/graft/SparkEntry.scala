package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.QueryDef
import graft.engine.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every declared operator (SURVEY §2) from the ops modules.
  * Each entry pairs a Spark DataFrame builder with (where expressible)
  * ANSI SQL the DuckDB oracle runs over the same parquet tables.
  */
object SparkEntry {
  private def allDefs: Seq[QueryDef] =
    Relational.defs ++ LlmOps.defs ++ StreamingOps.defs ++ Formats.defs ++
      TextOps.defs ++ SimilarityOps.defs ++ Multimodal.defs ++
      WarehouseOps.defs ++ QualityOps.defs ++ GraphOps.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * q12: 6-table star join, revenue by nation — exercises the whole
    * relational spine (scan→filter→join→agg→sort). */
  def entry(spark: SparkSession): DataFrame =
    queries("q12_join_multiway")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** The local session the driver programs (Bench, Verify, Probe) run on:
    * `local[cpus]` with as many shuffle partitions, UTC, no UI, WARN logs,
    * and shuffle/spill on tmpfs scratch when available (see FastScratch). */
  def localSession(cpus: String): SparkSession = {
    val scratch = graft.engine.FastScratch.init()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    scratch.foreach(d => builder.config("spark.local.dir", d))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
