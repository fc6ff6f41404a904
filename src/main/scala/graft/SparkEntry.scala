package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`: one entry per implemented operator from SURVEY.md §2 (plus the
  * LLM-pipeline extensions). `oracleSql`: equivalent DuckDB SQL over the same
  * parquet tables; column names/aliases match the Spark side exactly.
  */
object SparkEntry {

  /** Session settings every entry point needs (applied by entry and
    * [[localSession]]; harmless when already set): events.ts is nanosecond
    * parquet which Spark only reads as bigint-nanos via the legacy flag;
    * UTC keeps timestamp rendering engine-independent.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // coalesce tiny shuffles by size, not parallelism — iterative loops
    // (explore) and small dimension stages otherwise pay 32 empty tasks
    // per exchange; at full scale the advisory size keeps partitions fat.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    spark
  }

  /** The one session builder: `local[cpus]` with as many shuffle
    * partitions, no UI, WARN logging and [[tune]]'s settings. `cpus`
    * defaults to `SPARK_GRAFT_CPUS` (4 when unset), the core count every
    * harness main runs at.
    */
  def localSession(
      cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_regional_revenue")(tune(spark), "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.all ++
      graft.queries.EventsQ.all ++
      graft.queries.TextQ.all ++
      graft.queries.SimQ.all ++
      graft.queries.EngineQ.all ++
      graft.queries.CorpusQ.all

  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.EventsQ.oracles ++
      graft.queries.TextQ.oracles ++
      graft.queries.SimQ.oracles ++
      graft.queries.EngineQ.oracles ++
      graft.queries.CorpusQ.oracles
}
