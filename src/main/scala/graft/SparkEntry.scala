package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract and gate registry — see SURVEY.md §7.
  *
  * `gates` is the engine's operator inventory: one [[graft.queries.Gate]] per
  * implemented operator from SURVEY.md §2 plus the training-data-pipeline
  * extensions (§7.7), each naming its query and its DuckDB oracle SQL
  * once. `queries` and `oracleSql` are views of it.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full CDC comparison engine (synthesized sides → normalize →
    * full-outer compare → status counts). */
  def entry(spark: SparkSession): DataFrame =
    CdcQueries.cdc01StatusCounts(spark, "/root/testdata/sf0.001")

  val gates: Seq[Gate] =
    RelationalQueries.gates ++ AnalyticQueries.gates ++ TextQueries.gates ++
      DedupQueries.gates ++ SimilarityQueries.gates ++ PqQueries.gates ++
      GraphAnnQueries.gates ++ StreamSearchQueries.gates ++ CdcQueries.gates ++
      LifecycleQueries.gates ++ MultimodalQueries.gates ++
      PipelineQueries.gates ++ GraphQueries.gates

  require(gates.map(_.name).distinct.size == gates.size,
    "gate names must be distinct: " + gates.groupBy(_.name)
      .collect { case (n, gs) if gs.size > 1 => n }.toSeq.sorted.mkString(", "))

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap

  /** The session every gate driver (Bench, Verify, PlanDump) runs in, on
    * `cpus` local cores.
    *
    * Small-file scan parallelism: the sf0.1 parquet tables are one or two
    * row groups, so compute-heavy SCAN stages (shingle hashing, cosine,
    * simhash) would otherwise run on ≤2 of the cores. minPartitionNum
    * splits the scan to the core count — the local analogue of sizing
    * maxPartitionBytes to the cluster; at real scale file volume provides
    * this parallelism on its own.
    *
    * Evaluated and NOT adopted (r9): lowering the AQE coalesce floor
    * (spark.sql.adaptive.coalescePartitions.minPartitionSize=64KB) to
    * spread p01's 2-task shingle stages looked like a win in isolated
    * consecutive runs (2.2 s → 1.4 s) but in the full bench context it
    * left p01 flat (~2.24 s — the residual is driver-side codegen re-JIT +
    * 10 sequential AQE job barriers, not task skew) while slowing the
    * whole d-family 1.2–1.46× (finer partitions = more task overhead on
    * already-fast queries). docs/PLANS.md has the stage-level attribution.
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions) // SQL function surface
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.minPartitionNum", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
