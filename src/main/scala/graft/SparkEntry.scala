package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * The full inventory lives in per-module registries (`Seq[Q]`); this object
  * only flattens them into the driver's `queries` / `oracleSql` maps.
  */
object SparkEntry {

  /** Every verifiable query the engine exposes (SURVEY.md §2 inventory). */
  val registry: Seq[Q] =
    graft.query.Relational.all ++
    graft.query.Extended.all ++
    graft.query.Skew.all ++
    graft.query.Functions.all ++
    graft.query.Temporal.all ++
    graft.query.JsonQueries.all ++
    graft.query.Pipelines.all ++
    graft.query.SketchQueries.all ++
    graft.query.TimeSeries.all ++
    graft.query.Formats.all ++
    graft.query.Skyline.all ++
    graft.query.Bucketed.all ++
    graft.query.Cdc.all ++
    graft.query.Constraints.all ++
    graft.query.Graph.all ++
    graft.plans.PlanQueries.all ++
    graft.llm.TextOps.all ++
    graft.llm.Bpe.all ++
    graft.llm.Fuzzy.all ++
    graft.llm.Compress.all ++
    graft.llm.VectorOps.all ++
    graft.llm.Pq.all ++
    graft.llm.Sampling.all ++
    graft.llm.Clustering.all ++
    graft.llm.Selection.all ++
    graft.llm.QualityModel.all ++
    graft.llm.PhraseIndex.all ++
    graft.llm.Retrieval.all ++
    graft.llm.SubstringDedup.all ++
    graft.llm.Dsir.all ++
    graft.llm.Multimodal.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * This is the reference's `query_data` commits chain (SURVEY.md §7.3)
    * mapped onto the star schema.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pipeline_parts")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (approx/hash-based operators) → driver records a rows-only check.
    */
  def oracleSql: Map[String, String] =
    registry.collect { case Q(n, Some(sql), _) => n -> sql }.toMap
}
