package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` and `oracleSql` are the two name-keyed views of one
  * [[graft.queries.QueryTable]]: the per-module inventories, each a
  * table of [[graft.queries.Query]] rows, so every query carries its
  * DuckDB oracle by construction and a name can appear only once.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The minimum end-to-end slice (SURVEY §7): catalog-bound
    * read -> transform -> group aggregate through the engine. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.queries.Star.table(spark, "/root/testdata/sf0.001", "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.queries.Star.sumDec($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  private lazy val inventory = graft.queries.Relational.inventory ++
    graft.queries.LlmQueries.inventory

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    inventory.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = inventory.oracleSql
}
