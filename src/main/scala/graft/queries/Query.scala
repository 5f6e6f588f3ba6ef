package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: the engine-side `build` over a corpus
  * directory and the DuckDB SQL that must produce the same rows on the
  * same parquet tables. A query carries its oracle by construction. */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracleSql: String)

/** A query inventory: rows with distinct names, and the two name-keyed
  * views (`queries`, `oracleSql`) that [[graft.SparkEntry]] exposes. */
final class QueryTable private (private val rows: Seq[Query]) {
  {
    val dups = rows.groupBy(_.name).collect {
      case (n, rs) if rs.size > 1 => n
    }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    rows.map(q => q.name -> q.oracleSql).toMap

  def ++(other: QueryTable): QueryTable = new QueryTable(rows ++ other.rows)
}

object QueryTable {
  def apply(rows: Query*): QueryTable = new QueryTable(rows)
}
