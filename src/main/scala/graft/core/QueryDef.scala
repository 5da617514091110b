package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: the Spark implementation plus (when the semantics
  * are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL over the
  * same parquet tables, used by the driver's correctness gate.
  *
  * Column-name contract: the Spark result and the oracle result must
  * alias every output column identically — the driver sorts columns by
  * name before hashing values.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    description: String = "")

object QueryDef {
  def apply(description: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(build, Some(oracle), description)
}
