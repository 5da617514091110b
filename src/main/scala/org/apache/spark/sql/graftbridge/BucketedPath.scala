package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{DataSource, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Bucketed parquet by path, with no catalog table: the
  * [[DataSource]] calls that `saveAsTable` and a catalog table read make,
  * given the bucket spec directly. The DataFrame API buckets only through
  * the catalog (`bucketBy` needs `saveAsTable`), yet the bucket spec is
  * all a reader needs: a scan of `read`'s relation reports the same
  * hash partitioning as a bucketed catalog table, so keyed joins and
  * aggregates over it plan no Exchange.
  */
object BucketedPath {

  /** Write `df` under `path` (which must not exist) as `buckets` bucket
    * files hashed on `key`, in `df`'s own session. */
  def write(df: DataFrame, path: String, key: String, buckets: Int): Unit = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val command = DataSource(session, "parquet", paths = Seq(path),
      bucketSpec = Some(BucketSpec(buckets, Seq(key), Nil)))
      .planForWriting(SaveMode.ErrorIfExists, PlanBridge.analyzed(df))
    session.sessionState.executePlan(command).assertCommandExecuted()
  }

  /** The bucketed parquet under `path` with `schema`, as [[write]] left it.
    * An empty write left no parquet file, and reads as no rows. */
  def read(spark: SparkSession, path: String, schema: StructType,
      key: String, buckets: Int): DataFrame = {
    val relation = DataSource(spark, "parquet", paths = Seq(path),
      userSpecifiedSchema = Some(schema),
      bucketSpec = Some(BucketSpec(buckets, Seq(key), Nil))).resolveRelation()
    PlanBridge.ofRows(spark, LogicalRelation(relation))
  }
}
