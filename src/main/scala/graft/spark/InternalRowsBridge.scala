package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/**
 * A DataFrame's rows as Catalyst `InternalRow`s and back, with no conversion
 * to external `Row`s — what graft.cdc.SnapshotTable.merge needs to keep an
 * epoch's delta as rows in one persisted RDD and plan its later queries over
 * it. Both directions are `private[sql]` on the classic Dataset and session,
 * so, like [[ColumnSqlBridge]], this bridge lives in the
 * org.apache.spark.sql package solely to reach them; nothing else leaks out.
 */
object InternalRowsBridge {

  /** Run `body` over `df`'s rows inside one SQL execution of `df`'s plan,
    * so its jobs and plan metrics show up as that query's, as a Dataset
    * action's would. `body` must copy a row it keeps: the rows are reused. */
  def withRows[T](df: DataFrame, name: String)(body: RDD[InternalRow] => T): T = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.toRdd))
  }

  /** A DataFrame whose leaf is `rows`, which hold `schema`'s columns. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
