package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** A frame made straight from a one-node `LogicalRDD` plan over a frame's
  * computed rows, and a frame's computed rows run under one SQL
  * execution. `Dataset.ofRows` and `LogicalRDD.fromDataset` are
  * package-private to Spark SQL, hence this shim in Spark's package. */
object LineageCut {

  /** Runs `df`'s plan once inside one SQL execution (every shuffle stage
    * below its last exchange executes here) and returns a frame whose plan
    * is the single `LogicalRDD` over the resulting RDD. */
  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("pin"))(qe.executedPlan.execute())
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }

  /** Counts `df`'s rows with one job under its own SQL execution. */
  def count(df: DataFrame): Long = rows(df, "pin")(_.count())

  /** Runs `f` over the rows of `df`'s executed plan inside one SQL
    * execution named `name`. */
  def rows[A](df: DataFrame, name: String)(f: RDD[InternalRow] => A): A = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(f(qe.executedPlan.execute()))
  }
}
