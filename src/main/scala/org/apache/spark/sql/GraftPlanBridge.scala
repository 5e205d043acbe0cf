package org.apache.spark.sql

import org.apache.spark.sql.execution.LogicalRDD

/** Drops the size estimate a checkpoint inherits from the plan that
  * computed it. The directed condensation loop in `Components` joins each
  * round's label checkpoint into the next round twice and merges the
  * result back, and a join's estimate is the product of its inputs', so an
  * inherited estimate gains about five times its digits per round: by the
  * eighth round planning stalls in BigInt arithmetic. Without it the
  * checkpoint plans as any RDD of unknown size (AQE still sees its real
  * size at run time). The LogicalRDD copy is `private[sql]` API, hence
  * this bridge next to [[GraftColumnBridge]].
  */
object GraftPlanBridge {
  def withoutOriginStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.queryExecution.logical match {
      case r: LogicalRDD =>
        classic.Dataset.ofRows(ds.sparkSession, r.copy()(ds.sparkSession, None, None))
      case _ => df
    }
  }
}
