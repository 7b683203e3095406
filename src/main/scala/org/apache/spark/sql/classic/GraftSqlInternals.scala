package org.apache.spark.sql.classic

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Narrow interop shim: expose `SparkSession.internalCreateDataFrame` and
  * `Dataset.ofRows` (both `private[sql]`) to graft code.
  *
  * Why `internalCreateDataFrame` exists: `Relational2.globalRank` attaches
  * global row ranks by per-partition arithmetic over the output of ONE
  * pinned range-shuffle lineage. Staying at the `InternalRow` level
  * (`queryExecution.toRdd` on the way down, `internalCreateDataFrame` on
  * the way back up) avoids two full per-row conversions — InternalRow→Row
  * through the deserializer and Row→InternalRow through the encoder — that
  * the public `DataFrame.rdd` / `createDataFrame(RDD[Row], schema)`
  * round-trip pays.
  * On a rank over 100 TB that round-trip is pure overhead proportional to
  * the data; the InternalRow path hands each shuffled row straight to the
  * scan's `UnsafeProjection`.
  *
  * Why `ofRows` exists: `AdsbxStream` analyzes its pipeline once per
  * query over a placeholder relation and, per micro-batch, swaps the
  * batch's plan in for the placeholder. Turning that rewritten logical
  * plan back into a DataFrame is exactly `Dataset.ofRows`; the public API
  * offers no plan-to-DataFrame entry point.
  *
  * This is the same package-injection pattern public Spark libraries use
  * for typed interop (e.g. frameless / spark-testing-base); it touches no
  * Spark internals beyond the two factory methods, and the rows it passes
  * obey the SQL contract (consumed-before-next, copied by the scan's
  * unsafe projection).
  */
object GraftSqlInternals {
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[SparkSession].internalCreateDataFrame(rdd, schema)

  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
}
