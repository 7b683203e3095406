package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Pins the private Spark APIs this library shims through
  * `org.apache.spark.sql.classic.GraftSqlInternals`:
  * `SparkSession.internalCreateDataFrame`, load-bearing for the whole rank
  * substrate (`Relational2.globalRank` / `groupedRank`, which the
  * percentile/winsorize/curriculum families ride), and `Dataset.ofRows`,
  * which `AdsbxStream` runs its once-analyzed pipeline through.
  *
  * Private APIs can drift on a Spark minor bump in two ways this suite
  * turns from a confusing runtime error into an actionable failure:
  *   - the `classic.SparkSession` concrete class moves/renames → the
  *     shim's downcast throws ClassCastException;
  *   - `internalCreateDataFrame`'s or `ofRows`' signature changes →
  *     LinkageError at the shim's call site.
  * Either way the fix is the same: update GraftSqlInternals.scala (and
  * only it — callers go through the one seam). */
class GraftSqlInternalsSpec extends SparkSpec {

  private val shim = "org.apache.spark.sql.classic.GraftSqlInternals"

  test("internalCreateDataFrame shim round-trips InternalRows on this Spark binary") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", org.apache.spark.sql.types.StringType)))
    val rows = spark.sparkContext.parallelize(Seq(
      (1L, "a"), (2L, "b"), (3L, null)), 2).map { case (id, s) =>
      val r = new GenericInternalRow(2)
      r.update(0, id)
      r.update(1, if (s == null) null else UTF8String.fromString(s))
      r: InternalRow
    }
    val df =
      try org.apache.spark.sql.classic.GraftSqlInternals
        .internalCreateDataFrame(spark, rows, schema)
      catch {
        case e @ (_: LinkageError | _: ClassCastException) =>
          fail(s"$shim no longer binds to this Spark binary " +
            s"(${org.apache.spark.SPARK_VERSION}): ${e.getClass.getSimpleName}" +
            s" ${e.getMessage}. SparkSession.internalCreateDataFrame is " +
            "private[sql] and unstable across minor versions — update the " +
            "shim; every rank-substrate caller goes through that one seam.", e)
      }
    assert(df.schema === schema)
    val got = df.orderBy("id").collect().map(r =>
      (r.getLong(0), Option(r.getString(1)).orNull))
    assert(got.toSeq === Seq((1L, "a"), (2L, "b"), (3L, null)))
  }

  test("ofRows shim turns a logical plan into a DataFrame on this Spark binary") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val id = AttributeReference("id", LongType, nullable = false)()
    val plan = LocalRelation(Seq(id), Seq(InternalRow(7L), InternalRow(8L)))
    val df =
      try org.apache.spark.sql.classic.GraftSqlInternals.ofRows(spark, plan)
      catch {
        case e @ (_: LinkageError | _: ClassCastException) =>
          fail(s"$shim no longer binds to this Spark binary " +
            s"(${org.apache.spark.SPARK_VERSION}): ${e.getClass.getSimpleName}" +
            s" ${e.getMessage}. Dataset.ofRows is private[sql] — update the " +
            "shim; AdsbxStream's per-batch rebind goes through it.", e)
      }
    assert(df.schema === StructType(Seq(StructField("id", LongType, nullable = false))))
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(7L, 8L))
  }
}
