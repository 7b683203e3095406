package graft.adsbx

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.adsbx.sources.AdsbxSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Every envelope is parsed once. Catalyst infers a non-empty-array filter
  * from an inner `posexplode` and pushes it below the projection that
  * holds `from_json`, which would parse each envelope three times (once
  * per filter predicate, once for the rows); these pin the optimized plans
  * of every source entry point at exactly one `JsonToStructs`, and the
  * PERMISSIVE split's rows at what the two-filter form produced. */
class ParseOnceSpec extends SparkSpec {

  private def parses(plan: LogicalPlan): Int =
    plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j })).size

  /** Parses in `df`'s optimized plan. An input built from a local Seq is
    * folded into a LocalRelation during optimization (parsed on the
    * driver), which hides the shape; with that fold off, the plan is the
    * one the same entry point runs over a distributed input. */
  private def parses(df: DataFrame): Int = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try parses(df.queryExecution.optimizedPlan)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private val valid = Fixtures.envelopeJson(Fixtures.aircraft.take(3))

  test("fromJsonStrings parses each envelope once") {
    assert(parses(AdsbxSource.fromJsonStrings(spark, Seq(valid, valid))) == 1)
  }

  test("fromSnapshotDir parses each envelope once") {
    val dir = Files.createTempDirectory("graft_parse_once")
    Files.writeString(Paths.get(dir.toString, "s1.json"), valid)
    val df = AdsbxSource.fromSnapshotDir(spark, dir.toString)
    assert(parses(df) == 1)
    assert(df.count() == 3)
  }

  test("stream parses each envelope once per micro-batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val q = AdsbxSource.stream(input.toDF())
      .writeStream.format("memory").queryName("parse_once_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(valid)
      q.processAllAvailable()
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(parses(exec.optimizedPlan) == 1)
    } finally q.stop()
    assert(spark.table("parse_once_stream").count() == 3)
  }

  test("PERMISSIVE split parses once on each side, rows unchanged") {
    val inputs = Seq(
      valid,
      """{"msg":"ok","ac":42}""",         // malformed: ac is not an array
      "not json at all",                   // malformed: not JSON
      """{"msg":"ok"}""",                  // ac-less
      """{"msg":"ok","ac":null}""",        // ac explicitly null
      """{"msg":"ok","ac":[]}""",          // valid, no aircraft
      valid)
    val (good, bad) = AdsbxSource.fromJsonStringsPermissive(spark, inputs)
    assert(parses(good) == 1)
    assert(parses(bad) == 1)

    // the split as it was written before the single-parse form
    import spark.implicits._
    val parsed = inputs.toDF("value").withColumn("env",
      from_json(col("value"), Schemas.envelope, Map("mode" -> "PERMISSIVE")))
    val badBefore = parsed.filter(col("env").isNull || col("env.ac").isNull)
      .select(col("value"))
    val goodBefore = parsed.filter(col("env").isNotNull && col("env.ac").isNotNull)
      .select(posexplode(col("env.ac")).as(Seq("seq", "ac")))
      .select(col("seq").cast("long").as("seq"), col("ac.*"))

    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(good) == rows(goodBefore))
    assert(rows(bad) == rows(badBefore))
    assert(good.count() == 6) // three aircraft from each valid envelope
    assert(bad.collect().map(_.getString(0)).toSet == Set(
      """{"msg":"ok","ac":42}""", "not json at all", """{"msg":"ok"}""",
      """{"msg":"ok","ac":null}"""))
  }
}
