package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.GraftSqlInternals
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.adsbx.{AdsbxConfig, Pipeline}

/** E1 — the scheduled micro-batch driver (reference task.ts:98): each
  * platform invocation fetches one snapshot, transforms it, submits one
  * FeatureCollection. Structured Streaming's micro-batch model is exactly
  * this; here each micro-batch of envelope lines runs the full batch
  * pipeline (transform → D1 dedup → includes join → D2) via foreachBatch,
  * so dedup scope = one snapshot, matching the reference's stateless
  * between-invocations semantics (SURVEY §1.1).
  *
  * The pipeline is built and analyzed ONCE per query, not once per poll.
  * `Pipeline.features` is ~28 eager `withColumn`/`join`/`agg` steps, each
  * re-analyzing the growing plan; at a few thousand aircraft per poll that
  * analysis cost more than the rows did. So the query analyzes it over a
  * placeholder relation with the aircraft stream's schema and, per
  * micro-batch, swaps the batch's plan in for the placeholder (a Project
  * aliasing the batch's columns to the placeholder's attributes). The
  * includes DataFrame and `current_timestamp()` stay unevaluated in that
  * plan, so each batch still reads the allow-list and stamps its own
  * `time`/`start`, exactly as a fresh `Pipeline.features` would.
  *
  * Scale posture: foreachBatch reuses the batch plans (broadcast join,
  * partial-agg dedup); state across batches is zero, so the stream runs
  * indefinitely with constant memory.
  */
object AdsbxStream {

  /** Run the CoT pipeline over a stream of envelope JSON lines, delivering
    * each micro-batch's features to `sink`. Caller controls the trigger
    * (AvailableNow for one-shot/scheduled, ProcessingTime for continuous
    * polling). */
  def run(jsonLines: DataFrame, includes: DataFrame, cfg: AdsbxConfig,
          sink: (DataFrame, Long) => Unit,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val aircraft = graft.adsbx.sources.AdsbxSource.stream(jsonLines)
    val features = analyzedOnce(aircraft)(Pipeline.features(_, includes, cfg))
    aircraft.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(features(batch), id)
      }
      .trigger(trigger)
      .start()
  }

  /** `f` analyzed once, over a placeholder relation with `input`'s
    * schema; the returned function applies that analyzed plan to a
    * DataFrame of the same schema (a micro-batch of `input`), under that
    * DataFrame's session. */
  private def analyzedOnce(input: DataFrame)(
      f: DataFrame => DataFrame): DataFrame => DataFrame = {
    val placeholder = LocalRelation(DataTypeUtils.toAttributes(input.schema))
    val plan = f(GraftSqlInternals.ofRows(input.sparkSession, placeholder))
      .queryExecution.analyzed
    require(plan.collectLeaves().count(_ eq placeholder) == 1,
      "the analyzed pipeline must read its input exactly once")
    batch => {
      val in = batch.queryExecution.analyzed
      val bound = Project(in.output.zip(placeholder.output).map { case (b, p) =>
        Alias(b, p.name)(exprId = p.exprId)
      }, in)
      GraftSqlInternals.ofRows(batch.sparkSession,
        plan.transform { case l if l eq placeholder => bound })
    }
  }
}
