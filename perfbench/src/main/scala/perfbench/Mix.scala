package perfbench

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry
import graft.ops.Staging

/** `operator_mix`: a fixed set of `SparkEntry.queries` over the corpus,
  * each forced through a `noop` sink so every output column is computed.
  * `Staging` is cleared before each pass and the seed shuffles the query
  * order within a pass. One operation is one pass. */
object Mix {

  /** Row counts of each query on the corpus, pinned against the DuckDB
    * oracle (the query's `SparkEntry.oracleSql`). */
  val Expected: Map[String, Long] = Map(
    "graph_hits" -> 1761L,
    "graph_label_prop" -> 380L,
    "rel_sql_q3" -> 10L,
    "stream_dedup_lastwins" -> 9539L)
  val Queries: Vector[String] = Expected.keys.toVector.sorted
  val WarmPasses = 2

  def run(r: Run): Outcome = {
    val spark = r.spark
    val dir = r.corpus.toString
    val rng = new scala.util.Random(r.seed)
    // corpus rows, counted three times for a median set-up figure
    val tables = Seq("customer", "orders", "lineitem", "events")
    val counted = (1 to 3).map(_ => Stats.seconds(tables.map(graft.Tables(spark, dir, _).count()).sum))
    val corpusRows = counted.head._1
    val loadS = Stats.median(counted.map(_._2))

    /** One pass; returns its wall ms (every query's time, thrown ones
      * included) and, when traced, its counters and per-query figures. */
    def pass(p: Int, traced: Boolean): (Double, Map[String, Double]) = {
      Staging.clear(spark)
      Staging.setInstrumented(traced)
      Staging.drainBuildLog()
      var wall = 0.0
      val layer = scala.collection.mutable.Map.empty[String, Double]
      var counts = Counts.empty
      for (q <- rng.shuffle(Queries)) {
        val t0 = System.nanoTime()
        val rows = r.attempt(s"pass $p $q") {
          val (n, ms, c) = Trace.measure(spark, traced, q, p) {
            val o = Observation()
            SparkEntry.queries(q)(spark, dir).observe(o, count(lit(1)).as("n"))
              .write.format("noop").mode("overwrite").save()
            o.get("n").asInstanceOf[Long]
          }
          if (traced) {
            counts += c
            layer(s"ops.${q}_s") = ms / 1e3
            layer(s"ops.jobs.$q") = c("jobs")
          }
          n
        }
        wall += (System.nanoTime() - t0) / 1e6
        val want = if (r.injectWrong) Expected(q) + 1 else Expected(q)
        rows.foreach(n => r.check(s"pass $p $q", n == want, s"$n rows, expected $want"))
      }
      if (traced) {
        layer("ops.staging_s") = Staging.drainBuildLog().map(_._2).sum
        layer ++= counts.spark
      }
      Staging.setInstrumented(false)
      Log(f"pass $p%d: $wall%.1f ms${if (traced) " (traced)" else ""}")
      (wall, layer.toMap)
    }

    val (_, warmS) = Stats.seconds((1 to r.warmOps(WarmPasses)).foreach(i => pass(-i, false)))
    val untraced = Vector.newBuilder[Double]
    val traced = Vector.newBuilder[(Double, Map[String, Double])]
    val t0 = System.nanoTime()
    var p = 0
    // at least three passes of each kind for a median
    val minPasses = if (r.tiny) 2 else if (r.traced) 6 else 3
    while ((System.nanoTime() - t0) / 1e9 < r.seconds || p < minPasses) {
      p += 1
      if (r.traced && p % 2 == 0) traced += pass(p, true)
      else untraced += pass(p, false)._1
    }
    val ms = untraced.result()
    val layer =
      if (!r.traced) Map.empty[String, Double]
      else {
        val t = traced.result()
        Stats.medians(t.map(_._2)) +
          ("trace.overhead_frac" -> (Stats.median(t.map(_._1)) / Stats.median(ms) - 1))
      }
    Log(f"set-up: $loadS%.2f s median repeated part, $warmS%.2f s warm-up")
    Outcome(loadS + warmS, ms, corpusRows.toDouble, layer)
  }
}
