package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.adsbx.AdsbxConfig
import graft.adsbx.Fixtures.{envelopeJson, Inc}
import graft.adsbx.sinks.FeatureSink
import graft.adsbx.sources.SnapshotSource
import graft.streaming.AdsbxStream

/** `live_poll`: the reference's production loop as a closed loop with one
  * poller. One long-running `AdsbxStream.run` query (includes filtering on,
  * a 100-entry allow-list) watches a directory; the generator writes one
  * snapshot, renames it into the directory atomically, and waits until the
  * query has submitted that snapshot's FeatureCollection before sending
  * the next. One operation is one poll: rename → return of the submit. */
object Poll {
  val PerSnapshot = 2000
  val WarmPolls = 10
  val MinPolls = 50

  def includesDf(spark: SparkSession, incs: Seq[Inc]): DataFrame = {
    import spark.implicits._
    incs.toDF()
  }

  def run(r: Run): Outcome = {
    val spark = r.spark
    val per = if (r.tiny) 500 else PerSnapshot
    // a snapshot holds half the fleet, so about half the allow-list matches
    val gen = new Gen(r.seed, 2 * per, per)
    val incs = gen.includes(100)
    val cfg = AdsbxConfig(includesFiltering = true, emergencyHostile = true)
    val watch = Files.createDirectories(r.work.resolve("watch"))
    val one = Files.createDirectories(r.work.resolve("one"))

    val done = new LinkedBlockingQueue[(Long, Long)]()
    val sink = (features: DataFrame, batchId: Long) => {
      FeatureSink.submitCollections(features, Collect.submit)
      done.put((batchId, System.nanoTime()))
    }
    // query start, done three times for a median set-up figure; the last
    // query stays up for the run
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    val startS = Stats.median((1 to 3).map { k =>
      if (query != null) { query.stop(); query.awaitTermination() }
      Stats.seconds {
        spark.conf.set("spark.sql.streaming.checkpointLocation",
          r.work.resolve(s"checkpoint$k").toString)
        query = AdsbxStream.run(
          spark.readStream.format(SnapshotSource.NAME).load(watch.toString)
            .select(col("body").as("value"), col("arrival_idx")),
          includesDf(spark, incs), cfg, sink, Trigger.ProcessingTime(0))
        // the first trigger runs one empty batch; let it pass
        query.processAllAvailable()
        done.clear()
      }._2
    })

    var records = 0L
    val warm = r.warmOps(WarmPolls)
    /** One poll; returns its latency in ms, its batch id and, when traced,
      * its counters. */
    def poll(i: Int, traced: Boolean): Option[(Double, Long, Counts)] = {
      val snap = gen.snapshot(i)
      records += snap.size
      val truth = Expect.digest(Expect.lastWins(Iterator(snap)), hostile = true, Some(incs))
      val expected = if (r.injectWrong) truth.copy(count = truth.count + 1) else truth
      val name = f"$i%08d.json"
      val tmp = watch.resolve(name + ".tmp")
      Files.writeString(tmp, envelopeJson(snap))
      Collect.drain()
      val res = r.attempt(s"poll $i") {
        val ((bid, latency), _, c) = Trace.measure(spark, traced, "poll", i) {
          val t0 = System.nanoTime()
          Files.move(tmp, watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          val got = done.poll(120, TimeUnit.SECONDS)
          if (got == null)
            throw new IllegalStateException(s"no batch within 120 s: ${query.exception}")
          (got._1, (got._2 - t0) / 1e6)
        }
        (latency, bid, c)
      }
      val got = Digest.ofCollections(Collect.drain())
      res.foreach { case (ms, _, _) =>
        r.check(s"poll $i", got == expected, s"$got, expected $expected")
        Log(f"poll $i%d: $ms%.1f ms")
      }
      Files.deleteIfExists(watch.resolve(name))
      res
    }

    val (_, warmS) = Stats.seconds((0 until warm).foreach(poll(_, false)))
    // a traced run reports no tail latency, so fewer polls serve it
    val minPolls = if (r.tiny) 3 else if (r.traced) MinPolls / 2 else MinPolls
    records = 0
    val untraced = Vector.newBuilder[Double]
    val traced = Vector.newBuilder[(Double, Long, Map[String, Double])]
    // the poll's own counters; they override the batch re-measure's
    def own(c: Counts) = c.spark + ("join.broadcast_bytes" -> c("broadcast_bytes"))
    var i = warm
    var n = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < r.seconds || n < minPolls) {
      val tr = r.traced && n % 2 == 1
      poll(i, tr).foreach { case (ms, bid, c) =>
        if (!tr) untraced += ms
        else if (n % 10 != 1) traced += ((ms, bid, own(c)))
        else {
          // every fifth traced poll: the stage split, re-measured in batch
          // on the same snapshot
          Files.writeString(one.resolve("000000.json"), envelopeJson(gen.snapshot(i)))
          val (m, _, _) = Stages.measure(r, i, one, includesDf(spark, incs), cfg)
          traced += ((ms, bid, m ++ own(c)))
        }
      }
      i += 1
      n += 1
    }
    query.stop()
    query.awaitTermination()

    val ms = untraced.result()
    val layer =
      if (!r.traced) Map.empty[String, Double]
      else {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        val byBatch = Trace.progress.asScala.filter(_.id == query.id)
          .map(p => p.batchId -> p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap)
          .toMap
        val t = traced.result()
        val streaming = t.flatMap { case (lat, bid, _) =>
          byBatch.get(bid).map { d =>
            val g = d.withDefaultValue(0.0)
            Map(
              "streaming.trigger_ms" -> g("triggerExecution"),
              "streaming.add_batch_ms" -> g("addBatch"),
              "streaming.query_planning_ms" -> g("queryPlanning"),
              "streaming.wal_commit_ms" -> g("walCommit"),
              "streaming.commit_offsets_ms" -> g("commitOffsets"),
              "streaming.latest_offset_ms" -> g("latestOffset"),
              // the offset commit follows the submit, so it is not part
              // of the latency: what remains is time before the trigger
              "streaming.wait_ms" -> (lat - (g("triggerExecution") - g("commitOffsets"))))
          }
        }
        Stats.medians(t.map(_._3)) ++ Stats.medians(streaming) +
          ("trace.overhead_frac" -> (Stats.median(t.map(_._1)) / Stats.median(ms) - 1))
      }
    Log(f"set-up: $startS%.2f s median repeated part, $warmS%.2f s warm-up")
    Outcome(startS + warmS, ms, records.toDouble / n, layer)
  }
}
