package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.adsbx.{AdsbxConfig, CotTransform, Dedup, IncludesJoin, Pipeline}
import graft.adsbx.sinks.FeatureSink
import graft.adsbx.sources.AdsbxSource

/** One benchmark run: its arguments, and the tally of operations attempted
  * and failed. An operation fails when it throws or its output check
  * fails; both count, and neither is dropped from a time. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: Path, val tiny: Boolean,
    val injectWrong: Boolean, val corpus: Path) {
  var attempted = 0L
  var failed = 0L

  /** Runs one operation; a throw counts as a failure and yields None. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        Log(s"$what threw: $e")
        None
    }
  }

  /** Warm-up length: `normal` operations, twice that in a traced run, which
    * compares traced with untraced operations and so wants them steadier. */
  def warmOps(normal: Int): Int =
    if (tiny) 1 else if (traced) 2 * normal else normal

  /** Records a failed output check of an operation already attempted. */
  def check(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      failed += 1
      Log(s"$what: wrong output: $detail")
    }
}

/** What a workload hands back: set-up seconds beyond session start, the
  * measured operations' latencies, input records per operation, and (in a
  * traced run) the per-layer metrics. */
final case class Outcome(setupS: Double, opMs: Seq[Double],
    recordsPerOp: Double, layer: Map[String, Double])

/** The counting submit callback: keeps each FeatureCollection document for
  * the check that follows the operation. */
object Collect {
  private val docs = new ConcurrentLinkedQueue[String]()
  val submit: String => Unit = doc => { docs.add(doc); () }
  def drain(): Vector[String] = {
    val out = Vector.newBuilder[String]
    var d = docs.poll()
    while (d != null) { out += d; d = docs.poll() }
    out.result()
  }
}

/** Progress lines on standard error, stamped with seconds since start. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%.1f] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  /** Per-key medians over a list of metric maps. */
  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> median(ms.flatMap(_.get(k)))).toMap
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The `adsbx` stage split: the whole pipeline, then cumulative prefixes
  * of it, each materialized through a `noop` sink with the public stage
  * functions — source; + keyed + D1; + derived; + includes join.
  * Differences of neighbouring prefixes are the stage times, and the whole
  * pipeline minus the join prefix is the sink's. With includes filtering
  * off the join returns its input, so its prefix is the transform prefix
  * and join.ms is 0. */
object Stages {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Measures the stages over the snapshot directory `dir`; returns the
    * per-layer metrics, the documents the whole pipeline submitted and its
    * wall time in ms. */
  def measure(r: Run, op: Int, dir: Path, includes: DataFrame,
      cfg: AdsbxConfig): (Map[String, Double], Vector[String], Double) = {
    val spark = r.spark
    def stage(name: String)(body: => Unit): (Double, Counts) = {
      val (_, ms, c) = Trace.measure(spark, traced = true, name, op)(body)
      (ms, c)
    }
    val src = AdsbxSource.fromSnapshotDir(spark, dir.toString)
    val deduped = Dedup.lastWins(CotTransform.keyed(src), "id", "seq")
    val derived = CotTransform.derived(deduped, cfg.emergencyHostile)
    // the whole pipeline first, so that it runs after the same work as an
    // untraced operation does, and its wall compares with theirs
    Collect.drain()
    val (tAll, cAll) = stage("sinks") {
      FeatureSink.submitCollections(Pipeline.features(src, includes, cfg), Collect.submit)
    }
    val docs = Collect.drain()
    val (tSrc, cSrc) = stage("sources")(noop(src))
    val (tDedup, cDedup) = stage("dedup")(noop(deduped))
    val (tDerived, _) = stage("transform")(noop(derived))
    val (tJoin, cJoin) =
      if (!cfg.includesFiltering) (tDerived, Counts.empty)
      else stage("join")(noop(IncludesJoin(derived, includes, true)))
    // row counts of each prefix, from one more (untimed) run of the
    // pipeline with an observation after each stage
    val os = Vector.fill(4)(Observation())
    def observed(df: DataFrame, i: Int) = df.observe(os(i), count(lit(1)).as("n"))
    val probe = IncludesJoin(CotTransform.derived(observed(Dedup.lastWins(
      observed(CotTransform.keyed(observed(src, 0)), 1), "id", "seq"), 2),
      cfg.emergencyHostile), includes, cfg.includesFiltering)
    noop(observed(probe, 3))
    val Seq(records, rowsIn, rowsOut, joined) =
      os.map(_.get("n").asInstanceOf[Long].toDouble)
    val listing = Files.list(dir)
    val bytesIn = try listing.iterator().asScala.map(Files.size).sum.toDouble
      finally listing.close()
    (cAll.spark ++ Map(
      "sources.parse_ms" -> tSrc,
      "sources.bytes_in" -> bytesIn,
      "sources.records_out" -> records,
      "sources.tasks" -> cSrc("tasks"),
      "dedup.ms" -> (tDedup - tSrc),
      "dedup.rows_in" -> rowsIn,
      "dedup.rows_out" -> rowsOut,
      "dedup.keep_ratio" -> rowsOut / rowsIn,
      "dedup.shuffle_bytes" -> cDedup("shuffle_write"),
      "transform.ms" -> (tDerived - tDedup),
      "join.ms" -> (tJoin - tDerived),
      "join.match_ratio" -> joined / rowsOut,
      "join.broadcast_bytes" -> cJoin("broadcast_bytes"),
      "sinks.submit_ms" -> (tAll - tJoin),
      "sinks.features" -> Digest.ofCollections(docs).count.toDouble,
      "sinks.collections" -> docs.size.toDouble,
      "sinks.bytes_out" -> docs.map(_.length.toLong).sum.toDouble), docs, tAll)
  }
}
