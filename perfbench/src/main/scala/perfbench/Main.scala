package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds the session, runs one workload and
  * writes the run's raw figures as JSON to `--result`.
  *
  * Arguments: `--workload replay_archive|live_poll|operator_mix --seed N
  * --seconds S --trace 0|1 --work DIR --corpus DIR --result FILE`, plus
  * `--tiny` (smallest inputs, for the self-test) and `--inject-wrong` (off
  * by one in every expectation, to show that the checks fire). */
object Main {

  def main(args: Array[String]): Unit = {
    val flags = Set("--tiny", "--inject-wrong")
    def parse(xs: List[String]): Map[String, String] = xs match {
      case f :: rest if flags(f) => parse(rest) + (f -> "1")
      case k :: v :: rest if k.startsWith("--") => parse(rest) + (k -> v)
      case Nil => Map.empty
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    val a = parse(args.toList)
    val work = Files.createDirectories(Paths.get(a("--work")).toAbsolutePath)
    val (spark, sessionS) = Stats.seconds {
      val s = SparkSession.builder()
        .master(s"local[${Trace.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", Trace.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.local.dir", work.resolve("local").toString)
        .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.conf.set("spark.sql.streaming.checkpointLocation", work.resolve("checkpoint").toString)
      s.range(1000).selectExpr("sum(id)").collect()
      s
    }
    Log(f"set-up: $sessionS%.2f s session")
    val traced = a("--trace") == "1"
    if (traced) Trace.install(spark)
    val run = new Run(spark, a("--seed").toLong, a("--seconds").toDouble, traced,
      work, a.contains("--tiny"), a.contains("--inject-wrong"),
      Paths.get(a("--corpus")).toAbsolutePath)
    val workload = a("--workload")
    val out = workload match {
      case "replay_archive" => Replay.run(run)
      case "live_poll" => Poll.run(run)
      case "operator_mix" => Mix.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // a collected broadcast or shuffle is freed by Spark's cleaner thread
    // only after the collection that finds it, so collect until it settles
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val storage = spark.sparkContext.getRDDStorageInfo
    val p50 = Stats.median(out.opMs)
    val e2e = Map(
      "setup_s" -> (sessionS + out.setupS),
      "latency_p50_ms" -> p50,
      "latency_p80_ms" -> Stats.quantile(out.opMs, 0.8),
      "records_per_s" -> out.recordsPerOp / (p50 / 1e3),
      "retained_heap_mb" -> heapMb)
    val layer = out.layer ++ Map(
      "spark.persisted_rdds_after" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
      "spark.storage_mb_after" -> storage.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    if (traced) Trace.writeSpans(work.resolve("spans.jsonl"))

    def obj(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        val num = if (v.isNaN || v.isInfinite) "null" else v.toString
        s""""$k":$num"""
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(a("--result")),
      s"""{"workload":"$workload","attempted":${run.attempted},"failed":${run.failed},""" +
        s""""ops":${out.opMs.size},"e2e":${obj(e2e)},"layer":${obj(layer)}}""")
    graft.ops.Fs.cleanupAppScratch(spark)
    Log("result written")
    spark.stop()
    Log("session stopped")
  }
}
