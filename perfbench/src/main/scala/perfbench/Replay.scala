package perfbench

import java.nio.file.Files

import graft.adsbx.{AdsbxConfig, Pipeline}
import graft.adsbx.Fixtures.envelopeJson
import graft.adsbx.sinks.FeatureSink
import graft.adsbx.sources.AdsbxSource

/** `replay_archive`: a batch replay of a seeded snapshot archive through
  * the real path — `AdsbxSource.fromSnapshotDir` → `Pipeline.features`
  * (includes filtering off) → `FeatureSink.submitCollections` into the
  * counting callback. Each airframe appears in about ten snapshots, so D1
  * does real shuffle work and a large feature set is serialized. One
  * operation is one pass over the whole archive. */
object Replay {
  val Snapshots = 12
  val PerSnapshot = 5000
  val WarmPasses = 16

  def run(r: Run): Outcome = {
    val (nSnap, per) = if (r.tiny) (4, 500) else (Snapshots, PerSnapshot)
    // each airframe shows up in about ten snapshots
    val gen = new Gen(r.seed, math.max(per, nSnap * per / 10), per)
    val dir = r.work.resolve("archive")
    // input generation, done three times for a median set-up figure
    val genS = Stats.median((1 to 3).map { _ =>
      Stats.seconds {
        Files.createDirectories(dir)
        for (i <- 0 until nSnap)
          Files.writeString(dir.resolve(f"$i%06d.json"), envelopeJson(gen.snapshot(i)))
      }._2
    })
    Log("archive written")
    val records = (0 until nSnap).map(i => gen.snapshot(i).size).sum
    val truth = Expect.digest(
      Expect.lastWins((0 until nSnap).iterator.map(gen.snapshot)), hostile = true, None)
    val expected = if (r.injectWrong) truth.copy(count = truth.count + 1) else truth

    Log("expectation computed")
    val cfg = AdsbxConfig(includesFiltering = false, emergencyHostile = true)
    val includes = Poll.includesDf(r.spark, gen.includes(100))

    def pass(i: Int): Option[Double] = {
      Collect.drain()
      val res = r.attempt(s"replay pass $i") {
        Trace.measure(r.spark, traced = false, "pass", i) {
          FeatureSink.submitCollections(
            Pipeline.features(AdsbxSource.fromSnapshotDir(r.spark, dir.toString), includes, cfg),
            Collect.submit)
        }._2
      }
      val got = Digest.ofCollections(Collect.drain())
      res.foreach { ms =>
        r.check(s"replay pass $i", got == expected, s"$got, expected $expected")
        Log(f"pass $i%d: $ms%.1f ms")
      }
      res
    }

    val (_, warmS) = Stats.seconds((1 to r.warmOps(WarmPasses)).foreach(i => pass(-i)))
    val untraced = Vector.newBuilder[Double]
    val traced = Vector.newBuilder[(Double, Map[String, Double])]
    val t0 = System.nanoTime()
    var i = 0
    // at least three operations of each kind for a median
    val minOps = if (r.traced) 6 else 3
    while ((System.nanoTime() - t0) / 1e9 < r.seconds || i < minOps) {
      i += 1
      if (r.traced && i % 2 == 0) {
        r.attempt(s"replay traced pass $i") {
          val (m, docs, wall) = Stages.measure(r, i, dir, includes, cfg)
          val got = Digest.ofCollections(docs)
          r.check(s"replay traced pass $i", got == expected, s"$got, expected $expected")
          traced += ((wall, m))
        }
      } else pass(i).foreach(untraced += _)
    }
    val ms = untraced.result()
    val layer =
      if (!r.traced) Map.empty[String, Double]
      else {
        val t = traced.result()
        Stats.medians(t.map(_._2)) +
          ("trace.overhead_frac" -> (Stats.median(t.map(_._1)) / Stats.median(ms) - 1))
      }
    Log(f"set-up: $genS%.2f s median repeated part, $warmS%.2f s warm-up")
    Outcome(genS + warmS, ms, records.toDouble, layer)
  }
}
