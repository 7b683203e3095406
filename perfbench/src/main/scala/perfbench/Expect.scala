package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import com.fasterxml.jackson.databind.ObjectMapper

import graft.adsbx.Fixtures.{Ac, Inc}

/** Feature count plus an order-independent 64-bit hash of
  * (id, cot_type, callsign, speed, course, group) over every feature. */
final case class Digest(count: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, hash + o.hash)
}

object Digest {
  val empty: Digest = Digest(0, 0)

  def of(id: String, cotType: String, callsign: String, speed: Double,
      course: Double, group: Option[String]): Digest = {
    val s = s"$id\u0001$cotType\u0001$callsign\u0001$speed\u0001$course\u0001${group.getOrElse("\u0000")}"
    Digest(1, (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL))
  }

  private val mapper = new ObjectMapper()

  /** Digest of the FeatureCollection documents the sink received. */
  def ofCollections(docs: Iterable[String]): Digest =
    docs.foldLeft(empty) { (acc, doc) =>
      val fs = mapper.readTree(doc).get("features")
      var d = acc
      val it = fs.elements()
      while (it.hasNext) {
        val f = it.next()
        val p = f.get("properties")
        val g = p.path("metadata").get("group")
        d += of(f.get("id").asText, p.get("type").asText,
          p.get("callsign").asText, p.get("speed").asDouble,
          p.get("course").asDouble,
          if (g == null || g.isNull) None else Some(g.asText))
      }
      d
    }
}

/** The reference's per-record semantics (task.ts:136-249), written out
  * here in plain Scala from the generated records so that the expected
  * output never comes from the pipeline under test. */
object Expect {

  // Spark's trim, like the reference's on these inputs, strips spaces only
  private def trim(s: String): String = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
  private def falsy(s: Option[String]): Option[String] = s.filter(_.nonEmpty)
  private def truthy(d: Option[Double]): Boolean = d.exists(v => v != 0.0 && !v.isNaN)

  /** `(r || flight).toLowerCase().trim()`; None when the record is dropped. */
  def id(r: Option[String], flight: Option[String]): Option[String] =
    falsy(r).orElse(flight).map(s => trim(s.toLowerCase)).filter(_.nonEmpty)

  private def cotType(a: Ac, hostile: Boolean): String = {
    val emerg = if (hostile && a.emergency.exists(_ != "none")) "-h" else "-f"
    val civmil = if (a.dbFlags.exists(_ % 2 != 0)) "-M" else "-C"
    val airframe = a.category match {
      case Some("A0" | "A1" | "A2" | "A3" | "A4" | "A5" | "A6") => "-F"
      case Some("A7") => "-H"
      case Some("B2") => "-L"
      case _ => ""
    }
    "a" + emerg + "-A" + civmil + airframe
  }

  /** Last record per id, in arrival order (snapshots in order, then array
    * position). */
  def lastWins(snapshots: Iterator[Seq[Ac]]): mutable.LinkedHashMap[String, Ac] = {
    val m = mutable.LinkedHashMap.empty[String, Ac]
    snapshots.foreach(_.foreach(a => id(a.r, a.flight).foreach(m(_) = a)))
    m
  }

  /** Expected digest of the features for `winners`; with `includes`, only
    * allow-listed ids, enriched with the last truthy callsign and group. */
  def digest(winners: collection.Map[String, Ac], hostile: Boolean,
      includes: Option[Seq[Inc]]): Digest = {
    val allow: Option[Map[String, (Option[String], Option[String])]] =
      includes.map { incs =>
        incs.filter(i => falsy(i.registration).isDefined)
          .groupBy(i => trim(i.registration.get.toLowerCase))
          .map { case (k, is) =>
            val sorted = is.sortBy(_.inc_pos)
            k -> (sorted.flatMap(i => falsy(i.callsign)).lastOption,
              sorted.flatMap(i => falsy(Some(i.group))).lastOption)
          }
      }
    winners.foldLeft(Digest.empty) { case (acc, (k, a)) =>
      val own = trim(falsy(a.flight).getOrElse(""))
      val speed = a.gs.getOrElse(9999999.0d) * 0.514444d
      val course = if (truthy(a.track)) a.track.get else 9999999.0d
      allow match {
        case None => acc + Digest.of(k, cotType(a, hostile), own, speed, course, None)
        case Some(m) => m.get(k) match {
          case None => acc
          case Some((cs, g)) =>
            acc + Digest.of(k, cotType(a, hostile), cs.getOrElse(own), speed, course, g)
        }
      }
    }
  }
}
