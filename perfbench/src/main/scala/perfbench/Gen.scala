package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

import graft.adsbx.Fixtures.{Ac, Inc}

/** The stable identity of one airframe: what every record of it shares. */
private final case class Airframe(hex: String, typ: String,
    flight: Option[String], r: Option[String], t: Option[String],
    dbFlags: Option[Double], category: Option[String], squawk: Option[String])

/** Seeded generator of ADSBX snapshots and allow-lists.
  *
  * A fleet of airframes is drawn once; each snapshot samples about
  * `perSnapshot` distinct airframes and gives each fresh kinematics. Every
  * quirk FIXTURES.md A2 names occurs: ids from `r` or, when `r` is empty or
  * absent, from `flight`; padded and mixed-case ids; whitespace-only and
  * absent ids (dropped); `track: 0`, `alt_geom: 0`, `gs: 0`,
  * `alt_baro: "ground"`; `dbFlags` 0, 1, 3.5 and absent; emergencies;
  * categories A0-A7, B2, an unknown one and absent; and records repeated
  * later in the same snapshot (last wins). The rates at which they occur
  * are assumed, not measured: no real ADSBX traffic is at hand to take
  * them from. */
final class Gen(seed: Long, fleetSize: Int, perSnapshot: Int) {
  require(perSnapshot <= fleetSize, "a snapshot samples distinct airframes")

  private val categories =
    Vector("A0", "A1", "A2", "A3", "A4", "A5", "A6", "A7", "B2", "C1")
  private val emergencies =
    Vector("general", "lifeguard", "minfuel", "nordo", "unlawful", "downed")
  private val typeCodes = Vector("B738", "A320", "C172", "H60", "EC35", "PC12")

  private def r1(x: Double): Double = Math.round(x * 10.0) / 10.0
  private def r5(x: Double): Double = Math.round(x * 100000.0) / 100000.0

  private val fleet: Vector[Airframe] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    Vector.tabulate(fleetSize) { k =>
      val reg = f"N$k%05dA"
      val call = f"FLT$k%05d"
      val padded = call + " " * rng.nextInt(3)
      val (r, flight) = rng.nextInt(100) match {
        case u if u < 70 => (Some(reg), if (rng.nextInt(10) == 0) None else Some(padded))
        case u if u < 75 => (Some("  " + reg.toLowerCase + " "), Some(padded))
        case u if u < 83 => (Some(""), Some(padded))
        case u if u < 96 => (None, Some(padded))
        case u if u < 98 => (None, Some("    "))
        case _ => (None, None)
      }
      val db = rng.nextInt(100) match {
        case u if u < 60 => Some(0.0)
        case u if u < 64 => Some(1.0)
        case u if u < 65 => Some(3.5)
        case _ => None
      }
      val cat = rng.nextInt(categories.size + 1) match {
        case i if i < categories.size => Some(categories(i))
        case _ => None
      }
      Airframe(f"a$k%05x", if (rng.nextInt(10) == 0) "mlat" else "adsb_icao",
        flight, r,
        if (rng.nextInt(10) == 0) None else Some(typeCodes(rng.nextInt(typeCodes.size))),
        db, cat,
        if (rng.nextInt(5) == 0) None
        else Some(f"${rng.nextInt(8)}${rng.nextInt(8)}${rng.nextInt(8)}${rng.nextInt(8)}"))
    }
  }

  /** Snapshot `i`: about `perSnapshot` records, deterministic in (seed, i). */
  def snapshot(i: Int): Vector[Ac] = {
    val rng = new SplittableRandom(seed * 31 + i * 0x632BE59BD9B4E019L)
    val n = perSnapshot - rng.nextInt(perSnapshot / 50 + 1)
    // partial Fisher-Yates: n distinct airframes in random order
    val idx = Array.tabulate(fleetSize)(identity)
    for (j <- 0 until n) {
      val k = j + rng.nextInt(fleetSize - j)
      val tmp = idx(j); idx(j) = idx(k); idx(k) = tmp
    }
    val out = Vector.newBuilder[Ac]
    for (j <- 0 until n) {
      out += record(fleet(idx(j)), rng)
      // a repeat of an earlier airframe later in the array: last wins
      if (rng.nextInt(100) == 0) out += record(fleet(idx(rng.nextInt(j + 1))), rng)
    }
    out.result()
  }

  private def record(a: Airframe, rng: SplittableRandom): Ac = {
    def opt[T](pctAbsent: Int)(v: => T): Option[T] =
      if (rng.nextInt(100) < pctAbsent) None else Some(v)
    val altBaro = rng.nextInt(100) match {
      case u if u < 5 => Some("ground")
      case u if u < 10 => None
      case _ => Some((rng.nextInt(450) * 100).toString)
    }
    val altGeom = rng.nextInt(100) match {
      case u if u < 2 => Some(0.0)
      case u if u < 7 => None
      case _ => Some((100 + rng.nextInt(45000)).toDouble)
    }
    val gs = rng.nextInt(100) match {
      case u if u < 3 => None
      case u if u < 4 => Some(0.0)
      case _ => Some(r1(20 + rng.nextDouble() * 580))
    }
    val track = rng.nextInt(100) match {
      case u if u < 2 => Some(0.0)
      case u if u < 5 => None
      case _ => Some(r1(0.1 + rng.nextDouble() * 359.8))
    }
    val emergency = rng.nextInt(100) match {
      case u if u < 90 => Some("none")
      case u if u < 91 => Some(emergencies(rng.nextInt(emergencies.size)))
      case _ => None
    }
    // seq (0) is not serialized: arrival order is the array position
    Ac(0, a.hex, a.typ, None, a.flight, a.r, a.t, a.dbFlags, altBaro, altGeom, gs, track,
      opt(50)((rng.nextInt(61) - 30) * 100.0), a.squawk, emergency, a.category,
      opt(50)(r1(1000 + rng.nextDouble() * 30)), opt(50)((rng.nextInt(450) * 100).toDouble),
      opt(50)(r1(rng.nextDouble() * 359.9)),
      r5(25 + rng.nextDouble() * 24), r5(-125 + rng.nextDouble() * 58),
      r1(rng.nextDouble() * 30), r1(rng.nextDouble() * 30),
      opt(5)(r1(rng.nextDouble() * 2650)))
  }

  /** An allow-list of `n` entries: about 90% name distinct airframes (by
    * registration, padded or in another case, or by flight-derived id),
    * a few repeat a registration later with other values (last truthy
    * value wins), and a few have no registration (skipped). */
  def includes(n: Int): Vector[Inc] = {
    val rng = new SplittableRandom(seed * 131 + 7)
    val groups = graft.adsbx.Schemas.includeGroups
    val domains = Vector("EMS", "FIRE", "LAW")
    val keyed = fleet.filter(a => Expect.id(a.r, a.flight).isDefined)
    val picks = mutable.LinkedHashSet.empty[Airframe]
    val distinct = n * 9 / 10
    while (picks.size < distinct) picks += keyed(rng.nextInt(keyed.size))
    val regs = picks.toVector.map { a =>
      val raw = a.r.filter(_.nonEmpty).getOrElse(a.flight.get)
      if (rng.nextInt(4) == 0) " " + raw.toLowerCase + " " else raw
    }
    val repeats = Vector.fill(n / 20)(regs(rng.nextInt(regs.size)))
    val all = (regs.map(Some(_)) ++ repeats.map(Some(_)) ++
      Vector.fill(n - regs.size - repeats.size)(
        if (rng.nextInt(2) == 0) None else Some("")))
    val shuffled = all.toArray
    for (j <- shuffled.indices.reverse) {
      val k = rng.nextInt(j + 1)
      val tmp = shuffled(j); shuffled(j) = shuffled(k); shuffled(k) = tmp
    }
    shuffled.toVector.zipWithIndex.map { case (reg, pos) =>
      val cs = rng.nextInt(10) match {
        case u if u < 7 => Some(f"TANKER$pos%03d")
        case u if u < 9 => None
        case _ => Some("")
      }
      Inc(pos, domains(rng.nextInt(domains.size)), cs, reg,
        groups(rng.nextInt(groups.size)))
    }
  }
}
