package emibench

/** What every operation must produce, computed from the inputs in
  * plain Scala: no Spark and no program code.
  */

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Order-independent summary of a row multiset: the row count, the
  * sum of `v` and a sum of per-row hashes (exact).
  */
final case class Digest(count: Long, sumV: Double, hash: Long)

object Digest {
  def rowHash(r: LakeRow): Long = {
    val h = scala.util.hashing.MurmurHash3.productHash(
      (r.k, r.g, java.lang.Double.doubleToLongBits(r.v), r.tag))
    h.toLong * 0x9E3779B97F4A7C15L + r.k
  }
  def of(rows: Iterable[LakeRow]): Digest = {
    var n = 0L; var s = 0.0; var h = 0L
    rows.foreach { r => n += 1; s += r.v; h += rowHash(r) }
    Digest(n, s, h)
  }
}

/** Per-group star aggregate: `count(*)`, `sum`, `min`, `max`. */
final case class StarAgg(count: Long, sum: Double, min: Double, max: Double)

/** The comparisons every check is made of. Each throws
  * [[CheckFailed]] naming what differed.
  */
object Check {
  val RelTol = 1e-9

  private def fail(what: String, msg: String) = throw new CheckFailed(s"$what: $msg")

  def close(a: Double, b: Double, tol: Double): Boolean =
    a == b || math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def equal[T](what: String, expected: T, got: T): Unit =
    if (expected != got) fail(what, s"expected $expected, got $got")

  def sums[K](what: String, expected: Map[K, Double], got: Map[K, Double],
      tol: Double = RelTol): Unit = {
    if (expected.keySet != got.keySet) {
      val miss = (expected.keySet -- got.keySet).take(3)
      val extra = (got.keySet -- expected.keySet).take(3)
      fail(what, s"groups differ: missing $miss, unexpected $extra")
    }
    expected.foreach { case (k, e) =>
      if (!close(e, got(k), tol)) fail(what, s"group $k: expected $e, got ${got(k)}")
    }
  }

  /** Two multisets of sums, compared after sorting. */
  def sortedSums(what: String, expected: Seq[Double], got: Seq[Double],
      tol: Double = RelTol): Unit = {
    if (expected.size != got.size) fail(what, s"expected ${expected.size} groups, got ${got.size}")
    expected.sorted.zip(got.sorted).foreach { case (e, g) =>
      if (!close(e, g, tol)) fail(what, s"expected sum $e, got $g")
    }
  }

  def digest(what: String, expected: Digest, got: Digest): Unit = {
    if (expected.count != got.count) fail(what, s"expected ${expected.count} rows, got ${got.count}")
    if (expected.hash != got.hash) fail(what, "row hash differs")
    if (!close(expected.sumV, got.sumV, RelTol)) fail(what, s"expected sum ${expected.sumV}, got ${got.sumV}")
  }

  /** Exact multiset equality. */
  def rows[T](what: String, expected: Seq[T], got: Seq[T]): Unit = {
    val e = expected.groupBy(identity).map { case (k, v) => k -> v.size }
    val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
    if (e != g) {
      val miss = (e.keySet -- g.keySet).take(2)
      val extra = (g.keySet -- e.keySet).take(2)
      fail(what, s"expected ${expected.size} rows, got ${got.size}; missing $miss, unexpected $extra")
    }
  }

  /** Each rollup's sums add up to the grand total. */
  def totals(what: String, total: Double, rollups: Map[String, Iterable[Double]]): Unit =
    rollups.foreach { case (r, xs) =>
      if (!close(xs.sum, total, RelTol)) fail(what, s"$r sums total ${xs.sum}, not $total")
    }

  def star(what: String, expected: Map[String, StarAgg], got: Map[String, StarAgg]): Unit = {
    equal(s"$what groups", expected.keySet, got.keySet)
    expected.foreach { case (k, e) =>
      val g = got(k)
      if (e.count != g.count || e.min != g.min || e.max != g.max || !close(e.sum, g.sum, 1e-9))
        fail(what, s"group $k: expected $e, got $g")
    }
  }
}

/** The warehouse the daily load must build, day by day. */
final class EtlModel {
  private val drivers = scala.collection.mutable.HashSet.empty[(String, String)]
  private val cars = scala.collection.mutable.HashSet.empty[Car]
  private val countries = scala.collection.mutable.HashSet.empty[String]
  private val cities = scala.collection.mutable.HashSet.empty[(String, String)]
  private val facts = scala.collection.mutable.HashSet.empty[AnyRef]
  private val byBrand = scala.collection.mutable.HashMap.empty[String, Double]
  private val byCar = scala.collection.mutable.HashMap.empty[AnyRef, Double]
  private val byDriver = scala.collection.mutable.HashMap.empty[(String, String), Double]

  /** Load one day; returns the rows each table must gain. */
  def load(d: Day): Map[String, Long] = {
    val nd = d.drivers.map(x => (x.name, x.firstName)).distinct.count(drivers.add)
    val nc = d.cars.distinct.count(cars.add)
    val ctry = d.trips.flatMap(t => Seq(t.startCountry, t.targetCountry)).distinct.count(countries.add)
    val city = d.trips.flatMap(t => Seq((t.startCity, t.startCountry),
      (t.targetCity, t.targetCountry))).distinct.count(cities.add)
    var nf = 0L
    d.trips.foreach { t =>
      if (facts.add(t.factKey)) {
        nf += 1
        val e = t.distanceKm * t.car.co2
        byBrand(t.car.brand) = byBrand.getOrElse(t.car.brand, 0.0) + e
        byCar(t.car.naturalKey) = byCar.getOrElse(t.car.naturalKey, 0.0) + e
        val dk = (t.name, t.firstName)
        byDriver(dk) = byDriver.getOrElse(dk, 0.0) + e
      }
    }
    Map("drivers" -> nd.toLong, "cars" -> nc.toLong, "country" -> ctry.toLong,
      "city" -> city.toLong, "car_driver_log" -> nf)
  }

  /** Row counts every warehouse table must hold now. */
  def tableRows: Map[String, Long] = Map(
    "date" -> 7306L, "drivers" -> drivers.size.toLong, "cars" -> cars.size.toLong,
    "country" -> countries.size.toLong, "city" -> cities.size.toLong,
    "car_driver_log" -> facts.size.toLong)

  def brandSums: Map[String, Double] = byBrand.toMap
  def carSums: Seq[Double] = byCar.values.toSeq
  def driverSums: Map[(String, String), Double] = byDriver.toMap
  def total: Double = byBrand.values.sum

  /** The orphan report: every declared foreign key has no orphans. */
  val orphanFks: Map[String, Long] = Seq("city.country_id->country",
    "fact.car_id->cars", "fact.driver_id->drivers", "fact.date_id->date",
    "fact.start_city_id->city", "fact.target_city_id->city",
    "fact.start_country_id->country", "fact.target_country_id->country")
    .map(_ -> 0L).toMap
}

/** A keyed table replayed through every write, with its state kept at
  * every committed version so time travel and change ranges can be
  * checked.
  */
final class LakeModel {
  private var cur = scala.collection.immutable.TreeMap.empty[Long, LakeRow]
  private val at = scala.collection.mutable.HashMap.empty[Int, scala.collection.immutable.TreeMap[Long, LakeRow]]

  def append(rows: Seq[LakeRow]): Unit = cur ++= rows.map(r => r.k -> r)
  /** Replace existing keys; returns the rows replaced. */
  def upsert(rows: Seq[LakeRow]): Long = {
    val n = rows.count(r => cur.contains(r.k)); cur ++= rows.map(r => r.k -> r); n
  }
  /** Delete `[lo, hi]`; returns the rows deleted. */
  def deleteRange(lo: Long, hi: Long): Long = {
    val gone = cur.range(lo, hi + 1).size; cur = cur -- cur.range(lo, hi + 1).keys; gone
  }
  def commit(version: Int): Unit = at(version) = cur
  def versions: Set[Int] = at.keySet.toSet
  def stateAt(v: Int): Seq[LakeRow] = at(v).values.toSeq
  def digestAt(v: Int): Digest = Digest.of(at(v).values)
  def rangeAt(v: Int, lo: Long, hi: Long): Seq[LakeRow] = at(v).range(lo, hi + 1).values.toSeq

  /** Per-commit row changes over `(from, to]`, as
    * `(change_type, commit_version, row)`: keys on one side only are
    * inserts or deletes, keys on both sides with different rows are
    * update pre/post images.
    */
  def changes(from: Int, to: Int): Seq[(String, Int, LakeRow)] =
    (from + 1 to to).flatMap { v =>
      val (a, b) = (at(v - 1), at(v))
      val ins = (b.keySet -- a.keySet).toSeq.map(k => ("insert", v, b(k)))
      val del = (a.keySet -- b.keySet).toSeq.map(k => ("delete", v, a(k)))
      val upd = (a.keySet & b.keySet).toSeq.filter(k => a(k) != b(k)).flatMap(k =>
        Seq(("update_preimage", v, a(k)), ("update_postimage", v, b(k))))
      ins ++ del ++ upd
    }

  /** Net multiset difference between two versions, as
    * `(change_type, row)`.
    */
  def diff(from: Int, to: Int): Seq[(String, LakeRow)] = {
    val a = at(from).values.toSet
    val b = at(to).values.toSet
    (b -- a).toSeq.map(("insert", _)) ++ (a -- b).toSeq.map(("delete", _))
  }
}

/** The star database: fact rows joined to their dimension's region. */
final class StarModel {
  private val fact = scala.collection.mutable.ArrayBuffer.empty[FactRow]
  private val dim = scala.collection.mutable.HashMap.empty[Int, String]

  def appendFacts(rows: Seq[FactRow]): Unit = fact ++= rows
  def upsertDims(rows: Seq[DimRow]): Unit = rows.foreach(r => dim(r.dkey) = r.region)

  /** `count, sum, min, max` of `amount` per region over fact ⋈ dim. */
  def view: Map[String, StarAgg] =
    fact.flatMap(f => dim.get(f.dkey).map(_ -> f.amount)).groupBy(_._1).map {
      case (r, xs) => val a = xs.map(_._2)
        r -> StarAgg(a.size.toLong, a.sum, a.min, a.max)
    }
}
