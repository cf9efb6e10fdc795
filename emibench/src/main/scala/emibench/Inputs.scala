package emibench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded inputs, made in plain JVM code: no Spark job and no call
  * into the program. The same seed gives byte-identical inputs.
  */

/** One car as delivered in the cars feed; `cylinders` and `fuel` are
  * null (None) for a share of cars, as in the reference data.
  */
final case class Car(
    brand: String, model: String, vclass: String, engine: Double,
    cylinders: Option[Double], transmission: String, fuel: Option[String],
    fuelCons: Double, hwy: Double, comb: Double, mpg: Int, co2: Int) {
  /** The 6-column natural key the logbook joins on. */
  def naturalKey: (String, String, Double, Option[Double], Option[String], String) =
    (brand, model, engine, cylinders, fuel, transmission)
}

final case class Driver(name: String, firstName: String, city: String)

/** One logbook row. `distance` is the literal the CSV carries. */
final case class Trip(
    car: Car, name: String, firstName: String,
    startCity: String, startCountry: String,
    targetCity: String, targetCountry: String,
    distance: String, date: String) {
  def distanceKm: Double = distance.toDouble
  /** The natural form of the fact table's 7-id key. */
  def factKey: AnyRef = (car.naturalKey, name, firstName, startCity,
    startCountry, targetCountry, targetCity, date)
}

/** One day's three feeds. `redeliveryOf` names the earlier day whose
  * feeds this day delivers again, whole.
  */
final case class Day(
    drivers: IndexedSeq[Driver], cars: IndexedSeq[Car],
    trips: IndexedSeq[Trip], redeliveryOf: Option[Int])

object EtlInputs {
  /** Days generated: day 0 is the bulk load at the reference's sizes,
    * days 1 to `Redelivered - 1` are alike, and the last day,
    * `Redelivered`, delivers day `Redelivered - 1` again.
    */
  val Days = 5
  val Redelivered = Days - 1
  val Day0Drivers = 1000
  val Day0Cars = 999
  val Day0Trips = 5000
  val LaterTrips = 12000
  val LaterKnownDrivers = 300
  val LaterNewDrivers = 30
  val LaterKnownCars = 150
  val LaterNewCars = 15
  val Day0Cities = 457
  val LaterNewCities = 5

  val CarsHeader: Seq[String] = Seq("BRAND", "MODEL", "VEHICLE CLASS",
    "ENGINE SIZE L", "CYLINDERS", "TRANSMISSION", "FUEL_TYPE",
    "FUEL CONSUMPTION (L/100 km)", "HWY (L/100 km)", "COMB (L/100 km)",
    "COMB (mpg)", "CO2_Emissions(g/km)")
  val DriversHeader: Seq[String] = Seq("name", "first_name", "city")
  val LogbookHeader: Seq[String] = Seq("brand", "model", "engine_size_l",
    "cylinders", "fuel_type", "transmission", "name", "first_name",
    "start_city", "start_country", "target_city", "target_country",
    "distance_km", "date")

  private val Brands = IndexedSeq("ACURA", "ALFA ROMEO", "ASTON MARTIN",
    "AUDI", "BENTLEY", "BMW", "BUICK", "CADILLAC", "CHEVROLET", "CHRYSLER",
    "DODGE", "FIAT", "FORD", "GENESIS", "GMC", "HONDA", "HYUNDAI",
    "INFINITI", "JAGUAR", "JEEP", "KIA", "LAMBORGHINI", "LAND ROVER",
    "LEXUS", "LINCOLN", "MASERATI", "MAZDA", "MERCEDES-BENZ", "MINI",
    "MITSUBISHI", "NISSAN", "PORSCHE", "RAM", "ROLLS-ROYCE", "SCION",
    "SMART", "SUBARU", "TOYOTA", "VOLVO")
  private val Classes = IndexedSeq("COMPACT", "SUV - SMALL", "MID-SIZE",
    "TWO-SEATER", "MINICOMPACT", "SUBCOMPACT", "FULL-SIZE", "STATION WAGON")
  private val Transmissions = IndexedSeq("AS5", "M6", "AV7", "AS6", "AM7", "A8")
  private val Fuels = IndexedSeq("Z", "D", "X", "E")
  private val Engines = IndexedSeq(1.4, 1.6, 2.0, 2.4, 3.0, 3.5, 5.0)
  private val Surnames = IndexedSeq("Virtanen", "Korhonen", "Nieminen",
    "Makinen", "Hamalainen", "Laine", "Heikkinen", "Koskinen", "Jarvinen",
    "Lehtonen", "Lehtinen", "Saarinen", "Salminen", "Heinonen", "Niemi",
    "Heikkila", "Kinnunen", "Salonen", "Turunen", "Salo", "Laitinen",
    "Tuominen", "Rantanen", "Karjalainen", "Jokinen", "Mattila", "Savolainen",
    "Lahtinen", "Ahonen", "Leinonen")
  private val FirstNames = IndexedSeq("Juha", "Timo", "Matti", "Kari",
    "Mikko", "Antti", "Jari", "Jukka", "Mika", "Markku", "Pekka", "Hannu",
    "Heikki", "Seppo", "Janne", "Ari", "Sami", "Petri", "Ville", "Marko",
    "Anne", "Tuula", "Paivi", "Anna", "Riitta", "Leena", "Pirjo", "Sari",
    "Minna", "Tiina", "Laura", "Elina", "Johanna", "Maria", "Sanna")

  private def fmt1(x: Double) = java.lang.String.format(java.util.Locale.ROOT, "%.1f", Double.box(x))
  private def fmt2(x: Double) = java.lang.String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))

  /** Every day, from `seed`. */
  def generate(seed: Long): IndexedSeq[Day] = {
    val rnd = new SplittableRandom(seed)
    var carSerial = 0
    def newCar(): Car = {
      carSerial += 1
      val brand = Brands(rnd.nextInt(Brands.size))
      val engine = Engines(rnd.nextInt(Engines.size))
      val cyl = if (rnd.nextInt(20) == 0) None else Some((4 + 2 * rnd.nextInt(3)).toDouble)
      val fuel = if (rnd.nextInt(10) == 0) None else Some(Fuels(rnd.nextInt(Fuels.size)))
      val city = 6.0 + rnd.nextInt(120) / 10.0
      val hwy = 5.0 + rnd.nextInt(80) / 10.0
      val comb = (city * 0.55 + hwy * 0.45)
      Car(brand, f"${brand.take(3)}%s-$carSerial%05d",
        Classes(rnd.nextInt(Classes.size)), engine, cyl,
        Transmissions(rnd.nextInt(Transmissions.size)), fuel,
        fmt1(city).toDouble, fmt1(hwy).toDouble, fmt1(comb).toDouble,
        (235.0 / comb).toInt, 100 + rnd.nextInt(300))
    }
    // unique (name, first_name) pairs, drawn without replacement
    val pairs = (for (s <- Surnames.indices; f <- FirstNames.indices; n <- 0 until 4)
      yield (s, f, n)).toArray
    for (i <- pairs.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = pairs(i); pairs(i) = pairs(j); pairs(j) = t
    }
    var nextPair = 0
    def cityName(country: String, i: Int) = f"${country.take(2).toUpperCase}%s-City-$i%04d"
    var cities = (1 to Day0Cities).map(i => (cityName("Finland", i), "Finland")).toIndexedSeq
    def newDriver(): Driver = {
      val (s, f, n) = pairs(nextPair); nextPair += 1
      val surname = if (n == 0) Surnames(s) else s"${Surnames(s)}-$n"
      Driver(surname, FirstNames(f), cities(rnd.nextInt(cities.size))._1)
    }
    val seenTrips = scala.collection.mutable.HashSet.empty[AnyRef]
    def trips(n: Int, drivers: IndexedSeq[Driver], cars: IndexedSeq[Car],
        date: () => String): IndexedSeq[Trip] = {
      val out = IndexedSeq.newBuilder[Trip]
      var made = 0
      while (made < n) {
        val c = cars(rnd.nextInt(cars.size))
        val d = drivers(rnd.nextInt(drivers.size))
        val (sc, sco) = cities(rnd.nextInt(cities.size))
        val (tc, tco) = cities(rnd.nextInt(cities.size))
        val t = Trip(c, d.name, d.firstName, sc, sco, tc, tco,
          fmt2(0.04 + rnd.nextInt(99980) / 100.0), date())
        if (seenTrips.add(t.factKey)) { out += t; made += 1 }
      }
      out.result()
    }

    val day0Drivers = IndexedSeq.fill(Day0Drivers)(newDriver())
    val day0Cars = IndexedSeq.fill(Day0Cars)(newCar())
    val day0Start = java.time.LocalDate.of(2014, 1, 12)
    val day0 = Day(day0Drivers, day0Cars,
      trips(Day0Trips, day0Drivers, day0Cars,
        () => day0Start.plusDays(rnd.nextInt(364)).toString), None)
    var allDrivers = day0Drivers
    var allCars = day0Cars
    val days = IndexedSeq.newBuilder[Day]
    days += day0
    var prev = day0
    for (d <- 1 until Days) {
      if (d == Redelivered) days += prev.copy(redeliveryOf = Some(d - 1))
      else {
        val known = IndexedSeq.fill(LaterKnownDrivers)(allDrivers(rnd.nextInt(allDrivers.size))).distinct
        val fresh = IndexedSeq.fill(LaterNewDrivers)(newDriver())
        val knownCars = IndexedSeq.fill(LaterKnownCars)(allCars(rnd.nextInt(allCars.size))).distinct
        val freshCars = IndexedSeq.fill(LaterNewCars)(newCar())
        allDrivers ++= fresh
        allCars ++= freshCars
        val country = if (d % 2 == 0) "Sweden" else "Norway"
        cities ++= (1 to LaterNewCities).map(i => (cityName(country, d * 100 + i), country))
        val date = java.time.LocalDate.of(2015, 1, 10).plusDays(d).toString
        prev = Day(known ++ fresh, knownCars ++ freshCars,
          trips(LaterTrips, allDrivers, allCars, () => date), None)
        days += prev
      }
    }
    days.result()
  }

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  private def line(fields: Seq[String]): String = fields.map(csvField).mkString(",")

  def carsCsv(cars: Seq[Car]): String =
    (line(CarsHeader) +: cars.map(c => line(Seq(c.brand, c.model, c.vclass,
      c.engine.toString, c.cylinders.map(_.toString).getOrElse(""),
      c.transmission, c.fuel.getOrElse(""), c.fuelCons.toString,
      c.hwy.toString, c.comb.toString, c.mpg.toString, c.co2.toString))))
      .mkString("", "\n", "\n")

  def driversCsv(ds: Seq[Driver]): String =
    (line(DriversHeader) +: ds.map(d => line(Seq(d.name, d.firstName, d.city))))
      .mkString("", "\n", "\n")

  def logbookCsv(ts: Seq[Trip]): String =
    (line(LogbookHeader) +: ts.map(t => line(Seq(t.car.brand, t.car.model,
      t.car.engine.toString, t.car.cylinders.map(_.toString).getOrElse(""),
      t.car.fuel.getOrElse(""), t.car.transmission, t.name, t.firstName,
      t.startCity, t.startCountry, t.targetCity, t.targetCountry,
      t.distance, t.date)))).mkString("", "\n", "\n")

  /** The three feed files of one day. */
  final case class Feeds(drivers: String, cars: String, logbook: String)

  /** Write every day's feeds under `dir`; returns their paths. */
  def write(dir: Path, days: Seq[Day]): IndexedSeq[Feeds] =
    days.zipWithIndex.map { case (d, i) =>
      val dd = Files.createDirectories(dir.resolve(f"day$i%02d"))
      def put(name: String, body: String): String = {
        val p = dd.resolve(name)
        Files.write(p, body.getBytes(StandardCharsets.UTF_8))
        p.toString
      }
      Feeds(put("drivers.csv", driversCsv(d.drivers)),
        put("vehicle_fuel_consumptions.csv", carsCsv(d.cars)),
        put("drivers_logbook.csv", logbookCsv(d.trips)))
    }.toIndexedSeq

  /** The input shape the workload relies on, checked before timing. */
  def selfCheck(days: IndexedSeq[Day], feeds: IndexedSeq[Feeds]): Unit = {
    def need(ok: Boolean, msg: => String): Unit =
      if (!ok) throw new IllegalStateException(s"etl inputs: $msg")
    val firstLine = new String(Files.readAllBytes(java.nio.file.Paths.get(feeds(0).cars)),
      StandardCharsets.UTF_8).takeWhile(_ != '\n')
    need(firstLine == CarsHeader.mkString(","), s"cars header is '$firstLine'")
    need(days(0).drivers.size == Day0Drivers && days(0).cars.size == Day0Cars &&
      days(0).trips.size == Day0Trips, "day 0 is not at the reference's sizes")
    for ((d, i) <- days.zipWithIndex) {
      need(d.cars.exists(_.cylinders.isEmpty) && d.cars.exists(_.fuel.isEmpty),
        s"day $i: cars carry no null cylinders/fuel_type")
      need(d.trips.exists(_.car.cylinders.isEmpty) && d.trips.exists(_.car.fuel.isEmpty),
        s"day $i: logbook carries no null cylinders/fuel_type")
    }
    val carsByKey = days.flatMap(_.cars).distinct.groupBy(_.naturalKey)
    need(carsByKey.values.forall(_.size == 1), "two cars share a natural key")
    val carsSoFar = scala.collection.mutable.HashSet.empty[AnyRef]
    val tripKeys = scala.collection.mutable.HashSet.empty[AnyRef]
    val lo = java.time.LocalDate.of(2010, 1, 1)
    val hi = java.time.LocalDate.of(2030, 1, 1)
    for ((d, i) <- days.zipWithIndex) {
      carsSoFar ++= d.cars.map(_.naturalKey)
      need(d.trips.forall(t => carsSoFar(t.car.naturalKey)),
        s"day $i: a trip matches no delivered car")
      val keys = d.trips.map(_.factKey)
      need(keys.distinct.size == keys.size, s"day $i: duplicate trip tuples")
      d.redeliveryOf match {
        case Some(j) =>
          need(d == days(j).copy(redeliveryOf = Some(j)), s"day $i is not day $j again")
          need(keys.forall(tripKeys), s"day $i: re-delivered trips are new")
        case None =>
          need(!keys.exists(tripKeys), s"day $i: a trip tuple repeats an earlier day")
          tripKeys ++= keys
      }
      need(d.trips.forall { t =>
        val dt = java.time.LocalDate.parse(t.date); !dt.isBefore(lo) && !dt.isAfter(hi)
      }, s"day $i: a date falls outside 2010-2030")
    }
  }
}

/** One row of a lake table. `v` holds whole cents over 100. */
final case class LakeRow(k: Long, g: Int, v: Double, tag: String)

/** One fact row and one dimension row of the star database. */
final case class FactRow(fid: Long, dkey: Int, amount: Double)
final case class DimRow(dkey: Int, region: String)

/** The write batches of one lake cycle. */
final case class LakeCycle(
    append: IndexedSeq[LakeRow],
    upsert: IndexedSeq[LakeRow],
    deleteRange: (Long, Long),
    facts: IndexedSeq[FactRow],
    dims: IndexedSeq[DimRow])

final case class LakeInputs(
    bulk: IndexedSeq[LakeRow],
    cycles: IndexedSeq[LakeCycle],
    factBulk: IndexedSeq[FactRow],
    dimBulk: IndexedSeq[DimRow])

object LakeInputs {
  final case class Sizes(
      bulk: Int, append: Int, upsert: Int, deleteWidth: Int,
      factBulk: Int, facts: Int, dims: Int, dimMoves: Int, cycles: Int)

  val Groups = 50
  val Regions = 12
  /** Seed of the workload's shape; see [[generate]]. */
  val ShapeSeed = 0x1A4EL

  private def region(i: Int) = f"R$i%02d"

  /** Keys are dense and ascending: the bulk holds `[0, bulk)`, each
    * append batch the next `append` keys, so file stats carry narrow,
    * mostly disjoint key ranges for pruning to cut. Upserts and
    * deletes land on keys that exist when the cycle runs.
    *
    * The seed draws the rows' values; which keys each upsert and
    * delete touches and which dimension keys move come from a fixed
    * stream (the workload's shape), so every seed gives the program
    * the same files to prune, rewrite and compact.
    */
  def generate(seed: Long, s: Sizes): LakeInputs = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val shape = new SplittableRandom(ShapeSeed)
    def row(k: Long) = LakeRow(k, rnd.nextInt(Groups), rnd.nextInt(100000) / 100.0,
      "t" + rnd.nextInt(1000))
    val bulk = (0L until s.bulk.toLong).map(row)
    val live = new java.util.TreeSet[java.lang.Long]()
    bulk.foreach(r => live.add(r.k))
    var nextKey = s.bulk.toLong
    var nextFid = s.factBulk.toLong
    val dimBulk = (0 until s.dims).map(d => DimRow(d, region(rnd.nextInt(Regions))))
    val factBulk = (0L until s.factBulk.toLong).map(f =>
      FactRow(f, rnd.nextInt(s.dims), rnd.nextInt(100000) / 100.0))
    val cycles = (0 until s.cycles).map { _ =>
      val app = (nextKey until nextKey + s.append).map(row)
      nextKey += s.append
      app.foreach(r => live.add(r.k))
      val liveArr = live.toArray(new Array[java.lang.Long](0))
      val ups = Iterator.continually(liveArr(shape.nextInt(liveArr.length)).longValue)
        .distinct.take(math.min(s.upsert, liveArr.length)).toIndexedSeq.sorted
        .map(row)
      // a narrow range that starts on a live key
      val lo = liveArr(shape.nextInt(liveArr.length)).longValue
      val hi = lo + s.deleteWidth - 1
      live.subSet(lo, true, hi, true).clear()
      val facts = (nextFid until nextFid + s.facts).map(f =>
        FactRow(f, rnd.nextInt(s.dims), rnd.nextInt(100000) / 100.0))
      nextFid += facts.size
      val moved = Iterator.continually(shape.nextInt(s.dims)).distinct
        .take(s.dimMoves).toIndexedSeq.sorted
        .map(d => DimRow(d, region(rnd.nextInt(Regions))))
      LakeCycle(app, ups, (lo, hi), facts, moved)
    }
    LakeInputs(bulk, cycles, factBulk, dimBulk)
  }

  def selfCheck(in: LakeInputs): Unit = {
    def need(ok: Boolean, msg: => String): Unit =
      if (!ok) throw new IllegalStateException(s"lake inputs: $msg")
    val keys = in.bulk.map(_.k)
    need(keys == keys.sorted && keys.distinct.size == keys.size, "bulk keys not ascending")
    var maxKey = keys.lastOption.getOrElse(-1L)
    in.cycles.zipWithIndex.foreach { case (c, i) =>
      need(c.append.nonEmpty && c.append.head.k > maxKey,
        s"cycle $i: append batch overlaps earlier keys")
      maxKey = c.append.last.k
      need(c.deleteRange._1 <= c.deleteRange._2, s"cycle $i: empty delete range")
      need(c.upsert.map(_.k).distinct.size == c.upsert.size, s"cycle $i: duplicate upsert keys")
    }
  }
}
