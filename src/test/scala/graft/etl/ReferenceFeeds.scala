package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

/** The three CSV feeds the golden ETL legs load (FIXTURES.md A6): the
  * reference's own files when all three are present, else feeds
  * generated in the shape FIXTURES.md A1–A3 and A5 document.
  *
  * The generated feeds are a pure function of [[Seed]] (no wall-clock
  * dates), written once per JVM into a temp directory and checked
  * against every documented property ([[check]]) before any spec
  * sees them, so they cannot drift from FIXTURES.md unnoticed.
  */
object ReferenceFeeds {

  /** Paths of one set of feeds, and where they came from. */
  final case class Feeds(drivers: String, cars: String, logbook: String, source: String)

  val Seed = 20140112L

  // FIXTURES.md A1–A3 / A5 figures the generated feeds reproduce
  val Drivers = 1000
  val Cars = 999
  val Brands = 39
  val CarsNullCylinders = 48
  val CarsNullFuel = 103
  val Trips = 5000
  val TripsNullCylinders = 246
  val TripsNullFuel = 498
  val TripDrivers = 974 // EmissionEtlSpec "emission rollups"
  val Country = "Finland"
  val Cities = 457
  val MinDistance = "0.04"
  val MaxDistance = "999.84"
  val FirstDate = java.time.LocalDate.of(2014, 1, 12)
  val LastDate = java.time.LocalDate.of(2015, 1, 10)

  // raw headers as the reference files spell them (FIXTURES.md A1–A3)
  val DriversHeader: Seq[String] = Seq("name", "first_name", "city")
  val CarsHeader: Seq[String] = Seq("BRAND", "MODEL", "VEHICLE CLASS",
    "ENGINE SIZE L", "CYLINDERS", "TRANSMISSION", "FUEL_TYPE",
    "FUEL CONSUMPTION (L/100 km)", "HWY (L/100 km)", "COMB (L/100 km)",
    "COMB (mpg)", "CO2_Emissions(g/km)")
  val LogbookHeader: Seq[String] = Seq("brand", "model", "engine_size_l",
    "cylinders", "fuel_type", "transmission", "name", "first_name",
    "start_city", "start_country", "target_city", "target_country",
    "distance_km", "date")

  /** The reference CSVs when all three exist under `refData`, else the
    * generated feeds.
    */
  def resolve(refData: String): Feeds = {
    val ref = Feeds(
      s"$refData/drivers_incoming_data/drivers.csv",
      s"$refData/cars_incoming_data/vehicle_fuel_consumptions.csv",
      s"$refData/logbook_incoming_data/drivers_logbook.csv",
      s"reference CSVs under $refData")
    if (Seq(ref.drivers, ref.cars, ref.logbook).forall(p => Files.isRegularFile(Paths.get(p)))) ref
    else generated
  }

  /** The generated feeds, written and checked once per JVM. */
  lazy val generated: Feeds = {
    val feeds = write(Files.createTempDirectory("graft_ref_feeds"))
    check(feeds)
    feeds
  }

  /** A later day's feeds over a warehouse loaded from [[generated]],
    * written once per JVM: 5 known and [[DayTwoDrivers]] new drivers,
    * 3 known and [[DayTwoCars]] new cars, and a logbook that repeats 5
    * loaded trips and adds [[DayTwoTrips]] new ones. The new trips run
    * through [[DayTwoCities]] new cities, one of them in the new country
    * "Sweden" reached only as a target, and half of them fall in a
    * month the first load never saw.
    */
  lazy val secondDay: Feeds = {
    val base = generated
    val dir = Files.createTempDirectory("graft_ref_feeds_day2")
    def rows(path: String) =
      Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toIndexedSeq.tail
    val knownDrivers = rows(base.drivers).take(5)
    val knownCars = rows(base.cars).take(3)
    val newDrivers = (0 until DayTwoDrivers).map(i => s"Uusitalo$i,Aino,Kaupunki 001")
    val newCars = (0 until DayTwoCars).map(i =>
      s"TESLA,TES-$i,COMPACT,1.$i,,A1,${if (i == 0) "" else "E"},1.$i,1.$i,1.$i,99,$i")
    // a car's 6-col natural key in logbook column order
    def carKey(line: String) = {
      val f = line.split(",", -1)
      Seq(f(0), f(1), f(3), f(4), f(6), f(5)).mkString(",")
    }
    val cars = (newCars ++ knownCars).map(carKey)
    val drivers = (newDrivers ++ knownDrivers).map(_.split(",", -1).take(2).mkString(","))
    val newTrips = (0 until DayTwoTrips).map { i =>
      val start = if (i % 2 == 0) s"Uusikaupunki ${i % 3},Finland" else "Kaupunki 002,Finland"
      val target = if (i % 5 == 0) "Stockholm,Sweden" else s"Uusikaupunki ${i % 3},Finland"
      val date = if (i % 2 == 0) f"2014-06-${1 + i / 2}%02d" else f"2015-02-${1 + i / 2}%02d"
      s"${cars(i % cars.size)},${drivers(i % drivers.size)},$start,$target,${10 + i}.5,$date"
    }
    def csv(name: String, header: Seq[String], lines: Seq[String]): String = {
      val p = dir.resolve(name)
      Files.write(p, (header.mkString(",") +: lines).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      p.toString
    }
    Feeds(
      csv("drivers.csv", DriversHeader, knownDrivers ++ newDrivers),
      csv("vehicle_fuel_consumptions.csv", CarsHeader, knownCars ++ newCars),
      csv("drivers_logbook.csv", LogbookHeader, rows(base.logbook).take(5) ++ newTrips),
      s"second-day feeds over ${base.source} under $dir")
  }

  // what the second day appends over the first load
  val DayTwoDrivers = 5
  val DayTwoCars = 3
  val DayTwoTrips = 30
  val DayTwoCities = 4 // Uusikaupunki 0-2 and Stockholm

  // ------------------------------------------------------------ generation

  private val BrandNames = IndexedSeq("ACURA", "ALFA ROMEO", "ASTON MARTIN",
    "AUDI", "BENTLEY", "BMW", "BUICK", "CADILLAC", "CHEVROLET", "CHRYSLER",
    "DODGE", "FIAT", "FORD", "GENESIS", "GMC", "HONDA", "HYUNDAI", "INFINITI",
    "JAGUAR", "JEEP", "KIA", "LAMBORGHINI", "LAND ROVER", "LEXUS", "LINCOLN",
    "MASERATI", "MAZDA", "MERCEDES-BENZ", "MINI", "MITSUBISHI", "NISSAN",
    "PORSCHE", "RAM", "ROLLS-ROYCE", "SCION", "SMART", "SUBARU", "TOYOTA",
    "VOLVO")
  private val Classes = IndexedSeq("COMPACT", "SUV - SMALL", "SUV - STANDARD",
    "MID-SIZE", "TWO-SEATER", "MINICOMPACT", "SUBCOMPACT", "FULL-SIZE",
    "STATION WAGON - SMALL", "PICKUP TRUCK - STANDARD")
  private val Transmissions = IndexedSeq("AS5", "AS6", "AS8", "M6", "AV7", "AM7", "A6", "A8")
  private val Fuels = IndexedSeq("Z", "X", "D", "E")
  private val Engines = IndexedSeq("1.4", "1.6", "2.0", "2.4", "3.0", "3.5", "5.0")
  private val Surnames = IndexedSeq("Virtanen", "Korhonen", "Nieminen",
    "Makinen", "Hamalainen", "Laine", "Heikkinen", "Koskinen", "Jarvinen",
    "Lehtonen", "Lehtinen", "Saarinen", "Salminen", "Heinonen", "Niemi",
    "Heikkila", "Kinnunen", "Salonen", "Turunen", "Salo", "Laitinen",
    "Tuominen", "Rantanen", "Karjalainen", "Jokinen", "Mattila", "Savolainen",
    "Lahtinen", "Ahonen", "Leinonen", "Hiltunen", "Miettinen", "Aaltonen",
    "Pelkonen", "Hirvonen", "Lindholm", "Manninen", "Peltonen", "Raatikainen",
    "Toivonen")
  private val FirstNames = IndexedSeq("Juha", "Timo", "Matti", "Kari",
    "Mikko", "Antti", "Jari", "Jukka", "Mika", "Markku", "Pekka", "Hannu",
    "Heikki", "Seppo", "Janne", "Anne", "Tuula", "Paivi", "Anna", "Riitta",
    "Leena", "Pirjo", "Sari", "Minna", "Tiina", "Laura", "Elina", "Johanna",
    "Maria", "Sanna")

  private final case class Car(fields: IndexedSeq[String]) {
    /** The 6-column natural key, in logbook column order. */
    def naturalKey: Seq[String] = Seq(fields(0), fields(1), fields(3), fields(4), fields(6), fields(5))
  }

  private def shuffled[T](xs: IndexedSeq[T], rnd: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  private def tenths(rnd: SplittableRandom, lo: Int, span: Int): String =
    BigDecimal(lo + rnd.nextInt(span), 1).toString

  /** Write the three feeds into `dir`; the bytes depend on [[Seed]] only. */
  def write(dir: Path): Feeds = {
    val rnd = new SplittableRandom(Seed)

    // cars: null patterns fixed by count (12 cars lack both), each car
    // unique on the 6-col natural key and hence on the 7-col dedup key
    val bothNull = 12
    val patterns = shuffled(
      IndexedSeq.fill(bothNull)((true, true)) ++
        IndexedSeq.fill(CarsNullCylinders - bothNull)((true, false)) ++
        IndexedSeq.fill(CarsNullFuel - bothNull)((false, true)) ++
        IndexedSeq.fill(Cars - CarsNullCylinders - CarsNullFuel + bothNull)((false, false)),
      rnd)
    val seenCars = scala.collection.mutable.HashSet.empty[Seq[String]]
    val cars = patterns.zipWithIndex.map { case ((noCyl, noFuel), i) =>
      var car: Car = null
      while (car == null || !seenCars.add(car.naturalKey)) {
        val brand = if (i < Brands) BrandNames(i) else BrandNames(rnd.nextInt(Brands))
        val model = s"${brand.take(3)}-${rnd.nextInt(40)}"
        val city = tenths(rnd, 60, 120)
        val hwy = tenths(rnd, 50, 80)
        val comb = (BigDecimal(city) * BigDecimal("0.55") + BigDecimal(hwy) * BigDecimal("0.45"))
          .setScale(1, BigDecimal.RoundingMode.HALF_UP)
        car = Car(IndexedSeq(brand, model, Classes(rnd.nextInt(Classes.size)),
          Engines(rnd.nextInt(Engines.size)),
          if (noCyl) "" else s"${4 + 2 * rnd.nextInt(3)}.0",
          Transmissions(rnd.nextInt(Transmissions.size)),
          if (noFuel) "" else Fuels(rnd.nextInt(Fuels.size)),
          city, hwy, comb.toString, (235.0 / comb.toDouble).toInt.toString,
          (100 + rnd.nextInt(300)).toString))
      }
      car
    }

    // drivers: unique (name, first_name) pairs; the first 974 drive
    val pairs = shuffled(
      for (s <- Surnames; f <- FirstNames) yield (s, f), rnd).take(Drivers)
    val cityNames = (1 to Cities).map(i => f"Kaupunki $i%03d")
    val drivers = pairs.map { case (s, f) => Seq(s, f, cityNames(rnd.nextInt(Cities))) }

    // logbook: every city starts at least one trip, every one of the
    // 974 drivers drives at least once, the extremes of the distance
    // and date ranges occur, and the 7-id fact tuple never repeats
    val byPattern = cars.groupBy(c => (c.fields(4).isEmpty, c.fields(6).isEmpty))
    val bothTrips = 60
    val tripCars = shuffled(
      IndexedSeq.fill(bothTrips)(byPattern((true, true))) ++
        IndexedSeq.fill(TripsNullCylinders - bothTrips)(byPattern((true, false))) ++
        IndexedSeq.fill(TripsNullFuel - bothTrips)(byPattern((false, true))) ++
        IndexedSeq.fill(Trips - TripsNullCylinders - TripsNullFuel + bothTrips)(byPattern((false, false))),
      rnd)
    val days = java.time.temporal.ChronoUnit.DAYS.between(FirstDate, LastDate).toInt
    val seenTrips = scala.collection.mutable.HashSet.empty[Seq[String]]
    val trips = tripCars.zipWithIndex.map { case (pool, i) =>
      val driver = pairs(if (i < TripDrivers) i else rnd.nextInt(TripDrivers))
      val start = cityNames(if (i < Cities) i else rnd.nextInt(Cities))
      val distance =
        if (i == 0) MinDistance else if (i == 1) MaxDistance
        else BigDecimal(4 + rnd.nextInt(99981), 2).toString
      // fact identity = the row without its distance
      var key: Seq[String] = null
      while (key == null || !seenTrips.add(key)) {
        val date =
          if (i == 0 && key == null) FirstDate else if (i == 1 && key == null) LastDate
          else FirstDate.plusDays(rnd.nextInt(days + 1).toLong)
        key = pool(rnd.nextInt(pool.size)).naturalKey ++ Seq(driver._1, driver._2,
          start, Country, cityNames(rnd.nextInt(Cities)), Country, date.toString)
      }
      key.init :+ distance :+ key.last
    }

    def csv(name: String, header: Seq[String], rows: Seq[Seq[String]]): String = {
      val p = dir.resolve(name)
      Files.write(p, (header +: rows).map(_.mkString(",")).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      p.toString
    }
    Feeds(
      csv("drivers.csv", DriversHeader, drivers),
      csv("vehicle_fuel_consumptions.csv", CarsHeader, cars.map(_.fields)),
      csv("drivers_logbook.csv", LogbookHeader, trips),
      s"generated feeds (seed $Seed) under $dir")
  }

  // ----------------------------------------------------------------- check

  private def expect(property: String, got: Any, want: Any): Unit =
    if (got != want)
      throw new IllegalStateException(
        s"generated feeds drift from FIXTURES.md: $property: got $got, want $want")

  /** Read `feeds` back from disk and verify every documented property;
    * a mismatch throws, naming the property.
    */
  def check(feeds: Feeds): Unit = {
    def read(path: String, header: Seq[String], what: String): IndexedSeq[IndexedSeq[String]] = {
      val lines = Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toIndexedSeq
      expect(s"$what header", lines.headOption.map(_.split(",", -1).toSeq), Some(header))
      val rows = lines.tail.map(_.split(",", -1).toIndexedSeq)
      expect(s"$what fields per row", rows.map(_.size).toSet, Set(header.size))
      expect(s"$what fields free of quotes", rows.exists(_.exists(_.contains('"'))), false)
      rows
    }
    def nulls(rows: Seq[IndexedSeq[String]], i: Int) = rows.count(_(i).isEmpty)
    def col(header: Seq[String], name: String) = header.indexOf(name)

    val drivers = read(feeds.drivers, DriversHeader, "drivers")
    val cars = read(feeds.cars, CarsHeader, "cars")
    val trips = read(feeds.logbook, LogbookHeader, "logbook")

    val driverPairs = drivers.map(_.take(2)).toSet
    expect("drivers rows", drivers.size, Drivers)
    expect("drivers unique on (name, first_name)", driverPairs.size, Drivers)

    val c = col(CarsHeader, _: String)
    val carsDedupKey = Seq("BRAND", "MODEL", "VEHICLE CLASS", "ENGINE SIZE L",
      "CYLINDERS", "TRANSMISSION", "FUEL_TYPE").map(c)
    val carsJoinKey = Seq("BRAND", "MODEL", "ENGINE SIZE L", "CYLINDERS",
      "FUEL_TYPE", "TRANSMISSION").map(c)
    expect("cars rows", cars.size, Cars)
    expect("cars distinct brands", cars.map(_(c("BRAND"))).distinct.size, Brands)
    expect("cars null cylinders", nulls(cars, c("CYLINDERS")), CarsNullCylinders)
    expect("cars null fuel_type", nulls(cars, c("FUEL_TYPE")), CarsNullFuel)
    expect("cars unique on the 7-col dedup key",
      cars.map(r => carsDedupKey.map(r)).distinct.size, Cars)
    val carKeys = cars.map(r => carsJoinKey.map(r)).toSet
    expect("cars unique on the 6-col natural join key", carKeys.size, Cars)

    val t = col(LogbookHeader, _: String)
    val tripJoinKey = Schemas.carNaturalKey.map(t)
    val factKey = tripJoinKey ++ Seq("name", "first_name", "start_city",
      "start_country", "target_country", "target_city", "date").map(t)
    val tripDrivers = trips.map(r => Seq(r(t("name")), r(t("first_name")))).toSet
    val countries = trips.flatMap(r => Seq(r(t("start_country")), r(t("target_country")))).toSet
    val cities = trips.flatMap(r => Seq(r(t("start_city")), r(t("target_city")))).toSet
    val distances = trips.map(r => BigDecimal(r(t("distance_km"))))
    val dates = trips.map(r => java.time.LocalDate.parse(r(t("date"))))
    expect("logbook rows", trips.size, Trips)
    expect("logbook null cylinders", nulls(trips, t("cylinders")), TripsNullCylinders)
    expect("logbook null fuel_type", nulls(trips, t("fuel_type")), TripsNullFuel)
    expect("logbook unique 7-id fact tuples", trips.map(r => factKey.map(r)).distinct.size, Trips)
    expect("logbook rows whose car is in the cars feed (null-safe)",
      trips.count(r => carKeys.contains(tripJoinKey.map(r))), Trips)
    expect("logbook driver pairs missing from drivers", (tripDrivers -- driverPairs).size, 0)
    expect("logbook distinct drivers", tripDrivers.size, TripDrivers)
    expect("logbook countries", countries, Set(Country))
    expect("logbook distinct cities (start and target)", cities.size, Cities)
    expect("logbook distance range", (distances.min, distances.max),
      (BigDecimal(MinDistance), BigDecimal(MaxDistance)))
    expect("logbook date range", (dates.min, dates.max), (FirstDate, LastDate))
  }
}
