package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dims.DateDim
import graft.ops.RelationalOps._

/** The reference pipeline (aniketkapdule/emission-project,
  * dags/emission-dag.py) re-expressed Spark-first: one lazy plan per
  * warehouse table, broadcast-hash joins for every dimension lookup,
  * null-safe keys where pandas matched NaN=NaN, and an idempotent
  * anti-join append protocol.
  *
  * Warehouse = parquet directories under `warehouseDir` (the reference
  * used Postgres tables; SURVEY §2.1 S7). All writes go through a
  * stage-then-publish rename so a crashed run never leaves a
  * half-written table (SURVEY §7.7).
  */
class EmissionEtl(
    spark: SparkSession,
    warehouseDir: String,
    strictCompat: Boolean = false,
    storeOpt: Option[graft.sources.TableStore] = None) {

  import EmissionEtl._

  /** Warehouse backend — parquet directories by default, or any
    * [[graft.sources.TableStore]] (e.g. [[graft.sources.JdbcStore]],
    * the reference's literal Postgres shape, utils.py:31-40).
    */
  val store: graft.sources.TableStore =
    storeOpt.getOrElse(new graft.sources.ParquetStore(spark, warehouseDir))

  // feed/archive file ops are independent of the warehouse backend
  private val fs = new Path(warehouseDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tableExists(name: String): Boolean = store.exists(name)

  /** A warehouse table read with its declared schema
    * ([[Schemas.warehouse]]): no read infers one from parquet footers.
    */
  def readTable(name: String): DataFrame = store.read(name, Schemas.warehouse(name))

  /** Dim append of pre-filtered novel rows, keyed by the surrogate
    * key. ParquetStore stages + swaps (a crash leaves the old or the
    * new table, never a mix); JdbcStore appends transactionally.
    * Affordable because dims are small; the fact table takes the
    * partitioned append path in [[appendFact]] instead (rewriting a
    * fact table per append does not survive scale).
    */
  private def append(df: DataFrame, name: String, key: String): Unit =
    store.appendKeyed(df, name, key)

  /** Pin a keyed dim batch once, its row count observed in the
    * checkpoint's own job, and append it when it holds any row: the
    * staged merge's two references to the batch read the pin instead
    * of re-running the anti-join + key-assignment lineage.
    */
  private def appendNovel(keyed: DataFrame, name: String, key: String): Long =
    withPin(keyed, count(lit(1))) { (k, seen) =>
      val n = seen.getLong(0)
      if (n > 0) append(k, name, key)
      n
    }

  /** The live table, when there is one: the key assignment continues
    * from its key max.
    */
  private def live(name: String): Option[DataFrame] =
    if (tableExists(name)) Some(readTable(name)) else None

  // ---------------------------------------------------------------- extract

  /** S1/S2 — read a feed if present, else an empty frame with the
    * expected schema (dags/emission-dag.py:39-66).
    */
  def readFeed(path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (fs.exists(new Path(path)))
      spark.read.option("header", "true").schema(schema).csv(path)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** S3 — archival move of a consumed feed (emission-dag.py:37,41).
    * Done AFTER a successful load (the reference moved first — crash
    * window fixed per SURVEY §7.7).
    */
  def archive(path: String, usedDir: String, ts: String): Unit = {
    val src = new Path(path)
    if (fs.exists(src)) {
      fs.mkdirs(new Path(usedDir))
      val base = src.getName.stripSuffix(".csv")
      fs.rename(src, new Path(s"$usedDir/${base}_$ts.csv"))
    }
  }

  // ------------------------------------------------------------ dimensions

  /** Create the date dim once (create_tables.py:69-85). */
  def ensureDateDim(): Unit =
    if (!tableExists("date"))
      store.overwrite(DateDim.generate(spark), "date")

  /** Drivers dim: project, sort by name, dedup keep-first, assign keys,
    * append only unseen (name, first_name) pairs
    * (emission-dag.py:73-85).
    */
  def loadDrivers(feed: DataFrame): Long = {
    val clean = dedupKeepFirst(
      feed.select("name", "first_name"),
      Seq("name", "first_name"),
      Seq(col("name")))
    val table = live("drivers")
    val novel = table.fold(clean)(
      antiJoinNew(clean, _, Seq("name", "first_name"), broadcastRight = true))
    appendNovel(
      withSurrogateKey(novel, "driver_id", Seq(col("name"), col("first_name")), table)
        .select("driver_id", "name", "first_name"),
      "drivers", "driver_id")
  }

  /** Cars dim: rename raw headers, sort by brand, dedup on the 7-col
    * key keep-first, append unseen cars on all 12 columns null-safely
    * (emission-dag.py:88-110 — `cylinders`/`fuel_type` nullable).
    */
  def loadCars(feedRaw: DataFrame): Long = {
    val renamed = feedRaw.withColumnsRenamed(Schemas.carsRename)
    val clean = dedupKeepFirst(
      renamed,
      Schemas.carsDedupKey,
      Seq(col("brand")))
    val all12 = Schemas.carsRename.values.toSeq
    val table = live("cars")
    val novel = table.fold(clean)(antiJoinNew(clean, _, all12, broadcastRight = true))
    appendNovel(
      withSurrogateKey(novel, "car_id", Seq(col("brand"), col("model")), table)
        .select((Seq("car_id") ++ carCols).map(col): _*),
      "cars", "car_id")
  }

  /** Country dim from logbook start+target countries
    * (emission-dag.py:113-134). The reference's incremental branch only
    * checks START countries (bug §7.6-1); fixed here unless
    * `strictCompat`.
    */
  def loadCountries(logbook: DataFrame): Long = {
    val start = logbook.select(col("start_country").as("country_name"))
    val target = logbook.select(col("target_country").as("country_name"))
    val incoming =
      if (strictCompat && tableExists("country")) start.distinct()
      else unionDistinct(start, target)
    val table = live("country")
    val novel = table.fold(incoming)(
      antiJoinNew(incoming, _, Seq("country_name"), broadcastRight = true))
    appendNovel(
      withSurrogateKey(novel, "country_id", Seq(col("country_name")), table)
        .select("country_id", "country_name"),
      "country", "country_id")
  }

  /** City dim from logbook start+target cities with their countries
    * (emission-dag.py:137-155). Reference bugs §7.6-2/3 (cross-branch
    * variable, country dropped from the incremental key) are fixed by
    * default: cities are keyed (city_name, country) and always carry
    * country_id. Under `strictCompat` the incremental branch replicates
    * bug 3 byte-for-byte (emission-dag.py:153-154): the anti-join keys
    * on `city_name` ALONE — a known city name in a brand-new country is
    * never loaded — and the surviving rows have dropped `country_name`
    * without ever joining ids, so novel cities load with NULL
    * country_id. (Bug 2, the cross-branch `df_country_clean` reference
    * in the initial branch, emission-dag.py:146-147, is a NameError /
    * duplicate-column crash hazard with no defined output semantics —
    * there is nothing to replicate but an exception, so both modes take
    * the fixed initial path.)
    */
  def loadCities(logbook: DataFrame): Long = {
    val start = logbook.select(
      col("start_city").as("city_name"), col("start_country").as("country_name"))
    val target = logbook.select(
      col("target_city").as("city_name"), col("target_country").as("country_name"))
    val incoming = unionDistinct(start, target)
    lazy val withCountry = nullSafeEquiJoin(
      incoming, readTable("country"), Seq("country_name"), "left",
      broadcastRight = true)
      .select("city_name", "country_id")
    // No country table yet means no logbook row has ever loaded
    // (loadCountries runs first): read it as the reference's empty
    // CREATE TABLE IF NOT EXISTS table, not as a missing path.
    val table = live("city")
    val novel = table match {
      case None =>
        if (tableExists("country")) withCountry
        else incoming.select(col("city_name"), lit(null).cast("int").as("country_id"))
      case Some(city) if strictCompat =>
        antiJoinNew(incoming, city, Seq("city_name"), broadcastRight = true)
          .select(col("city_name"),
            lit(null).cast(Schemas.cityTable("country_id").dataType).as("country_id"))
      case Some(city) =>
        antiJoinNew(withCountry, city, Seq("city_name", "country_id"), broadcastRight = true)
    }
    appendNovel(
      withSurrogateKey(novel, "city_id", Seq(col("city_name")), table)
        .select("city_id", "city_name", "country_id"),
      "city", "city_id")
  }

  // ------------------------------------------------------------------ fact

  /** Fact build (emission-dag.py:158-209):
    * J1 logbook⋈cars (null-safe, 6 keys) → P4 total_emission →
    * J2 drivers → J3 date → J9/J10 city/country role joins →
    * J11 idempotent anti-join append.
    *
    * Every dimension side is broadcast — at 100 TB the logbook (fact
    * feed) is the only large input and it never shuffles: the whole
    * chain is map-side joins over one scan.
    */
  def buildFact(logbook: DataFrame): DataFrame = {
    // a dim whose feed has never arrived has no table yet: read it as
    // the reference's empty CREATE TABLE IF NOT EXISTS table, so its
    // ids load NULL as the reference's left merges give
    def dim(name: String) =
      if (tableExists(name)) readTable(name)
      else spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), Schemas.warehouse(name))
    val cars = dim("cars")
      .select((Seq("car_id", "co2_emission_g_per_km") ++ Schemas.carNaturalKey).distinct.map(col): _*)
    val drivers = dim("drivers")
    val dateDim = readTable("date").select("date_id", "date")
    val city = readTable("city").select("city_id", "city_name", "country_id")
    val country = readTable("country")

    val withCar = nullSafeEquiJoin(
      logbook, cars, Schemas.carNaturalKey, "left", broadcastRight = true)

    val withEmission = withCar.withColumn(
      "total_emission", col("distance_km") * col("co2_emission_g_per_km"))

    val withDriver = withEmission.join(
      broadcast(drivers), Seq("name", "first_name"), "left")

    val withDate = withDriver
      .withColumn("date", to_date(col("date")))
      .join(broadcast(dateDim), Seq("date"), "left")

    def countryLookup(df: DataFrame, role: String): DataFrame =
      df.join(
        broadcast(country.withColumnsRenamed(
          Map("country_id" -> s"${role}_country_id", "country_name" -> s"${role}_country"))),
        Seq(s"${role}_country"), "left")

    // city keyed on (name, country) — the reference joins on name only
    // (§7.6 bug 4: ambiguous if one city name exists in two countries;
    // emission-dag.py:177-184 and a duplicated name would multiply fact
    // rows, pandas-merge style); countries therefore resolve first.
    // strictCompat replicates the name-only key.
    def cityLookup(df: DataFrame, role: String): DataFrame =
      if (strictCompat)
        df.join(
          broadcast(city.drop("country_id").withColumnsRenamed(Map(
            "city_id" -> s"${role}_city_id",
            "city_name" -> s"${role}_city"))),
          Seq(s"${role}_city"), "left")
      else df.join(
        broadcast(city.withColumnsRenamed(Map(
          "city_id" -> s"${role}_city_id",
          "city_name" -> s"${role}_city",
          "country_id" -> s"${role}_country_id"))),
        Seq(s"${role}_city", s"${role}_country_id"), "left")

    cityLookup(cityLookup(countryLookup(countryLookup(
      withDate, "start"), "target"), "start"), "target")
      .select(
        col("car_id"), col("driver_id"),
        col("start_city_id"), col("start_country_id"),
        col("target_city_id"), col("target_country_id"),
        col("distance_km"), col("date_id"), col("total_emission"))
  }

  /** J11 — append only fact rows whose 7-id tuple is unseen; ids can be
    * null (unmatched dims) so the anti-join is null-safe.
    *
    * The fact table is partitioned by month (`p_month` = date_id/100);
    * the idempotence anti-join reads ONLY the partitions the incoming
    * batch touches (plus the null partition for unmatched-date rows) —
    * at warehouse scale the rewrite/read cost is bounded by the
    * batch's date spread, not the table size (SURVEY §7.7).
    *
    * The fact lineage runs once: the deduped batch is pinned, with its
    * row count and its months observed in the same job, and the novel
    * rows are pinned (counted the same way) and written from the pin.
    */
  def appendFact(fact: DataFrame): Long = {
    def write(novel: DataFrame, n: Long): Long = {
      if (n > 0) store.appendPartitioned(novel, "car_driver_log", "p_month")
      n
    }
    withPin(
      dedupKeepFirst(fact, Schemas.factIdKey, Seq(col("distance_km")))
        .withColumn("p_month", (col("date_id") / lit(100)).cast("int")),
      count(lit(1)), collect_set(col("p_month")), max(col("p_month").isNull)) { (batch, seen) =>
      if (seen.getLong(0) == 0L) 0L
      else if (!tableExists("car_driver_log")) write(batch, seen.getLong(0))
      else {
        val existing = readTable("car_driver_log")
          .filter(
            col("p_month").isin(seen.getSeq[Int](1): _*) ||
              (if (seen.getBoolean(2)) col("p_month").isNull else lit(false)))
        withPin(antiJoinNew(batch, existing, Schemas.factIdKey), count(lit(1))) { (novel, n) =>
          write(novel, n.getLong(0))
        }
      }
    }
  }

  /** One scheduled run (X1/X2): dims then fact, all idempotent. A run
    * whose feeds are all absent loads nothing, also into a fresh
    * warehouse (only `date` is created then). The logbook feed is
    * parsed once: the countries, the cities and the fact read its pin.
    */
  def run(driversCsv: String, carsCsv: String, logbookCsv: String): Map[String, Long] = {
    ensureDateDim()
    val drivers = readFeed(driversCsv, Schemas.driversFeed)
    val carsRaw = readFeed(carsCsv, Schemas.carsFeedRaw)
    withPin(readFeed(logbookCsv, Schemas.logbookFeed), count(lit(1))) { (logbook, trips) =>
      val nDrivers = loadDrivers(drivers)
      val nCars = loadCars(carsRaw)
      val nCountries = loadCountries(logbook)
      val nCities = loadCities(logbook)
      val nFact = if (trips.getLong(0) == 0L) 0L else appendFact(buildFact(logbook))
      Map(
        "drivers" -> nDrivers, "cars" -> nCars, "country" -> nCountries,
        "city" -> nCities, "car_driver_log" -> nFact)
    }
  }

  // ------------------------------------------------------------- analytics

  /** A4 — the reference's headline rollups (README.md:3): total
    * emission by brand / car / driver over the star schema.
    */
  def emissionByBrand(): DataFrame =
    readTable("car_driver_log")
      .join(broadcast(readTable("cars").select("car_id", "brand")), Seq("car_id"))
      .groupBy("brand")
      .agg(sum("total_emission").as("total_emission"))

  def emissionByCar(): DataFrame =
    readTable("car_driver_log")
      .groupBy("car_id")
      .agg(sum("total_emission").as("total_emission"))

  def emissionByDriver(): DataFrame =
    readTable("car_driver_log")
      .join(broadcast(readTable("drivers")), Seq("driver_id"))
      .groupBy("driver_id", "name", "first_name")
      .agg(sum("total_emission").as("total_emission"))
}

object EmissionEtl {
  /** Warehouse cars column order (dags/create_tables.py:31-46). */
  val carCols: Seq[String] = Seq(
    "brand", "model", "vehicle_class", "engine_size_l", "cylinders",
    "transmission", "fuel_type", "fuel_consumption_l_per_hundred_km",
    "hwy_l_per_hundred_km", "comb_l_per_hundred", "comb_mpg",
    "co2_emission_g_per_km")
}
