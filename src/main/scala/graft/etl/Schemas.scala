package graft.etl

import org.apache.spark.sql.types._

/** Explicit schemas for the three CSV feeds and the warehouse tables
  * (SURVEY §1; FIXTURES.md A1-A4). Schemas are pinned — never inferred —
  * so a malformed feed fails loudly instead of silently changing types
  * (the reference relies on pandas inference: dags/emission-dag.py:40).
  */
object Schemas {

  /** drivers.csv — reference data/drivers_incoming_data/ (3 cols). */
  val driversFeed: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("first_name", StringType),
    StructField("city", StringType)))

  /** vehicle_fuel_consumptions.csv raw headers
    * (renamed on read — dags/emission-dag.py:89-92).
    */
  val carsFeedRaw: StructType = StructType(Seq(
    StructField("BRAND", StringType),
    StructField("MODEL", StringType),
    StructField("VEHICLE CLASS", StringType),
    StructField("ENGINE SIZE L", DoubleType),
    StructField("CYLINDERS", DoubleType),
    StructField("TRANSMISSION", StringType),
    StructField("FUEL_TYPE", StringType),
    StructField("FUEL CONSUMPTION (L/100 km)", DoubleType),
    StructField("HWY (L/100 km)", DoubleType),
    StructField("COMB (L/100 km)", DoubleType),
    StructField("COMB (mpg)", IntegerType),
    StructField("CO2_Emissions(g/km)", IntegerType)))

  /** Raw→warehouse column rename map (dags/emission-dag.py:89-92). */
  val carsRename: Map[String, String] = Map(
    "BRAND" -> "brand",
    "MODEL" -> "model",
    "VEHICLE CLASS" -> "vehicle_class",
    "ENGINE SIZE L" -> "engine_size_l",
    "CYLINDERS" -> "cylinders",
    "TRANSMISSION" -> "transmission",
    "FUEL_TYPE" -> "fuel_type",
    "FUEL CONSUMPTION (L/100 km)" -> "fuel_consumption_l_per_hundred_km",
    "HWY (L/100 km)" -> "hwy_l_per_hundred_km",
    "COMB (L/100 km)" -> "comb_l_per_hundred",
    "COMB (mpg)" -> "comb_mpg",
    "CO2_Emissions(g/km)" -> "co2_emission_g_per_km")

  /** drivers_logbook.csv (14 cols — FIXTURES.md A3). */
  val logbookFeed: StructType = StructType(Seq(
    StructField("brand", StringType),
    StructField("model", StringType),
    StructField("engine_size_l", DoubleType),
    StructField("cylinders", DoubleType),
    StructField("fuel_type", StringType),
    StructField("transmission", StringType),
    StructField("name", StringType),
    StructField("first_name", StringType),
    StructField("start_city", StringType),
    StructField("start_country", StringType),
    StructField("target_city", StringType),
    StructField("target_country", StringType),
    StructField("distance_km", DoubleType),
    StructField("date", StringType)))

  /** Warehouse `drivers` table as [[EmissionEtl.loadDrivers]] writes it
    * (dags/create_tables.py:22-28).
    */
  val driversTable: StructType = StructType(Seq(
    StructField("driver_id", IntegerType),
    StructField("name", StringType),
    StructField("first_name", StringType)))

  /** Warehouse `cars` table as [[EmissionEtl.loadCars]] writes it: the
    * surrogate key, then the raw columns under their warehouse names
    * and feed types (dags/create_tables.py:31-46).
    */
  val carsTable: StructType = StructType(
    StructField("car_id", IntegerType) +:
      carsFeedRaw.fields.toSeq.map(f => f.copy(name = carsRename(f.name))))

  /** Warehouse `country` table as [[EmissionEtl.loadCountries]] writes
    * it.
    */
  val countryTable: StructType = StructType(Seq(
    StructField("country_id", IntegerType),
    StructField("country_name", StringType)))

  /** Warehouse `city` table as [[EmissionEtl.loadCities]] writes it. */
  val cityTable: StructType = StructType(Seq(
    StructField("city_id", IntegerType),
    StructField("city_name", StringType),
    StructField("country_id", IntegerType)))

  /** Warehouse `date` table: the [[graft.dims.DateDim.generate]]
    * columns (dags/create_tables.py:6-15).
    */
  val dateTable: StructType = StructType(Seq(
    StructField("date_id", IntegerType),
    StructField("date", DateType),
    StructField("week_day", StringType),
    StructField("day", IntegerType),
    StructField("month", IntegerType),
    StructField("week", IntegerType),
    StructField("quarter", IntegerType),
    StructField("year", IntegerType)))

  /** Warehouse fact table `car_driver_log` as [[EmissionEtl.appendFact]]
    * writes it: the nine [[EmissionEtl.buildFact]] columns, then the
    * month partition column `p_month` (`date_id` / 100).
    */
  val factTable: StructType = StructType(Seq(
    StructField("car_id", IntegerType),
    StructField("driver_id", IntegerType),
    StructField("start_city_id", IntegerType),
    StructField("start_country_id", IntegerType),
    StructField("target_city_id", IntegerType),
    StructField("target_country_id", IntegerType),
    StructField("distance_km", DoubleType),
    StructField("date_id", IntegerType),
    StructField("total_emission", DoubleType),
    StructField("p_month", IntegerType)))

  /** Every warehouse table's declared schema, by table name: the ETL
    * reads each table with it, so no read infers a schema from files.
    */
  val warehouse: Map[String, StructType] = Map(
    "drivers" -> driversTable,
    "cars" -> carsTable,
    "country" -> countryTable,
    "city" -> cityTable,
    "date" -> dateTable,
    "car_driver_log" -> factTable)

  /** The 6-col natural join key logbook↔cars (dags/emission-dag.py:158).
    * `cylinders`/`fuel_type` are nullable ⇒ joins must be null-safe.
    */
  val carNaturalKey: Seq[String] =
    Seq("brand", "model", "engine_size_l", "cylinders", "fuel_type", "transmission")

  /** 7-col cars dedup key (dags/emission-dag.py:96). */
  val carsDedupKey: Seq[String] =
    Seq("brand", "model", "vehicle_class", "engine_size_l", "cylinders",
      "transmission", "fuel_type")

  /** Fact-table identity key for the idempotent append (emission-dag.py:201,204). */
  val factIdKey: Seq[String] =
    Seq("car_id", "driver_id", "start_city_id", "start_country_id",
      "target_country_id", "target_city_id", "date_id")
}
