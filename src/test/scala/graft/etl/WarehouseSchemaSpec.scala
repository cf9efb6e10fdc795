package graft.etl

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.types.StructType

/** Every warehouse table's declared schema ([[Schemas.warehouse]]) is
  * the schema its loaders write, so a read with it can never hide a
  * column or change a type. Checked against the files themselves,
  * read with plain Spark, after a default run, a `strictCompat` run
  * (whose incremental city branch writes a NULL `country_id`) and a
  * first run with only the logbook present.
  */
class WarehouseSchemaSpec extends SparkSpec {

  private def fields(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType)

  /** Runs the ETL over `days` into a fresh warehouse and checks every
    * table it wrote; returns the warehouse and the tables present.
    */
  private def written(strictCompat: Boolean, days: ReferenceFeeds.Feeds*): (String, Set[String]) = {
    val wh = Files.createTempDirectory("graft_wh_schema").toString
    days.foreach { f =>
      new EmissionEtl(spark, wh, strictCompat).run(f.drivers, f.cars, f.logbook)
    }
    val present = Schemas.warehouse.keySet.filter(t => new java.io.File(s"$wh/$t").isDirectory)
    present.foreach { t =>
      assert(fields(spark.read.parquet(s"$wh/$t").schema) == fields(Schemas.warehouse(t)), t)
    }
    (wh, present)
  }

  test("declared warehouse schemas match the files of a default run over two days") {
    assert(written(strictCompat = false, ReferenceFeeds.generated, ReferenceFeeds.secondDay)._2 ==
      Schemas.warehouse.keySet)
  }

  test("declared warehouse schemas match the files of a strictCompat run over two days") {
    val (wh, present) =
      written(strictCompat = true, ReferenceFeeds.generated, ReferenceFeeds.secondDay)
    assert(present == Schemas.warehouse.keySet)
    // the second day's novel cities took the NULL-country_id branch
    assert(spark.read.parquet(s"$wh/city").filter("country_id IS NULL").count() ==
      ReferenceFeeds.DayTwoCities.toLong)
  }

  test("declared warehouse schemas match the files of a logbook-only first run") {
    val absent = Files.createTempDirectory("graft_schema_logbook_only").toString
    val logbookOnly = ReferenceFeeds.Feeds(s"$absent/drivers.csv", s"$absent/cars.csv",
      ReferenceFeeds.generated.logbook, "logbook only")
    assert(written(strictCompat = false, logbookOnly)._2 ==
      Set("country", "city", "date", "car_driver_log"))
  }
}
