package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Golden end-to-end on the reference's own CSVs (FIXTURES.md A5), or
  * on generated feeds of the same shape when they are absent (A6):
  * warehouse row counts, null-safe join coverage, idempotence.
  */
class EmissionEtlSpec extends SparkSpec {

  private val refData = "/root/reference/data"
  private lazy val wh = Files.createTempDirectory("graft_wh").toString
  private lazy val etl = new EmissionEtl(spark, wh)
  private lazy val feeds = ReferenceFeeds.resolve(refData)
  private def runOnFeeds(): Map[String, Long] = {
    info(s"feeds: ${feeds.source}")
    etl.run(feeds.drivers, feeds.cars, feeds.logbook)
  }
  private lazy val firstRun = runOnFeeds()

  test("first run loads golden row counts (1000/999/1/457/5000)") {
    assert(firstRun("drivers") == 1000L)
    assert(firstRun("cars") == 999L)
    assert(firstRun("country") == 1L) // Finland only
    assert(firstRun("city") == 457L)
    assert(firstRun("car_driver_log") == 5000L)
    assert(etl.readTable("date").count() == 7306L)
  }

  test("null-safe car join: every logbook row finds a car (pandas NaN=NaN)") {
    firstRun
    val fact = etl.readTable("car_driver_log")
    assert(fact.filter(col("car_id").isNull).count() == 0L)
    assert(fact.filter(col("driver_id").isNull).count() == 0L)
    assert(fact.filter(col("date_id").isNull).count() == 0L)
    assert(fact.filter(col("total_emission").isNull).count() == 0L)
  }

  test("FK validation: the loaded warehouse has zero orphans on all 7 reference FKs") {
    firstRun
    val report = WarehouseQa.emissionOrphanReport(etl).collect()
    assert(report.length == 8, report.mkString(", ")) // city→country + 7 fact FKs
    val bad = report.filter(_.getAs[Long]("orphan_rows") != 0L)
    assert(bad.isEmpty, s"orphan rows: ${bad.mkString(", ")}")
  }

  test("FK validation counts orphans and ignores NULL keys (SQL FK semantics)") {
    import spark.implicits._
    val child = Seq((1L, Some(10L)), (2L, Some(99L)), (3L, None), (4L, Some(11L)))
      .toDF("id", "ref")
    val parent = Seq(10L, 11L).toDF("k")
    val out = WarehouseQa.orphanCounts(child,
      Seq(WarehouseQa.Fk("child.ref->parent", "ref", parent, "k"))).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("fk") == "child.ref->parent")
    assert(out(0).getAs[Long]("orphan_rows") == 1L) // only the 99; NULL not an orphan
  }

  test("total_emission = distance_km * co2 (spot check)") {
    firstRun
    val bad = etl.readTable("car_driver_log")
      .join(etl.readTable("cars").select("car_id", "co2_emission_g_per_km"), Seq("car_id"))
      .filter(abs(col("total_emission") -
        col("distance_km") * col("co2_emission_g_per_km")) > 1e-9)
    assert(bad.isEmpty)
  }

  test("fact build plan is all-broadcast (no sort-merge, no extra shuffle)") {
    firstRun
    val logbook = etl.readFeed(feeds.logbook, Schemas.logbookFeed)
    val plan = etl.buildFact(logbook).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 7, plan)
  }

  test("fact table is month-partitioned and the anti-join prunes partitions") {
    firstRun
    val dirs = new java.io.File(s"$wh/car_driver_log").list().toSeq
      .filter(_.startsWith("p_month="))
    assert(dirs.nonEmpty, "expected p_month= partition directories")
    // a pruned read only touches the requested partitions
    val pruned = etl.readTable("car_driver_log").filter(col("p_month") === 201405)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p_month"), plan)
  }

  test("second run appends nothing (idempotence via anti-joins)") {
    assert(firstRun("car_driver_log") > 0L)
    val second = runOnFeeds()
    assert(second.values.forall(_ == 0L), s"second run appended: $second")
  }

  test("missing feed → empty frame with expected schema, run still succeeds") {
    assert(firstRun("car_driver_log") > 0L)
    val third = etl.run("/nonexistent/a.csv", "/nonexistent/b.csv", "/nonexistent/c.csv")
    assert(third.values.forall(_ == 0L))
  }

  test("first run with all three feeds absent loads nothing into a fresh warehouse") {
    val fresh = new EmissionEtl(spark, Files.createTempDirectory("graft_wh_empty").toString)
    val absent = Files.createTempDirectory("graft_no_feeds").toString
    val counts = fresh.run(s"$absent/drivers.csv", s"$absent/cars.csv", s"$absent/logbook.csv")
    assert(counts == Map("drivers" -> 0L, "cars" -> 0L, "country" -> 0L, "city" -> 0L,
      "car_driver_log" -> 0L), counts)
    assert(fresh.readTable("date").count() == 7306L)
  }

  test("first run with only the logbook present loads facts with NULL car and driver ids") {
    val fresh = new EmissionEtl(spark, Files.createTempDirectory("graft_wh_logbook").toString)
    val absent = Files.createTempDirectory("graft_logbook_only").toString
    val counts = fresh.run(s"$absent/drivers.csv", s"$absent/cars.csv", feeds.logbook)
    assert(counts("drivers") == 0L && counts("cars") == 0L, counts)
    assert(counts("car_driver_log") > 0L, counts)
    val fact = fresh.readTable("car_driver_log")
    assert(fact.count() == counts("car_driver_log"))
    assert(fact.filter(col("car_id").isNotNull || col("driver_id").isNotNull).isEmpty)
    val report = WarehouseQa.emissionOrphanReport(fresh).collect()
    assert(report.forall(_.getAs[Long]("orphan_rows") == 0L), report.mkString(", "))
  }

  test("emission rollups (the reference's headline analytics)") {
    firstRun
    val byBrand = etl.emissionByBrand()
    assert(byBrand.count() > 0)
    assert(byBrand.columns.toSeq == Seq("brand", "total_emission"))
    val total = byBrand.agg(sum("total_emission")).head.getDouble(0)
    val factTotal = etl.readTable("car_driver_log")
      .agg(sum("total_emission")).head.getDouble(0)
    assert(math.abs(total - factTotal) / factTotal < 1e-9)
    // 974 distinct (name, first_name) pairs actually drive in the logbook
    assert(etl.emissionByDriver().count() == 974L)
  }
}
