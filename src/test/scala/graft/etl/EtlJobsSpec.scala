package graft.etl

import java.nio.file.Files

import graft.SparkSpec

/** Exact Spark job counts of three daily loads, each by a fresh
  * pipeline as a daily scheduler builds it: a first load of the
  * generated reference-shaped feeds, a second day onto that warehouse,
  * and a re-delivery of the second day. A count that moves means a
  * load's plan moved. Every job runs inside a SQL execution: every
  * warehouse read carries its declared schema, and
  * `ParquetUpsert.mergeByKey` takes the live table's from a footer on
  * the driver. The orphan report over the loaded warehouse is counted
  * the same way.
  */
class EtlJobsSpec extends SparkSpec {

  private lazy val wh = Files.createTempDirectory("graft_wh_jobs").toString

  private def load(feeds: ReferenceFeeds.Feeds): (Map[String, Long], Seq[SparkSpec.Job]) =
    jobListOf(new EmissionEtl(spark, wh).run(feeds.drivers, feeds.cars, feeds.logbook))

  private lazy val first = load(ReferenceFeeds.generated)
  private lazy val second = { first; load(ReferenceFeeds.secondDay) }
  private lazy val redelivery = { second; load(ReferenceFeeds.secondDay) }

  /** Jobs that ran outside a SQL execution. */
  private def inferring(jobs: Seq[SparkSpec.Job]): Seq[SparkSpec.Job] = jobs.filterNot(_.inSql)

  test("jobs: a first load of the reference-shaped feeds") {
    val (counts, jobs) = first
    assert(counts == Map("drivers" -> 1000L, "cars" -> 999L, "country" -> 1L,
      "city" -> 457L, "car_driver_log" -> 5000L), counts)
    assert(inferring(jobs).isEmpty, jobs.mkString("\n"))
    assert(jobs.size == FirstLoadJobs, jobs.mkString("\n"))
  }

  test("jobs: a second day's load onto that warehouse") {
    val (counts, jobs) = second
    assert(counts == Map(
      "drivers" -> ReferenceFeeds.DayTwoDrivers.toLong,
      "cars" -> ReferenceFeeds.DayTwoCars.toLong, "country" -> 1L,
      "city" -> ReferenceFeeds.DayTwoCities.toLong,
      "car_driver_log" -> ReferenceFeeds.DayTwoTrips.toLong), counts)
    assert(inferring(jobs).isEmpty, jobs.mkString("\n"))
    assert(jobs.size == SecondDayJobs, jobs.mkString("\n"))
  }

  test("jobs: a re-delivery of the second day appends nothing") {
    val (counts, jobs) = redelivery
    assert(counts.values.forall(_ == 0L), counts)
    assert(inferring(jobs).isEmpty, jobs.mkString("\n"))
    assert(jobs.size == RedeliveryJobs, jobs.mkString("\n"))
  }

  test("jobs: the orphan report over the second day's warehouse") {
    second
    val (report, jobs) = jobListOf(
      WarehouseQa.emissionOrphanReport(new EmissionEtl(spark, wh)).collect())
    assert(report.length == 8 && report.forall(_.getLong(1) == 0L), report.mkString(", "))
    assert(inferring(jobs).isEmpty, jobs.mkString("\n"))
    assert(jobs.size == OrphanReportJobs, jobs.mkString("\n"))
  }

  private val FirstLoadJobs = 27
  private val SecondDayJobs = 36
  private val RedeliveryJobs = 27
  private val OrphanReportJobs = 3
}
