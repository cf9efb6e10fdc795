package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (single JVM under Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String) = s"/root/testdata/sf0.001"

  /** Runs `body` and returns it with the Spark jobs it submitted, read
    * after the listener bus drains.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val (r, jobs) = jobListOf(body)
    (r, jobs.size)
  }

  /** [[jobsOf]] with each job: whether it ran inside a SQL execution,
    * and its call site — the SQL execution's action
    * (`localCheckpoint at EmissionEtl.scala:320`), else the job's own
    * (`parquet at ParquetUpsert.scala:42`).
    */
  def jobListOf[T](body: => T): (T, Seq[SparkSpec.Job]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkSpec.Job]()
    val actions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            actions.put(s.executionId, s.description)
          case _ =>
        }
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val sql = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        jobs.add(SparkSpec.Job(sql.isDefined,
          sql.flatMap(id => Option(actions.get(id.toLong)))
            .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("")(_.name))))
      }
    }
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.BusDrain(spark.sparkContext)
      (r, jobs.toArray(Array.empty[SparkSpec.Job]).toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  /** One Spark job: inside a SQL execution or not, and its call site. */
  final case class Job(inSql: Boolean, callSite: String)

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_sql_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
