package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [[RelationalOps.pin]] returns the pinned frame together with
  * aggregates observed inside the checkpoint job: the values equal a
  * separate aggregate over the same rows, and no probe submits a job of
  * its own. The job-count legs below hold the operations that pin
  * churn-sized frames to the exact number of Spark jobs they submit.
  */
class PinSpec extends SparkSpec {

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") * 3).as("v"),
      concat(lit("r"), col("id").cast("string")).as("s"))

  // collect_set's element order follows merge order: sort it
  private def probes: Seq[Column] = Seq(count(lit(1)), sum(col("v")),
    min(col("k")), max(col("s")), sort_array(collect_set(col("k") % 3)),
    count(when(col("v") > 30, 1)))

  /** The pinned rows and observed values against the unpinned frame. */
  private def agrees(df: DataFrame): Unit = {
    val expected = df.agg(probes.head, probes.tail: _*).head().toSeq
    val (pinned, obs) = RelationalOps.pin(df, probes: _*)
    assert(obs.toSeq == expected)
    assert(pinned.collect().toSeq.map(_.toSeq).sortBy(_.toString) ==
      df.collect().toSeq.map(_.toSeq).sortBy(_.toString))
  }

  test("pin: observed values equal a separate aggregate over a non-empty frame") {
    agrees(rows(0, 40).repartition(3))
    val (_, obs) = RelationalOps.pin(rows(0, 40), probes: _*)
    assert(obs.getLong(0) == 40L && obs.getLong(1) == 3L * (0 until 40).sum)
  }

  test("pin: over zero rows — a zero-path read, limit(0), filter(false) — every probe reads its empty value") {
    val empties = Seq(
      spark.read.schema(rows(0, 1).schema).parquet(),
      rows(0, 40).limit(0),
      rows(0, 40).filter(lit(false)))
    empties.foreach { df =>
      agrees(df)
      val (_, obs) = RelationalOps.pin(df, probes: _*)
      assert(obs.getLong(0) == 0L && obs.isNullAt(1) && obs.isNullAt(2))
      assert(obs.getSeq[Long](4).isEmpty && obs.getLong(5) == 0L)
    }
  }

  test("pin: an adaptive plan with a shuffle observes its final rows") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val other = rows(0, 60).select(col("k"), (col("k") % 4).as("g"))
    val df = rows(0, 60).repartition(5, col("s"))
      .join(other, Seq("k"))
      .groupBy(col("g")).agg(count(lit(1)).as("k"), sum(col("v")).as("v"),
        max(col("s")).as("s"))
    agrees(df)
    val (_, obs) = RelationalOps.pin(df, probes: _*)
    assert(obs.getLong(0) == 4L)
  }

  test("pin: the probes add no job to the checkpoint") {
    val df = rows(0, 200).repartition(4, col("k"))
      .groupBy((col("k") % 10).as("k")).agg(sum(col("v")).as("v"),
        max(col("s")).as("s"))
    val (_, plain) = jobsOf(df.localCheckpoint())
    val (_, probed) = jobsOf(RelationalOps.pin(df, probes: _*))
    assert(probed == plain)
  }

  test("pin: two concurrent calls each get their own values") {
    val frames = Seq(rows(0, 30), rows(100, 170).repartition(2))
    val got = RelationalOps.inParallel(spark, frames) { df =>
      RelationalOps.pin(df, probes: _*)._2.toSeq
    }
    assert(got == frames.map(df => df.agg(probes.head, probes.tail: _*)
      .head().toSeq))
    assert(got.map(_.head) == Seq(30L, 70L))
  }

  test("pin: a failing action rethrows and never waits on its metrics") {
    val boom = udf((k: Long) =>
      if (k == 7L) throw new IllegalStateException("boom") else k)
    val df = rows(0, 20).withColumn("k", boom(col("k")))
    val run = scala.concurrent.Future(RelationalOps.pin(df, probes: _*))(
      scala.concurrent.ExecutionContext.global)
    val thrown = scala.util.Try(scala.concurrent.Await.result(run,
      scala.concurrent.duration.Duration(120, "s")))
    assert(thrown.isFailure)
    assert(!thrown.failed.get.isInstanceOf[java.util.concurrent.TimeoutException])
    var cause: Throwable = thrown.failed.get
    while (cause.getCause != null && !cause.getMessage.contains("boom"))
      cause = cause.getCause
    assert(cause.getMessage.contains("boom"))
  }

  test("withPin: hands over the pin and its values, then drops the checkpoint's blocks") {
    val df = rows(0, 50).repartition(2)
    val (ids, n) = RelationalOps.withPin(df, count(lit(1))) { (pinned, obs) =>
      val ids = pinned.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
      assert(ids.nonEmpty && ids.forall(spark.sparkContext.getPersistentRDDs.contains))
      (ids, pinned.count() + obs.getLong(0))
    }
    assert(n == 100L)
    assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains))
  }

  // Exact job counts of the operations that pin a churn-sized frame
  // and read values from it: a probe that re-read the pinned frame
  // would cost two more jobs under AQE, and a count that moves means
  // the operation's plan moved.

  private def freshTable(tag: String): String = {
    val dir = Files.createTempDirectory(tag).toString + "/t"
    rows(0, 400).repartition(4).write.parquet(dir)
    TxLog.convert(spark, dir)
    dir
  }

  test("jobs: a merge-on-read upsert over a 400-row table") {
    val dir = freshTable("pin_upsert")
    val (_, jobs) = jobsOf(DeletionVectors.upsert(spark, dir,
      rows(200, 230).withColumn("v", col("v") + 1).coalesce(1), Seq("k")))
    assert(jobs == UpsertJobs)
  }

  test("jobs: the change range of one upsert commit") {
    val dir = freshTable("pin_changes")
    DeletionVectors.upsert(spark, dir,
      rows(200, 230).withColumn("v", col("v") + 1).coalesce(1), Seq("k"))
    val v = TxLog.currentVersion(spark, dir)
    val (n, jobs) = jobsOf(
      TxLog.changes(spark, dir, v - 1, v, Seq("k")).collect().length)
    assert(n == 60) // each replaced key's pre- and post-image
    assert(jobs == ChangesJobs)
  }

  test("jobs: a database transaction's keyed upsert") {
    val db = Files.createTempDirectory("pin_db").toString + "/db"
    DbLog.create(spark, db)
    DbLog.transact(spark, db) { txn =>
      txn.append("a", rows(0, 50))
      txn.append("b", rows(0, 20).select("k", "s"))
    }
    val (_, jobs) = jobsOf(DbLog.transact(spark, db) { txn =>
      txn.upsertKeyed("b", Seq("k"), rows(10, 30).select("k", "s"))
    })
    assert(jobs == UpsertKeyedJobs)
  }

  test("jobs: a star view refresh over a fact append and dimension moves") {
    val db = Files.createTempDirectory("pin_star").toString + "/db"
    DbLog.create(spark, db)
    val fact = spark.range(0, 300).select(col("id").as("okey"),
      (col("id") % 20).as("ckey"), (col("id") % 17 * 0.5).as("price"))
    val cust = spark.range(0, 20).select(col("id").as("ckey"),
      (col("id") % 3).cast("string").as("seg"))
    DbLog.transact(spark, db, "seed") { txn =>
      txn.append("fact", fact)
      txn.append("cust", cust)
    }
    DbMv.initStar(spark, db, "v", DbMv.StarView("fact",
      Seq(("cust", Seq("ckey"))), Seq("seg"), Seq("price"), Seq("price")))
    DbLog.transact(spark, db, "churn") { txn =>
      txn.append("fact", spark.range(300, 340).select(col("id").as("okey"),
        (col("id") % 20).as("ckey"), (col("id") % 13 * 0.5).as("price")))
      txn.upsertKeyed("cust", Seq("ckey"), cust.filter(col("ckey") < 4)
        .withColumn("seg", lit("moved")))
    }
    val (_, jobs) = jobsOf(DbMv.refreshStar(spark, db, "v"))
    val direct = DbLog.snapshot(spark, db, "fact")
      .join(DbLog.snapshot(spark, db, "cust"), Seq("ckey"))
      .groupBy("seg").agg(count(lit(1)).as("mv_count"),
        sum("price").as("sum_price"), min("price").as("min_price"),
        max("price").as("max_price"))
    val view = DbMv.readStar(spark, db, "v").select(direct.columns.map(col): _*)
    assert(view.exceptAll(direct).isEmpty && direct.exceptAll(view).isEmpty)
    assert(jobs == RefreshStarJobs)
  }

  private val UpsertJobs = 5
  private val ChangesJobs = 11
  private val UpsertKeyedJobs = 5
  private val RefreshStarJobs = 34
}
