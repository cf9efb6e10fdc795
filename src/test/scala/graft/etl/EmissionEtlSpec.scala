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

  /** Orphans of `childCol` by a direct left-anti join on `===`. */
  private def antiJoinOrphans(
      child: org.apache.spark.sql.DataFrame, childCol: String,
      parent: org.apache.spark.sql.DataFrame, parentKey: String): Long =
    child.filter(col(childCol).isNotNull).alias("c")
      .join(parent.alias("p"), col(s"c.$childCol") === col(s"p.$parentKey"), "left_anti")
      .count()

  private def report(out: Array[org.apache.spark.sql.Row]): Seq[(String, Any)] =
    out.toSeq.map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))

  test("FK validation: string keys, mixed key types, duplicate parent keys") {
    import spark.implicits._
    val child = Seq[(Option[String], Option[Int], Option[Long])](
      (Some("a"), Some(10), Some(10L)), (Some("b"), Some(10), Some(99L)),
      (Some("zz"), Some(12), None), (None, None, Some(11L)), (Some("zz"), Some(13), Some(11L)))
      .toDF("s", "i", "l")
    // every parent key appears twice: a child row still counts once
    val parent = Seq(("a", 10L, "10"), ("a", 10L, "10"), ("b", 11L, "011"), ("b", 11L, "011"))
      .toDF("ks", "kl", "kstr")
    val fks = Seq(
      WarehouseQa.Fk("s->ks", "s", parent, "ks"),
      WarehouseQa.Fk("i->kl (int vs long)", "i", parent, "kl"),
      WarehouseQa.Fk("l->kstr (long vs string)", "l", parent, "kstr"))
    val out = report(WarehouseQa.orphanCounts(child, fks).collect())
    assert(out == Seq("s->ks" -> 2L, "i->kl (int vs long)" -> 2L,
      "l->kstr (long vs string)" -> 1L), out)
    // each equals a direct left-anti join on the same `===`
    assert(out.map(_._2) == fks.map(fk => antiJoinOrphans(child, fk.childCol, parent, fk.parentKey)))
  }

  test("FK validation: NULL child keys never count, an empty child reports one row") {
    import spark.implicits._
    val parent = Seq(1, 2).toDF("k")
    val nulls = Seq[Option[Int]](None, None, Some(3)).toDF("ref")
    val empty = nulls.filter(lit(false))
    val out = report(WarehouseQa.orphanCounts(Seq(
      nulls -> Seq(WarehouseQa.Fk("nulls", "ref", parent, "k")),
      empty -> Seq(WarehouseQa.Fk("empty", "ref", parent, "k")))).collect())
    // an empty child sums no rows: NULL, as the per-child aggregate gives
    assert(out == Seq("nulls" -> 1L, "empty" -> null), out)
    assert(report(WarehouseQa.orphanCounts(empty,
      Seq(WarehouseQa.Fk("empty", "ref", parent, "k"))).collect()) == Seq("empty" -> null))
  }

  test("FK validation: one frame as both child and parent, one call for several children") {
    import spark.implicits._
    // a self-referencing table: node.parent_id -> node.id
    val node = Seq((1, Option.empty[Int]), (2, Some(1)), (3, Some(7)), (4, Some(3)), (5, Some(8)))
      .toDF("id", "parent_id")
    val edge = Seq((1, 2), (3, 9), (6, 6)).toDF("src", "dst")
    val checks = Seq(
      node -> Seq(WarehouseQa.Fk("node.parent_id->node", "parent_id", node, "id")),
      edge -> Seq(
        WarehouseQa.Fk("edge.src->node", "src", node, "id"),
        WarehouseQa.Fk("edge.dst->node", "dst", node, "id")))
    val together = report(WarehouseQa.orphanCounts(checks).collect())
    assert(together == Seq("node.parent_id->node" -> 2L, "edge.src->node" -> 1L,
      "edge.dst->node" -> 2L), together)
    val apart = checks.flatMap { case (c, fks) => report(WarehouseQa.orphanCounts(c, fks).collect()) }
    assert(together == apart)
    // the shared frame is scanned once
    val plan = WarehouseQa.orphanCounts(checks).queryExecution.executedPlan.toString
    assert("Scan ExistingRDD|LocalTableScan".r.findAllIn(plan).length == 2, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("surrogate keys: after a second day every dimension's keys are unique, dense, continued") {
    val dir = Files.createTempDirectory("graft_wh_keys").toString
    val gen = ReferenceFeeds.generated
    new EmissionEtl(spark, dir).run(gen.drivers, gen.cars, gen.logbook)
    val dims = Seq("drivers" -> "driver_id", "cars" -> "car_id", "country" -> "country_id",
      "city" -> "city_id")
    def rows(etl: EmissionEtl, t: String) = etl.readTable(t).collect().toSet
    val day1 = { val e = new EmissionEtl(spark, dir); dims.map { case (t, _) => t -> rows(e, t) }.toMap }
    val two = ReferenceFeeds.secondDay
    val etl = new EmissionEtl(spark, dir)
    val added = etl.run(two.drivers, two.cars, two.logbook)
    dims.foreach { case (t, key) =>
      val ids = etl.readTable(t).select(key).collect().map(_.getInt(0)).toSeq
      val before = day1(t).size
      assert(added(t) > 0L, s"$t: the second day adds rows")
      assert(ids.sorted == (1 to before + added(t).toInt), s"$t: keys not unique and dense")
      // day-one rows keep their keys; the new rows take the keys after day one's max
      val now = rows(etl, t)
      assert(day1(t).subsetOf(now), t)
      assert((now -- day1(t)).map(_.getAs[Int](key)) == (before + 1 to before + added(t).toInt).toSet, t)
    }
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
