package emibench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{EmissionEtl, WarehouseQa}
import graft.ops.{DbLog, DbMv, DeleteWhere, DeletionVectors, Maintenance, TxLog}
import graft.sources.ParquetStore

/** The paper's own use: one scheduled daily load per cycle, then the
  * brand, car and driver rollups and the orphan report. After the last
  * cycle the last day's feeds are delivered again, whole, and must
  * append nothing.
  */
final class EtlDaily extends Workload {
  val cycles: Int = EtlInputs.Redelivered
  private var days: IndexedSeq[Day] = _
  private var feeds: IndexedSeq[EtlInputs.Feeds] = _
  private val model = new EtlModel

  def prepare(seed: Long, dir: Path): Unit = {
    days = EtlInputs.generate(seed)
    feeds = EtlInputs.write(dir, days)
    EtlInputs.selfCheck(days, feeds)
  }

  /** One scheduled job: a fresh pipeline object, as a daily scheduler
    * would build it, landing day `d`.
    */
  private def load(run: Run, d: Int, wh: String, extra: Boolean): EmissionEtl = {
    val (day, f) = (days(d), feeds(d))
    val want = model.load(day)
    val rows = (day.drivers.size + day.cars.size + day.trips.size).toLong
    def job = {
      val tr = run.tracer
      val store =
        if (tr.enabled) Some(new TracedStore(new ParquetStore(run.spark, wh), tr)) else None
      val etl = new EmissionEtl(run.spark, wh, storeOpt = store)
      (etl, tr.span("etl.load")(etl.run(f.drivers, f.cars, f.logbook)))
    }
    val (etl, got) = if (extra) run.extra(rows)(job) else run.write(rows)(job)
    Check.equal(s"day $d appended rows", want, got)
    etl
  }

  def cycle(run: Run, d: Int, dir: Path): Unit = {
    val wh = dir.resolve("warehouse").toString
    val etl = load(run, d, wh, extra = false)
    // cycle 0 is the bulk load alone; every later cycle reads
    if (d > 0) rollups(run, d, etl)
    if (d == cycles - 1) {
      // the re-delivery, timed on its own: a retried load must be a no-op
      load(run, EtlInputs.Redelivered, wh, extra = true)
      // row counts, read with plain Spark (not through the program)
      val counts = model.tableRows.keys.map(t =>
        t -> run.spark.read.parquet(s"$wh/$t").count()).toMap
      Check.equal("table rows after the re-delivery", model.tableRows, counts)
    }
  }

  private def rollups(run: Run, d: Int, etl: EmissionEtl): Unit = {
    val tr = run.tracer
    val brand = run.read(tr.span("etl.rollup")(etl.emissionByBrand().collect()))
    val car = run.read(tr.span("etl.rollup")(etl.emissionByCar().collect()))
    val driver = run.read(tr.span("etl.rollup")(etl.emissionByDriver().collect()))
    val qa = run.read(tr.span("etl.qa")(WarehouseQa.emissionOrphanReport(etl).collect()))

    val brandSums = brand.map(x => x.getString(0) -> x.getDouble(1)).toMap
    val carSums = car.map(_.getAs[Double]("total_emission")).toSeq
    val driverSums = driver.map(x => (x.getAs[String]("name"), x.getAs[String]("first_name")) ->
      x.getAs[Double]("total_emission")).toMap
    Check.sums(s"day $d emission by brand", model.brandSums, brandSums)
    Check.sortedSums(s"day $d emission by car", model.carSums, carSums)
    Check.sums(s"day $d emission by driver", model.driverSums, driverSums)
    Check.totals(s"day $d rollup totals", model.total, Map("brand" -> brandSums.values,
      "car" -> carSums, "driver" -> driverSums.values))
    Check.equal(s"day $d orphan report", model.orphanFks,
      qa.map(x => x.getString(0) -> x.getLong(1)).toMap)
  }
}

/** Lake row frames: built from the generated rows inside the timed
  * operation that writes them.
  */
object Frames {
  val lakeSchema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("g", IntegerType, nullable = false),
    StructField("v", DoubleType, nullable = false), StructField("tag", StringType)))
  val factSchema: StructType = StructType(Seq(
    StructField("fid", LongType, nullable = false), StructField("dkey", IntegerType, nullable = false),
    StructField("amount", DoubleType, nullable = false)))
  val dimSchema: StructType = StructType(Seq(
    StructField("dkey", IntegerType, nullable = false), StructField("region", StringType)))

  def lake(spark: SparkSession, rows: Seq[LakeRow]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.k, r.g, r.v, r.tag)).asJava, lakeSchema)
  def facts(spark: SparkSession, rows: Seq[FactRow]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.fid, r.dkey, r.amount)).asJava, factSchema)
  def dims(spark: SparkSession, rows: Seq[DimRow]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.dkey, r.region)).asJava, dimSchema)

  def lakeRow(x: Row): LakeRow =
    LakeRow(x.getAs[Long]("k"), x.getAs[Int]("g"), x.getAs[Double]("v"), x.getAs[String]("tag"))

  /** The aggregate the lake workload reads: count, sums, key bounds. */
  def aggregate(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("k")), sum(col("v")), sum(col("g")), min(col("k")), max(col("k")))

  def aggOf(x: Row): (Long, Long, Double, Long, Long, Long) =
    if (x.getLong(0) == 0) (0L, 0L, 0.0, 0L, 0L, 0L)
    else (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3), x.getLong(4), x.getLong(5))

  def aggOf(rows: Iterable[LakeRow]): (Long, Long, Double, Long, Long, Long) =
    if (rows.isEmpty) (0L, 0L, 0.0, 0L, 0L, 0L)
    else (rows.size.toLong, rows.map(_.k).sum, rows.map(_.v).sum, rows.map(_.g.toLong).sum,
      rows.map(_.k).min, rows.map(_.k).max)

  def checkAgg(what: String, want: (Long, Long, Double, Long, Long, Long),
      got: (Long, Long, Double, Long, Long, Long)): Unit = {
    Check.equal(what, want.copy(_3 = 0.0), got.copy(_3 = 0.0))
    if (!Check.close(want._3, got._3, Check.RelTol))
      throw new CheckFailed(s"$what: expected sum(v) ${want._3}, got ${got._3}")
  }
}

/** The lakehouse core on one keyed `TxLog` table and one `DbLog` star
  * database. Cycle 0 bulk-loads both and seeds the star view. Every
  * later cycle starts with `Maintenance.run` (compaction and
  * checkpoint), timed on its own, then runs its write group: a log
  * append, a copy-on-write delete, a merge-on-read upsert, a two-table
  * transaction and a star view refresh. Reads per cycle, half through
  * the Scala API and half through SQL: pruned, full, time-travel,
  * history and change-range reads of the table, and the star view.
  */
final class Lake extends Workload {
  val cycles = 4
  val sizes = LakeInputs.Sizes(bulk = 20000, append = 2000, upsert = 300,
    deleteWidth = 150, factBulk = 20000, facts = 2000, dims = 400, dimMoves = 20,
    cycles = cycles - 1)
  /** Width of the pruned key ranges, and how far back time travel and
    * change ranges reach.
    */
  val ScanWidth = 600L
  val Back = 3
  val ChangeSpan = 1
  private var in: LakeInputs = _
  private var scanLo: IndexedSeq[(Long, Long)] = _
  private val model = new LakeModel
  private val stars = new StarModel

  def prepare(seed: Long, dir: Path): Unit = {
    in = LakeInputs.generate(seed, sizes)
    LakeInputs.selfCheck(in)
    // the pruned ranges are part of the shape too
    val rnd = new java.util.SplittableRandom(LakeInputs.ShapeSeed * 31 + 7)
    scanLo = (0 until cycles).map(_ =>
      (rnd.nextInt(sizes.bulk).toLong, rnd.nextInt(sizes.bulk).toLong))
  }

  private val star = DbMv.StarView("fact", Seq(("dim", Seq("dkey"))),
    groupCols = Seq("region"), sumCols = Seq("amount"), minMaxCols = Seq("amount"))

  /** A data-changing write must commit exactly one version. */
  private def committed(what: String, v: Int): Unit = {
    val want = model.versions.max + 1
    if (v != want) throw new CheckFailed(s"$what committed up to v$v, expected v$want")
    model.commit(v)
  }

  def cycle(run: Run, c: Int, dir: Path): Unit = {
    val spark = run.spark
    val tr = run.tracer
    val t = dir.resolve("table").toString
    val db = dir.resolve("db").toString
    def version(): Int = TxLog.currentVersion(spark, t)
    def sql(q: String): Array[Row] = tr.span("plans.sql")(spark.sql(q).collect())

    if (c == 0) {
      val v = run.write(in.bulk.size) {
        TxLog.convert(spark, t)
        TxLog.setStatsColumns(spark, t, Seq("k"))
        tr.span("ops.commit")(TxLog.append(spark, t,
          Frames.lake(spark, in.bulk).repartitionByRange(4, col("k"))))
      }
      model.commit(0)
      model.append(in.bulk)
      committed("bulk load", v)
      run.write(in.factBulk.size + in.dimBulk.size) {
        DbLog.create(spark, db)
        tr.span("ops.commit")(DbLog.transact(spark, db, "seed") { txn =>
          txn.append("fact", Frames.facts(spark, in.factBulk).repartition(2))
          txn.append("dim", Frames.dims(spark, in.dimBulk))
        })
      }
      stars.appendFacts(in.factBulk); stars.upsertDims(in.dimBulk)
      run.write(0)(tr.span("ops.mv")(DbMv.initStar(spark, db, "by_region", star)))
    } else {
      val vm = run.extra(0) {
        tr.span("ops.maintenance")(Maintenance.run(spark, t))
        version()
      }
      // maintenance moves rows between files; every version it commits
      // holds the same rows
      (model.versions.max + 1 to vm).foreach(model.commit)
      val cy = in.cycles(c - 1)
      val va = run.write(cy.append.size)(tr.span("ops.commit")(
        TxLog.append(spark, t, Frames.lake(spark, cy.append).coalesce(1))))
      model.append(cy.append)
      committed(s"cycle $c append", va)
      val (lo, hi) = cy.deleteRange
      val deleted = model.deleteRange(lo, hi)
      val vd = run.write(0) {
        tr.span("ops.dml") {
          DeleteWhere.wherePruned(spark, t, col("k").between(lo, hi))
          tr.useful("ops.dml", deleted)
        }
        version()
      }
      committed(s"cycle $c delete", vd)
      val replaced = model.upsert(cy.upsert)
      val vu = run.write(cy.upsert.size) {
        tr.span("ops.dml") {
          DeletionVectors.upsert(spark, t, Frames.lake(spark, cy.upsert).coalesce(1), Seq("k"))
          tr.useful("ops.dml", replaced)
        }
        version()
      }
      committed(s"cycle $c upsert", vu)
      run.write(cy.facts.size + cy.dims.size)(tr.span("ops.commit")(
        DbLog.transact(spark, db, "cycle") { txn =>
          txn.append("fact", Frames.facts(spark, cy.facts).coalesce(1))
          txn.upsertKeyed("dim", Seq("dkey"), Frames.dims(spark, cy.dims))
        }))
      stars.appendFacts(cy.facts); stars.upsertDims(cy.dims)
      run.write(0)(tr.span("ops.mv")(DbMv.refreshStar(spark, db, "by_region")))
    }

    // cycle 0 is the bulk load alone; every later cycle reads
    if (c > 0) {
      val v = model.versions.max
      val (lo1, lo2) = scanLo(c)
      val (hi1, hi2) = (lo1 + ScanWidth - 1, lo2 + ScanWidth - 1)
      val full = run.read(tr.span("ops.snapshot") {
        val x = Frames.aggOf(Frames.aggregate(TxLog.snapshot(spark, t)).head())
        tr.useful("ops.snapshot", x._1); x
      })
      Frames.checkAgg(s"cycle $c snapshot aggregate", Frames.aggOf(model.stateAt(v)), full)
      val fullSql = run.read(sql(
        s"SELECT count(1), sum(k), sum(v), sum(g), min(k), max(k) FROM graft_snapshot('$t')"))
      Frames.checkAgg(s"cycle $c graft_snapshot aggregate", Frames.aggOf(model.stateAt(v)),
        Frames.aggOf(fullSql.head))

      val pruned = run.read(tr.span("ops.snapshot") {
        val x = TxLog.snapshotPruned(spark, t, "k", lo1.toDouble, hi1.toDouble).collect()
        tr.useful("ops.snapshot", x.length); x
      })
      Check.digest(s"cycle $c pruned read", Digest.of(model.rangeAt(v, lo1, hi1)),
        Digest.of(pruned.map(Frames.lakeRow)))
      val scan = run.read(sql(s"SELECT * FROM graft_scan('$t', 'k', $lo2, $hi2)"))
      Check.digest(s"cycle $c graft_scan", Digest.of(model.rangeAt(v, lo2, hi2)),
        Digest.of(scan.map(Frames.lakeRow)))

      val old = math.max(1, v - Back)
      val travel = run.read(tr.span("ops.snapshot") {
        val x = TxLog.snapshot(spark, t, version = old).collect()
        tr.useful("ops.snapshot", x.length); x
      })
      Check.digest(s"cycle $c time travel to v$old", model.digestAt(old),
        Digest.of(travel.map(Frames.lakeRow)))
      val hist = run.read(sql(s"SELECT version FROM graft_history('$t')"))
      Check.equal(s"cycle $c graft_history versions", (v to 0 by -1).toSeq,
        hist.map(_.getInt(0)).toSeq)

      val from = math.max(1, v - ChangeSpan)
      val ch = run.read(tr.span("ops.changes")(
        TxLog.changes(spark, t, from, v, Seq("k")).collect()))
      Check.rows(s"cycle $c changes ($from, $v]", model.changes(from, v),
        ch.map(x => (x.getAs[String]("_change_type"), x.getAs[Int]("_commit_version"),
          Frames.lakeRow(x))).toSeq)
      val diff = run.read(sql(s"SELECT * FROM graft_diff('$t', $from, $v)"))
      Check.rows(s"cycle $c graft_diff ($from, $v]", model.diff(from, v),
        diff.map(x => (x.getAs[String]("_change_type"), Frames.lakeRow(x))).toSeq)

      val view = run.read(tr.span("ops.mv_read")(DbMv.readStar(spark, db, "by_region").collect()))
      Check.star(s"cycle $c star view", stars.view, view.map(x => x.getAs[String]("region") ->
        StarAgg(x.getAs[Long]("mv_count"), x.getAs[Double]("sum_amount"),
          x.getAs[Double]("min_amount"), x.getAs[Double]("max_amount"))).toMap)
    }
  }
}
