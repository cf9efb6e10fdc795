package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.EqualTo
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Engine-level referential-integrity validation (SURVEY §7.3).
  *
  * The reference declares 7 FOREIGN KEYs with RESTRICT/CASCADE
  * (dags/create_tables.py:55-125: city.country_id → country plus six
  * fact keys → cars/drivers/date/city×2/country×2) and relies on
  * Postgres to reject orphan rows at load time. Spark has no FK
  * enforcement, so the equivalent safety net is a QA pass that REPORTS
  * orphans: child rows whose non-null key value has no parent row. A
  * malformed feed then fails loudly in the pipeline's QA gate instead
  * of silently loading orphan ids.
  */
object WarehouseQa {

  /** One declared FK-style check: rows of the child table whose
    * `childCol` is non-null and absent from `parent`'s `parentKey`
    * column count as orphans (SQL FK semantics: NULL never violates).
    */
  final case class Fk(name: String, childCol: String, parent: DataFrame, parentKey: String)

  /** Orphan-row counts for several FKs of ONE child table. */
  def orphanCounts(child: DataFrame, fks: Seq[Fk]): DataFrame =
    orphanCounts(Seq(child -> fks))

  /** Orphan-row counts of every FK of several child tables, in long
    * format (fk, orphan_rows), one row per FK in declared order, from
    * ONE aggregation with no join:
    *   - each distinct frame (by reference: pass a table that plays
    *     several roles as one frame) is scanned once and emits one
    *     row per role, `(fk index, key, is_child)`;
    *   - `groupBy(fk, key)` gives each key's child-row count and
    *     whether any parent row carries it (duplicate parent keys
    *     collapse, so they never double-count a child row);
    *   - one global aggregate sums, per FK, the child rows of the
    *     non-NULL keys no parent carries.
    * Each FK's key travels in the type its `child === parent`
    * comparison coerces both sides to, so a key matches exactly when
    * that comparison holds. An FK whose child has no rows reports
    * NULL, as a sum over no rows does.
    */
  def orphanCounts(children: Seq[(DataFrame, Seq[Fk])]): DataFrame = {
    val fks = children.flatMap { case (child, fs) => fs.map(child -> _) }
    require(fks.nonEmpty, "no FK checks given")
    val spark = fks.head._1.sparkSession
    val types = fks.map { case (child, fk) =>
      comparedType(spark, child.select(fk.childCol).schema.head.dataType,
        fk.parent.select(fk.parentKey).schema.head.dataType)
    }
    // one key column per compared type; an FK's key sits in its type's
    val slots = types.distinct
    def slot(i: Int) = s"__k${slots.indexOf(types(i))}"
    def role(i: Int, key: String, isChild: Boolean): Column =
      struct(lit(i).as("fk") +: lit(isChild).as("child") +: slots.indices.map(j =>
        (if (slots(j) == types(i)) col(key).cast(types(i)) else lit(null).cast(slots(j)))
          .as(s"__k$j")): _*)
    val frames = (fks.map(_._1) ++ fks.map(_._2.parent)).foldLeft(Vector.empty[DataFrame]) {
      (seen, f) => if (seen.exists(_ eq f)) seen else seen :+ f
    }
    val rows = frames.map { f =>
      val roles = fks.zipWithIndex.flatMap { case ((child, fk), i) =>
        (if (child eq f) Seq(role(i, fk.childCol, isChild = true)) else Nil) ++
          (if (fk.parent eq f) Seq(role(i, fk.parentKey, isChild = false)) else Nil)
      }
      f.select(explode(array(roles: _*)).as("r")).select("r.*")
    }.reduce(_ union _)
    val keys = rows.groupBy(rows.columns.filter(_ != "child").map(col): _*)
      .agg(sum(col("child").cast("long")).as("__n"), max(!col("child")).as("__parent"))
    val counts = fks.indices.map { i =>
      sum(when(col("fk") === i && col("__n") > 0,
        when(col(slot(i)).isNotNull && !col("__parent"), col("__n")).otherwise(0L)))
        .as(s"__o$i")
    }
    keys.agg(counts.head, counts.tail: _*)
      .select(explode(array(fks.zipWithIndex.map { case ((_, fk), i) =>
        struct(lit(fk.name).as("fk"), col(s"__o$i").as("orphan_rows"))
      }: _*)).as("r")).select(col("r.fk").as("fk"), col("r.orphan_rows").as("orphan_rows"))
  }

  /** The type `l === r` compares its sides in: what the analyzer's
    * coercion casts both to (read from an analyzed plan; no job runs).
    */
  private def comparedType(
      spark: org.apache.spark.sql.SparkSession, l: DataType, r: DataType): DataType =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("l", l), StructField("r", r))))
      .select(col("l") === col("r")).queryExecution.analyzed.expressions
      .flatMap(_.collectFirst { case e: EqualTo => e.left.dataType }).head

  /** The reference's full FK set over an [[EmissionEtl]] warehouse:
    * city→country plus the six fact FKs, in one report from one
    * aggregation; each table is read once, whatever roles it plays.
    * Missing tables are skipped (pre-first-load warehouse).
    */
  def emissionOrphanReport(etl: EmissionEtl): DataFrame = {
    val t = Seq("city", "country", "car_driver_log", "cars", "drivers", "date")
      .filter(etl.tableExists).map(n => n -> etl.readTable(n)).toMap
    val checks = Seq.newBuilder[(DataFrame, Seq[Fk])]
    for (city <- t.get("city"); country <- t.get("country"))
      checks += city -> Seq(Fk("city.country_id->country", "country_id", country, "country_id"))
    for (fact <- t.get("car_driver_log")) {
      val fks = t.get("cars").map(Fk("fact.car_id->cars", "car_id", _, "car_id")).toSeq ++
        t.get("drivers").map(Fk("fact.driver_id->drivers", "driver_id", _, "driver_id")) ++
        t.get("date").map(Fk("fact.date_id->date", "date_id", _, "date_id")) ++
        t.get("city").toSeq.flatMap(city => Seq(
          Fk("fact.start_city_id->city", "start_city_id", city, "city_id"),
          Fk("fact.target_city_id->city", "target_city_id", city, "city_id"))) ++
        t.get("country").toSeq.flatMap(country => Seq(
          Fk("fact.start_country_id->country", "start_country_id", country, "country_id"),
          Fk("fact.target_country_id->country", "target_country_id", country, "country_id")))
      if (fks.nonEmpty) checks += fact -> fks
    }
    val all = checks.result()
    if (all.isEmpty) throw new IllegalStateException("no warehouse tables to validate")
    orphanCounts(all)
  }
}
