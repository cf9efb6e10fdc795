package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet: ORC, JSON lines, CSV —
  * each written and re-read with an explicit schema (the engine never
  * infers schemas on ingest, SURVEY §1.1), asserting the round trip
  * preserves rows and values exactly.
  */
class FormatsSpec extends SparkSpec {

  private def checksum(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).collect()(0).getLong(0) // order-independent, no ANSI overflow

  private lazy val orders = graft.Tables.orders(spark, sf("orders"))

  test("JDBC round trip against embedded Derby preserves rows and pushes filters") {
    val db = Files.createTempDirectory("graft_derby").toString + "/wh"
    val store = new JdbcStore(spark, s"jdbc:derby:$db;create=true")
    val sample = orders.limit(500)
    assert(!store.exists("orders_rt"))
    store.overwrite(sample, "orders_rt")
    assert(store.exists("orders_rt"))
    val back = store.read("orders_rt")
    assert(back.count() == 500)
    assert(checksum(back.select(sample.columns.map(col): _*)) == checksum(sample))
    // appendKeyed accumulates; re-read sees both batches
    store.appendKeyed(sample.withColumn("o_orderkey", col("o_orderkey") + 1000000L),
      "orders_rt", "o_orderkey")
    assert(store.read("orders_rt").count() == 1000)
    // a Spark-side filter reaches the database as a WHERE pushdown
    val plan = store.read("orders_rt").filter(col("o_orderkey") === 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"), plan)
  }

  test("JDBC staged append is all-or-nothing when the batch write crashes mid-job") {
    val db = Files.createTempDirectory("graft_derby_atomic").toString + "/wh"
    val store = new JdbcStore(spark, s"jdbc:derby:$db;create=true")
    val base = orders.limit(500)
    store.appendKeyed(base, "orders_atomic", "o_orderkey")
    val baseSum = checksum(store.read("orders_atomic").select(base.columns.map(col): _*))
    assert(store.read("orders_atomic").count() == 500)

    // poison batch: several partitions, one row throws during the Spark
    // write — under a direct per-partition-commit append the tasks that
    // finished first would leave partial rows visible in the target
    val poison = base
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .repartition(8)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 97 =!= 0, col("o_totalprice"))
          .otherwise(raise_error(lit("simulated mid-write crash"))))
    intercept[Exception] { store.appendKeyed(poison, "orders_atomic", "o_orderkey") }
    // target untouched: same rows, same contents
    assert(store.read("orders_atomic").count() == 500)
    assert(checksum(store.read("orders_atomic")
      .select(base.columns.map(col): _*)) == baseSum)

    // retry with the clean batch succeeds (stale stage clobbered) and the
    // stage does not linger after publish
    store.appendKeyed(base.withColumn("o_orderkey", col("o_orderkey") + 1000000L),
      "orders_atomic", "o_orderkey")
    assert(store.read("orders_atomic").count() == 1000)
    assert(!store.exists("orders_atomic__stage"))

    // keyed merge honors the key (mergeByKey parity): re-sending rows
    // with existing keys replaces them instead of duplicating
    store.appendKeyed(base.withColumn("o_totalprice", lit(1.25)),
      "orders_atomic", "o_orderkey")
    assert(store.read("orders_atomic").count() == 1000)
    assert(store.read("orders_atomic")
      .filter(col("o_totalprice") === 1.25).count() == 500)
  }

  test("JDBC store reaches a mixed-case, externally quoted table (identifier quoting)") {
    val db = Files.createTempDirectory("graft_derby_case").toString + "/wh"
    val url = s"jdbc:derby:$db;create=true"
    val store = new JdbcStore(spark, url)
    // created OUTSIDE the store with an exact-case quoted identifier —
    // unquoted SQL would case-fold to ORDERSCASE and miss it
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE "OrdersCase" ("o_orderkey" BIGINT, "p" VARCHAR(16))""")
    finally conn.close()
    assert(store.exists("OrdersCase"))
    assert(store.read("OrdersCase").count() == 0)

    import spark.implicits._
    val batch = Seq((1L, "a"), (2L, "b")).toDF("o_orderkey", "p")
    store.appendKeyed(batch, "OrdersCase", "o_orderkey") // staged publish
    assert(store.read("OrdersCase").count() == 2)
    // keyed merge still replaces by key through the quoted path
    store.appendKeyed(Seq((2L, "B"), (3L, "c")).toDF("o_orderkey", "p"),
      "OrdersCase", "o_orderkey")
    val rows = store.read("OrdersCase").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // partition surgery on the same mixed-case table
    store.rewritePartitioned(Seq((9L, "a")).toDF("o_orderkey", "p"),
      "OrdersCase", "p", Seq("a"))
    val after = store.read("OrdersCase").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == Map(9L -> "a", 2L -> "B", 3L -> "c"))
    assert(!store.exists("OrdersCase__stage"))
    // clobber contract (trait doc): stage rows landing in a live
    // partition NOT listed as a source must roll back — unlisted-live
    // rows would silently duplicate alongside the existing ones
    intercept[IllegalStateException] {
      store.rewritePartitioned(Seq((7L, "c"), (8L, "a")).toDF("o_orderkey", "p"),
        "OrdersCase", "p", Seq("a"))
    }
    assert(store.read("OrdersCase").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == after)
  }

  test("JDBC rewrite with NO source partitions is a pure add (no IN () syntax error)") {
    // ADVICE r6: a sidecar batch landing only in fresh cells calls
    // rewritePartitioned with empty sourceValues — the JDBC backend
    // used to emit `IN ()`/`NOT IN ()`, a SQL syntax error
    import spark.implicits._
    val db = Files.createTempDirectory("graft_derby_add").toString + "/wh"
    val store = new JdbcStore(spark, s"jdbc:derby:$db;create=true")
    store.overwrite(Seq((1L, "a")).toDF("id", "p"), "adds_rw")
    store.rewritePartitioned(Seq((2L, "b")).toDF("id", "p"), "adds_rw", "p", Seq.empty)
    def rows() = store.read("adds_rw").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows() == Map(1L -> "a", 2L -> "b"))
    // with no sources listed, EVERY staged row landing in a live
    // partition is a clobber and must roll back
    intercept[IllegalStateException] {
      store.rewritePartitioned(Seq((9L, "a")).toDF("id", "p"), "adds_rw", "p", Seq.empty)
    }
    assert(rows() == Map(1L -> "a", 2L -> "b"))
  }

  test("JDBC rewrite addresses NULL partitions via the Hive default sentinel") {
    import spark.implicits._
    val db = Files.createTempDirectory("graft_derby_null").toString + "/wh"
    val store = new JdbcStore(spark, s"jdbc:derby:$db;create=true")
    val sentinel = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .DEFAULT_PARTITION_NAME
    val base = Seq((1L, "a"), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String])).toDF("id", "p")
    store.overwrite(base, "nulls_rw")
    def rows() = store.read("nulls_rw").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // the NULL partition is addressable by the same sentinel the
    // directory backend's partition dirs use
    store.rewritePartitioned(
      Seq((9L, null.asInstanceOf[String])).toDF("id", "p"),
      "nulls_rw", "p", Seq(sentinel))
    assert(rows() == Map(1L -> Some("a"), 9L -> None))
    // staging NULL rows without listing the sentinel = clobber, aborts
    intercept[IllegalStateException] {
      store.rewritePartitioned(
        Seq((7L, "a"), (8L, null.asInstanceOf[String])).toDF("id", "p"),
        "nulls_rw", "p", Seq("a"))
    }
    assert(rows() == Map(1L -> Some("a"), 9L -> None))
  }

  test("EmissionEtl runs end-to-end on a JDBC (Derby) warehouse with golden counts") {
    val refData = "/root/reference/data"
    val feeds = graft.etl.ReferenceFeeds.resolve(refData)
    info(s"feeds: ${feeds.source}")
    val db = Files.createTempDirectory("graft_derby_etl").toString + "/wh"
    val feedDir = Files.createTempDirectory("graft_derby_feeds").toString
    val store = new JdbcStore(spark, s"jdbc:derby:$db;create=true")
    val etl = new graft.etl.EmissionEtl(spark, feedDir, storeOpt = Some(store))
    val counts = etl.run(feeds.drivers, feeds.cars, feeds.logbook)
    assert(counts("drivers") == 1000L, counts)
    assert(counts("cars") == 999L, counts)
    assert(counts("car_driver_log") == 5000L, counts)
    assert(etl.readTable("date").count() == 7306L)
    // idempotence holds on the JDBC backend too
    val second = etl.run(feeds.drivers, feeds.cars, feeds.logbook)
    assert(second.values.forall(_ == 0L), second)
  }

  test("EmissionEtl with all three feeds absent loads nothing into a fresh JDBC (Derby) warehouse") {
    val db = Files.createTempDirectory("graft_derby_empty").toString + "/wh"
    val feedDir = Files.createTempDirectory("graft_derby_no_feeds").toString
    val store = new JdbcStore(spark, s"jdbc:derby:$db;create=true")
    val etl = new graft.etl.EmissionEtl(spark, feedDir, storeOpt = Some(store))
    val counts = etl.run(s"$feedDir/drivers.csv", s"$feedDir/cars.csv", s"$feedDir/logbook.csv")
    assert(counts == Map("drivers" -> 0L, "cars" -> 0L, "country" -> 0L, "city" -> 0L,
      "car_driver_log" -> 0L), counts)
    assert(etl.readTable("date").count() == 7306L)
  }

  test("EmissionEtl with only the logbook present loads NULL-id facts into a fresh JDBC (Derby) warehouse") {
    val feeds = graft.etl.ReferenceFeeds.resolve("/root/reference/data")
    val db = Files.createTempDirectory("graft_derby_logbook").toString + "/wh"
    val feedDir = Files.createTempDirectory("graft_derby_logbook_only").toString
    val store = new JdbcStore(spark, s"jdbc:derby:$db;create=true")
    val etl = new graft.etl.EmissionEtl(spark, feedDir, storeOpt = Some(store))
    val counts = etl.run(s"$feedDir/drivers.csv", s"$feedDir/cars.csv", feeds.logbook)
    assert(counts("drivers") == 0L && counts("cars") == 0L, counts)
    assert(counts("car_driver_log") > 0L, counts)
    val fact = etl.readTable("car_driver_log")
    assert(fact.count() == counts("car_driver_log"))
    assert(fact.filter(col("car_id").isNotNull || col("driver_id").isNotNull).isEmpty)
    val report = graft.etl.WarehouseQa.emissionOrphanReport(etl).collect()
    assert(report.forall(_.getAs[Long]("orphan_rows") == 0L), report.mkString(", "))
  }

  test("ORC round trip preserves schema and values") {
    val dir = Files.createTempDirectory("graft_orc").toString + "/t"
    orders.write.orc(dir)
    val back = spark.read.schema(orders.schema).orc(dir)
    assert(back.schema == orders.schema)
    assert(back.count() == orders.count())
    assert(checksum(back) == checksum(orders))
  }

  test("JSON-lines round trip with explicit schema (no inference)") {
    val dir = Files.createTempDirectory("graft_json").toString + "/t"
    orders.write.json(dir)
    val back = spark.read.schema(orders.schema).json(dir)
    assert(back.count() == orders.count())
    assert(checksum(back) == checksum(orders))
  }

  test("CSV round trip with explicit schema and timestamp format") {
    val dir = Files.createTempDirectory("graft_csv").toString + "/t"
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    orders.write
      .option("header", "true").option("timestampFormat", fmt)
      .csv(dir)
    val back = spark.read
      .option("header", "true").option("timestampFormat", fmt)
      .schema(orders.schema)
      .csv(dir)
    assert(back.count() == orders.count())
    assert(checksum(back) == checksum(orders))
  }

  // --- events loader must adapt to every ts physical type the upstream
  // writer has ever emitted: TIMESTAMP(NANOS) (pre-refresh testdata),
  // TIMESTAMP(MICROS) without UTC flag (current testdata → TIMESTAMP_NTZ),
  // and TIMESTAMP(MICROS) adjusted-to-UTC (Spark's own writer output).
  // Upstream format drift here crashed 11 queries in round 7; this spec
  // pins the contract so it cannot regress silently again.

  /** Micros since epoch for a fixed instant set, shared by all three writers. */
  private val tsMicros: Seq[Long] =
    Seq(1700000000000000L, 1700000001500000L, 1700003600250000L)

  private def assertEventsLoad(dir: String): Unit = {
    val df = graft.Tables.events(spark, dir)
    // every physical variant must surface the SAME dtype downstream
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
      df.schema("ts").dataType.toString)
    val got = df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == tsMicros, got.mkString(","))
  }

  test("events loader handles ts stored as TIMESTAMP(NANOS)") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val dir = Files.createTempDirectory("graft_ev_nanos").toString
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS)).named("ts")
      .required(PrimitiveTypeName.INT64).named("event_id")
      .named("events")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    tsMicros.zipWithIndex.foreach { case (us, i) =>
      w.write(f.newGroup().append("ts", us * 1000L).append("event_id", i.toLong))
    }
    w.close()
    assertEventsLoad(dir)
  }

  test("events loader handles ts stored as TIMESTAMP(MICROS) NTZ and LTZ") {
    import org.apache.spark.sql.types._
    val ntzDir = Files.createTempDirectory("graft_ev_ntz").toString
    val ltzDir = Files.createTempDirectory("graft_ev_ltz").toString
    val base = spark.createDataFrame(
      java.util.Arrays.asList(tsMicros.zipWithIndex.map { case (us, i) =>
        org.apache.spark.sql.Row(us, i.toLong)
      }: _*),
      StructType(Seq(StructField("us", LongType), StructField("event_id", LongType))))
    // NTZ: isAdjustedToUTC=false in the footer — the current testdata shape
    base.select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"), col("event_id"))
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    assertEventsLoad(ntzDir)
    // LTZ: Spark's default timestamp writer (isAdjustedToUTC=true)
    base.select(timestamp_micros(col("us")).as("ts"), col("event_id"))
      .write.mode("overwrite").parquet(s"$ltzDir/events.parquet")
    assertEventsLoad(ltzDir)
  }
}
