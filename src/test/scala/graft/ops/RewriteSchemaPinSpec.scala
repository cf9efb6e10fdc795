package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Regression suite for the round-12 rewrite-path hardening:
  * schema-pinned reads in every file-list rewrite (pack / delete /
  * merge must not let a pre-evolution footer decide the schema),
  * UTC-fixed day/month partition transforms, typed TIMESTAMP/DATE
  * literals through the SQL TVFs, post-commit schema pins, and the
  * DbLog no-op-delete rewrite marker.
  */
class RewriteSchemaPinSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/t"

  /** A logged table of two pre-evolution files, then a MOR upsert
    * with evolveSchema=true adding `note` via all-new keys (no DV,
    * so every file stays packable). Returns the dir.
    */
  private def evolvedTable(): String = {
    val dir = freshDir("pin")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .repartition(2).write.parquet(dir)
    TxLog.convert(spark, dir)
    DeletionVectors.upsert(spark, dir,
      Seq((10L, "j", "extra"), (11L, "k", "extra2")).toDF("k", "v", "note"),
      keyCols = Seq("k"), evolveSchema = true)
    dir
  }

  test("binPack after schema evolution keeps the evolved column's values") {
    val dir = evolvedTable()
    val before = TxLog.snapshot(spark, dir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).toSeq
    assert(before.count(_._3.isDefined) == 2)
    // pack EVERYTHING (all files are tiny) — mixed pre/post-evolution
    val r = Compact.binPack(spark, dir, targetBytes = 1L << 20,
      smallBytes = 1L << 20)
    assert(r.packed >= 3, s"expected the whole tail packed, got $r")
    val after = TxLog.snapshot(spark, dir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).toSeq
    assert(after == before,
      s"pack changed visible rows:\n  before=$before\n  after=$after")
  }

  test("DeleteWhere after schema evolution keeps the evolved column's values") {
    val dir = evolvedTable()
    val r = DeleteWhere.where(spark, dir, col("k") === 1L)
    assert(r.deletedRows == 1)
    val rows = TxLog.snapshot(spark, dir)
      .orderBy("k").collect().map(r => (r.getLong(0),
        Option(r.getString(2)))).toSeq
    assert(rows == Seq((2L, None), (10L, Some("extra")),
      (11L, Some("extra2"))))
  }

  test("MOR upsert after evolution keeps evolved values through the rewrite path") {
    val dir = evolvedTable()
    // keyed MERGE touching a pre-evolution file: the candidate read
    // mixes eras — evolved values on untouched keys must survive
    UpsertWhere.byKeys(spark, dir, "k",
      Seq((2L, "B2", "up")).toDF("k", "v", "note"))
    val rows = TxLog.read(spark, dir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "B2", Some("up")),
      (10L, "j", Some("extra")), (11L, "k", Some("extra2"))))
  }

  test("applyChanges evolution on a MAPPED table: a re-added dropped name does not resurrect dead values") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("evolve_mapped").toString + "/t"
    (1L to 6L).map(k => (k, s"v$k", s"dead$k")).toDF("k", "v", "c")
      .repartition(1).write.parquet(dir)
    TxLog.convert(spark, dir)
    ColumnMapping.enable(spark, dir)
    // drop c: its physical name stays burned into the existing file
    graft.plans.GraftDml.sql(spark,
      s"ALTER TABLE parquet.`$dir` DROP COLUMN c")
    assert(!TxLog.read(spark, dir).columns.contains("c"))
    // a replication feed re-introduces a column NAMED c — the evolved
    // pin must give it a FRESH physical name, so pre-evolution rows
    // read NULL (not the dead 'deadN' values out of the old footer)
    val feed = Seq((7L, "v7", "new7", "insert"))
      .toDF("k", "v", "c", "change_type")
    UpsertWhere.applyChanges(spark, dir, "k", feed)
    val got = TxLog.read(spark, dir)
    assert(got.columns.contains("c"))
    assert(got.filter(col("k") === 7L).head().getAs[String]("c") == "new7")
    assert(got.filter(col("k") < 7L && col("c").isNotNull).count() == 0,
      "dead pre-drop values resurrected through the re-added name")
  }

  test("schema pin lands at the committed version, after the commit") {
    val dir = freshDir("pinv")
    Seq((1L, "a")).toDF("k", "v").write.parquet(dir)
    TxLog.convert(spark, dir)
    val v0 = TxLog.currentVersion(spark, dir)
    DeletionVectors.upsert(spark, dir,
      Seq((2L, "b", "n")).toDF("k", "v", "note"),
      keyCols = Seq("k"), evolveSchema = true)
    val v1 = TxLog.currentVersion(spark, dir)
    assert(v1 == v0 + 1)
    // the pre-evolution snapshot must NOT be widened retroactively
    assert(TxLog.tableSchema(spark, dir, v0).map(_.fieldNames.toSeq) ==
      Some(Seq("k", "v"))) // the pin the convert wrote
    assert(TxLog.tableSchema(spark, dir, v1).exists(
      _.fieldNames.contains("note")))
    assert(TxLog.snapshot(spark, dir, v0).columns.toSeq == Seq("k", "v"))
  }

  test("days/months transforms derive UTC partition values under any session timezone") {
    val dir = freshDir("tz")
    // 00:30 UTC — a Los Angeles rendering flips to the previous day
    val df = spark.range(4).select(
      col("id"),
      timestamp_seconds(lit(1704414600L) + col("id") * 86400).as("ts"))
    PartitionTransforms.write(spark, df, dir,
      Seq(PartitionTransforms.Days("ts")))
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val got = PartitionTransforms.scanRange(spark, dir, "ts",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704414600L)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704414600L + 86400)))
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == Seq(0L, 1L),
        s"cross-timezone prune dropped partitions: got $got")
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
  }

  test("graft_hidden_range accepts TIMESTAMP literals (typed, not raw micros)") {
    val dir = freshDir("tvf")
    val df = spark.range(4).select(
      col("id"),
      timestamp_seconds(lit(1704414600L) + col("id") * 86400).as("ts"))
    PartitionTransforms.write(spark, df, dir,
      Seq(PartitionTransforms.Days("ts")))
    graft.GraftExtensions.installInto(spark)
    val got = spark.sql(
      s"""SELECT id FROM graft_hidden_range('$dir', 'ts',
         |  timestamp'2024-01-05 00:30:00', timestamp'2024-01-06 00:30:00')
         |""".stripMargin).as[Long].collect().sorted.toSeq
    assert(got == Seq(0L, 1L), s"timestamp-literal range returned $got")
  }

  test("DbLog: a no-op deleteWhere does not block a later upsert of the same table") {
    val db = freshDir("dblg")
    DbLog.create(spark, db)
    DbLog.append(spark, db, "t", Seq((1L, "a")).toDF("k", "v"))
    val v = DbLog.transact(spark, db) { txn =>
      txn.deleteWhere("t", col("k") === 999L) // matches nothing
      txn.upsert("t", "k", Seq((1L, "a2"), (2L, "b")).toDF("k", "v"))
    }
    assert(v > 0)
    val rows = DbLog.snapshot(spark, db, "t")
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a2"), (2L, "b")))
  }
}
