package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Every log-managed table that holds data carries a pinned schema,
  * written by the commit that created it, so no read infers one: the
  * pin reproduces what the unpinned read resolved, and the Spark jobs
  * an operation submits no longer depend on how fresh file names sort.
  */
class SchemaPinSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/t"

  /** Names, types, order and nullability — what a reader sees. */
  private def shape(s: StructType): Seq[(String, String, Boolean)] =
    s.fields.toSeq.map(f => (f.name, f.dataType.simpleString, f.nullable))

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") * 3).as("v"),
      concat(lit("r"), col("id").cast("string")).as("s"))

  test("job counts repeat: one write/read sequence submits the same jobs on three fresh tables") {
    def sequence(): Seq[(String, Int)] = {
      val dir = freshDir("pin_jobs")
      rows(0, 400).repartition(4).write.parquet(dir)
      val ops = Seq.newBuilder[(String, Int)]
      def op(label: String)(body: => Any): Unit =
        ops += label -> jobsOf(body)._2
      op("convert")(TxLog.convert(spark, dir))
      op("append")(TxLog.append(spark, dir, rows(400, 500).coalesce(1)))
      val v0 = TxLog.currentVersion(spark, dir)
      op("wherePruned")(DeleteWhere.wherePruned(spark, dir,
        col("k").between(100, 119)))
      op("upsert")(DeletionVectors.upsert(spark, dir,
        rows(200, 230).withColumn("v", col("v") + 1).coalesce(1), Seq("k")))
      op("snapshot")(TxLog.snapshot(spark, dir).collect())
      op("changes")(TxLog.changes(spark, dir, v0,
        TxLog.currentVersion(spark, dir), Seq("k")).collect())
      val db = Files.createTempDirectory("pin_jobs_db").toString + "/db"
      DbLog.create(spark, db)
      op("db_txn_create")(DbLog.transact(spark, db) { txn =>
        txn.append("a", rows(0, 50))
        txn.append("b", rows(0, 20).select("k", "s"))
      })
      op("db_txn")(DbLog.transact(spark, db) { txn =>
        txn.append("a", rows(50, 60))
        txn.upsertKeyed("b", Seq("k"), rows(10, 30).select("k", "s"))
      })
      op("db_snapshot")(DbLog.snapshot(spark, db, "b").collect())
      ops.result()
    }
    val runs = (1 to 3).map(_ => sequence())
    assert(runs.distinct.size == 1,
      runs.map(_.mkString(" ")).mkString("\n"))
  }

  test("a table is pinned by the commit that creates it, with the schema the unpinned read resolved") {
    // flat, created by converting its files (one footer inference)
    val flat = freshDir("pin_flat")
    rows(0, 40).repartition(2).write.parquet(flat)
    val flatRead = spark.read.parquet(flat).schema
    TxLog.convert(spark, flat)
    assert(TxLog.tableSchema(spark, flat).isDefined)
    assert(shape(TxLog.snapshot(spark, flat).schema) == shape(flatRead))

    // flat, created by the first append (pinned from the batch; the
    // range column is NOT NULL in the frame, nullable once read)
    val appended = freshDir("pin_append")
    TxLog.convert(spark, appended)
    assert(TxLog.tableSchema(spark, appended).isEmpty)
    TxLog.append(spark, appended, rows(0, 40))
    assert(TxLog.tableSchema(spark, appended).isDefined)
    assert(shape(TxLog.snapshot(spark, appended).schema) ==
      shape(spark.read.parquet(appended).schema))

    // hive-partitioned: partition column last, with its inferred type
    val hive = freshDir("pin_hive")
    rows(0, 40).withColumn("p", col("k") % 3).write.partitionBy("p")
      .parquet(hive)
    val hiveRead = spark.read.parquet(hive).schema
    TxLog.convert(spark, hive)
    assert(TxLog.tableSchema(spark, hive).isDefined)
    assert(shape(TxLog.snapshot(spark, hive).schema) == shape(hiveRead))
    assert(hiveRead.fieldNames.last == "p")

    // a DbLog table, created by a transaction's append
    val db = Files.createTempDirectory("pin_db").toString + "/db"
    DbLog.create(spark, db)
    DbLog.append(spark, db, "t", rows(0, 40))
    assert(DbLog.tableSchema(spark, db, "t").isDefined)
    assert(TxLog.tableSchema(spark, db).isEmpty) // never a dir-wide pin
    assert(shape(DbLog.snapshot(spark, db, "t").schema) ==
      shape(spark.read.parquet(s"$db/t").schema))
  }

  test("a file of an unmanaged directory rewritten in place reads under its new schema") {
    val dir = Files.createTempDirectory("pin_inplace").toString
    val fs = Compact.fsOf(spark, dir)
    val file = new Path(dir, "data.parquet")
    def writeAt(df: org.apache.spark.sql.DataFrame): Unit = {
      val stage = Files.createTempDirectory("pin_inplace_stage").toString + "/o"
      df.coalesce(1).write.parquet(stage)
      val part = fs.listStatus(new Path(stage)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.delete(file, false)
      assert(fs.rename(part, file))
    }
    writeAt(Seq((1L, 2L)).toDF("a", "b"))
    val uri = fs.makeQualified(file).toString
    assert(TxLog.readUris(spark, dir, Seq(uri)).columns.toSeq == Seq("a", "b"))
    writeAt(Seq(("x", 1.5, "y")).toDF("c", "d", "e"))
    val again = TxLog.readUris(spark, dir, Seq(uri))
    assert(again.columns.toSeq == Seq("c", "d", "e"))
    assert(again.collect().toSeq.map(_.toSeq) == Seq(Seq("x", 1.5, "y")))
  }
}
