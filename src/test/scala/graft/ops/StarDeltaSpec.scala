package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.ParquetStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two star engines over one [[StarDelta]] core: the same churn
  * applied through [[JoinMv.followStar]] (TxLog directories, state in
  * a ParquetStore) and [[DbMv.refreshStar]] (one DbLog database) must
  * leave both views equal to each other and to a direct recompute
  * after every advance. The churn covers a fact append, a fact delete
  * that removes a group's minimum, a dim attribute move, and a dim row
  * whose group attribute is NULL.
  */
class StarDeltaSpec extends SparkSpec {

  import spark.implicits._

  private val G = Seq("seg", "region")
  private val M = Seq("price")
  private val cols = G ++ Seq("mv_count", "sum_price", "min_price", "max_price")

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.select(cols.map(col): _*).exceptAll(b.select(cols.map(col): _*)).isEmpty &&
      b.select(cols.map(col): _*).exceptAll(a.select(cols.map(col): _*)).isEmpty

  test("JoinMv.followStar and DbMv.refreshStar agree with each other and a recompute") {
    // prices are exact binary fractions: both engines' double sums are
    // then exact whatever their fold order
    val fact0 = Seq((1L, 1L, 4.0), (2L, 1L, 1.5), (3L, 2L, 2.25),
        (4L, 3L, 8.0), (5L, 3L, 0.5), (6L, 4L, 3.0))
      .toDF("okey", "ckey", "price")
    // customer 2's segment is NULL: its rows group under NULL
    val cust0 = Seq((1L, Option("A"), 1L), (2L, None, 1L),
        (3L, Option("B"), 2L), (4L, Option("A"), 2L))
      .toDF("ckey", "seg", "nkey")
    val nat0 = Seq((1L, "EU"), (2L, "US")).toDF("nkey", "region")

    val root = Files.createTempDirectory("star_delta").toString
    val (f, d1, d2) = (s"$root/fact", s"$root/cust", s"$root/nat")
    Seq(f -> fact0, d1 -> cust0, d2 -> nat0).foreach { case (dir, df) =>
      df.repartition(1).write.parquet(dir)
      TxLog.convert(spark, dir)
    }
    val st = new ParquetStore(spark, s"$root/state")
    val dims = Seq((d1, Seq("ckey")), (d2, Seq("nkey")))
    def followJm() = JoinMv.followStar(st, "v", f, dims, G, M, minMaxCols = M)

    val db = s"$root/db"
    DbLog.create(spark, db)
    DbLog.transact(spark, db, "seed") { txn =>
      txn.append("fact", fact0)
      txn.append("cust", cust0)
      txn.append("nat", nat0)
    }
    DbMv.initStar(spark, db, "v", DbMv.StarView("fact",
      Seq(("cust", Seq("ckey")), ("nat", Seq("nkey"))), G, M, M))
    followJm() // seed

    def check(step: String): Unit = {
      val jm = JoinMv.read(st, "v").withColumnRenamed("n", "mv_count")
      val dbv = DbMv.readStar(spark, db, "v")
      val direct = DbLog.snapshot(spark, db, "fact")
        .join(DbLog.snapshot(spark, db, "cust"), Seq("ckey"))
        .join(DbLog.snapshot(spark, db, "nat"), Seq("nkey"))
        .groupBy(G.map(col): _*)
        .agg(count(lit(1)).as("mv_count"), sum("price").as("sum_price"),
          min("price").as("min_price"), max("price").as("max_price"))
      assert(same(jm, dbv), s"$step: JoinMv != DbMv")
      assert(same(dbv, direct), s"$step: DbMv != recompute")
      // multiset equality above already refuses a split group; say it
      // outright for the NULL segment
      assert(jm.filter(col("seg").isNull).count() ==
        direct.filter(col("seg").isNull).count(), s"$step: a NULL group split")
    }
    def advance(step: String): Unit = {
      assert(followJm().exists(p => p._1 < p._2), s"$step: JoinMv stood still")
      val (from, to) = DbMv.refreshStar(spark, db, "v")
      assert(from < to, s"$step: DbMv stood still")
      check(step)
    }
    check("seed")

    // a fact append, into the NULL group among others
    val late = Seq((7L, 2L, 0.25), (8L, 1L, 16.0)).toDF("okey", "ckey", "price")
    TxLog.append(spark, f, late)
    DbLog.transact(spark, db, "append")(_.append("fact", late))
    advance("fact append")

    // a delete that removes group (A, EU)'s minimum (okey 2, 1.5)
    DeleteWhere.where(spark, f, col("okey") === 2L)
    DbLog.transact(spark, db, "delete")(_.deleteWhere("fact", col("okey") === 2L))
    advance("fact delete of a minimum")

    // dim attribute moves: customer 3 into the NULL segment, customer
    // 4 to the other nation
    val moved = Seq((3L, None, 2L), (4L, Option("A"), 1L))
      .toDF("ckey", "seg", "nkey")
    UpsertWhere.byKeys(spark, d1, "ckey", moved)
    DbLog.transact(spark, db, "move")(
      _.upsertKeyed("cust", Seq("ckey"), moved))
    advance("dim attribute move")
  }
}
