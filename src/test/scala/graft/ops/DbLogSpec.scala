package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DbLogSpec extends SparkSpec {

  private lazy val orders = graft.Tables.orders(spark, sf("orders"))
  private lazy val customer = graft.Tables.customer(spark, sf("customer"))

  private def same(got: DataFrame, expected: DataFrame): Boolean =
    got.select(expected.columns.map(col): _*).exceptAll(expected).isEmpty &&
      expected.exceptAll(got.select(expected.columns.map(col): _*)).isEmpty

  private def freshDb(): String = {
    val db = Files.createTempDirectory("dblog").toString + "/db"
    DbLog.create(spark, db)
    DbLog.transact(spark, db, "seed") { txn =>
      txn.append("orders", orders.repartition(4))
      txn.append("customer", customer.repartition(2))
    }
    db
  }

  test("seed commit is one version holding both tables; snapshots read back exactly") {
    val db = freshDb()
    assert(DbLog.currentVersion(spark, db) == 1) // v0 create + v1 seed
    assert(DbLog.tables(spark, db) == Seq("customer", "orders"))
    assert(same(DbLog.snapshot(spark, db, "orders"), orders))
    assert(same(DbLog.snapshot(spark, db, "customer"), customer))
  }

  test("a multi-table move is atomic: every version shows both sides or neither") {
    val db = freshDb()
    val vPre = DbLog.currentVersion(spark, db)
    val moved = orders.filter(col("o_orderstatus") === "F")
    DbLog.transact(spark, db, "archive-F") { txn =>
      txn.append("orders_archive", txn.table("orders")
        .filter(col("o_orderstatus") === "F"))
      txn.deleteWhere("orders", col("o_orderstatus") === "F")
    }
    val vPost = DbLog.currentVersion(spark, db)
    assert(vPost == vPre + 1) // ONE commit for the whole transaction
    // post state: both effects present
    assert(same(DbLog.snapshot(spark, db, "orders"),
      orders.filter(col("o_orderstatus") =!= "F")))
    assert(same(DbLog.snapshot(spark, db, "orders_archive"), moved))
    // pre state (time travel): NEITHER effect — the consistent cut
    assert(same(DbLog.snapshot(spark, db, "orders", vPre), orders))
    assert(!DbLog.tables(spark, db, vPre).contains("orders_archive"))
    // conservation across the cut: no row lost or doubled
    val post = DbLog.snapshot(spark, db, "orders")
      .unionByName(DbLog.snapshot(spark, db, "orders_archive"))
    assert(same(post, orders))
  }

  test("an abandoned transaction publishes nothing and leaves no visible state") {
    val db = freshDb()
    val vPre = DbLog.currentVersion(spark, db)
    intercept[RuntimeException] {
      DbLog.transact(spark, db, "doomed") { txn =>
        txn.append("orders_archive", txn.table("orders").limit(5))
        txn.deleteWhere("orders", col("o_orderkey") <= 5)
        sys.error("crash before commit")
      }
    }
    assert(DbLog.currentVersion(spark, db) == vPre)
    assert(!DbLog.tables(spark, db).contains("orders_archive"))
    assert(same(DbLog.snapshot(spark, db, "orders"), orders))
    // the staged orphans exist on disk but no snapshot references them
    val orphans = Compact.dataFilesRecursive(Compact.fsOf(spark, db), db)
      .filterNot(TxLog.liveFiles(spark, db).toSet)
    assert(orphans.nonEmpty)
  }

  test("conflicting transactions serialize: the second rewrite of the same file loses") {
    val db = freshDb()
    val t1 = DbLog.begin(spark, db)
    val t2 = DbLog.begin(spark, db)
    t1.deleteWhere("orders", col("o_orderkey") % 2 === 0)
    t2.deleteWhere("orders", col("o_orderkey") % 3 === 0) // same files
    t1.commit("evens")
    intercept[java.util.ConcurrentModificationException] {
      t2.commit("thirds")
    }
    // the winner's state is intact; the loser published nothing
    assert(same(DbLog.snapshot(spark, db, "orders"),
      orders.filter(col("o_orderkey") % 2 =!= 0)))
  }

  test("append-only transactions never conflict with a concurrent rewrite") {
    val db = freshDb()
    val t1 = DbLog.begin(spark, db)
    val t2 = DbLog.begin(spark, db)
    t1.deleteWhere("orders", col("o_orderkey") <= 10)
    t2.append("orders", orders.filter(col("o_orderkey") <= 3)
      .withColumn("o_orderkey", col("o_orderkey") + 9000000L))
    t1.commit("trim")
    t2.commit("late-append") // removes nothing: must land
    val expect = orders.filter(col("o_orderkey") > 10).unionByName(
      orders.filter(col("o_orderkey") <= 3)
        .withColumn("o_orderkey", col("o_orderkey") + 9000000L))
    assert(same(DbLog.snapshot(spark, db, "orders"), expect))
  }

  test("reads inside a transaction pin the base version (repeatable reads)") {
    val db = freshDb()
    val txn = DbLog.begin(spark, db)
    val before = txn.table("orders").count()
    // a concurrent committer lands between the transaction's reads
    DbLog.transact(spark, db, "shrink")(
      _.deleteWhere("customer", col("c_custkey") <= 100))
    assert(txn.table("orders").count() == before)
    assert(txn.table("customer").count() == customer.count())
    txn.append("audit", txn.table("customer")
      .groupBy("c_mktsegment").count())
    txn.commit("audit")
    // the audit saw the PRE-shrink customer table — its own consistent cut
    assert(DbLog.snapshot(spark, db, "audit")
      .agg(sum("count")).head.getLong(0) == customer.count())
  }

  test("overwrite and upsert stage through the same single commit") {
    val db = freshDb()
    val priced = orders.filter(col("o_orderkey") <= 20)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    DbLog.transact(spark, db, "reprice") { txn =>
      txn.upsert("orders", "o_orderkey", priced)
      txn.overwrite("customer", txn.table("customer").limit(10))
    }
    val expect = orders.filter(col("o_orderkey") > 20).unionByName(priced)
    assert(same(DbLog.snapshot(spark, db, "orders"), expect))
    assert(DbLog.snapshot(spark, db, "customer").count() == 10)
  }

  test("a second rewrite of the same table in one transaction is rejected, not corrupted") {
    val db = freshDb()
    val txn = DbLog.begin(spark, db)
    txn.deleteWhere("orders", col("o_orderkey") <= 5)
    intercept[IllegalArgumentException] {
      txn.deleteWhere("orders", col("o_orderkey") > 100)
    }
    // rewrite-after-append is equally surprising: rejected
    val t2 = DbLog.begin(spark, db)
    t2.append("customer", customer.limit(1))
    intercept[IllegalArgumentException] {
      t2.overwrite("customer", customer.limit(2))
    }
  }

  test("deleteWhere rewrites only the files that hold matches") {
    val db = Files.createTempDirectory("dblog").toString + "/db"
    DbLog.create(spark, db)
    DbLog.transact(spark, db, "seed")(_.append("orders",
      orders.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")))
    val before = TxLog.liveEntries(spark, db).map(_.name).toSet
    DbLog.transact(spark, db, "point-delete")(
      _.deleteWhere("orders", col("o_orderkey") === 1L))
    val after = TxLog.liveEntries(spark, db).map(_.name).toSet
    // ranged layout: exactly one file holds key 1 — one out, one in
    assert((before -- after).size == 1 && (after -- before).size <= 2)
    assert(same(DbLog.snapshot(spark, db, "orders"),
      orders.filter(col("o_orderkey") =!= 1L)))
  }

  test("per-table change feeds advance from one shared consistent cut") {
    val db = freshDb()
    val vPre = DbLog.currentVersion(spark, db)
    DbLog.transact(spark, db, "archive-F") { txn =>
      txn.append("orders_archive",
        txn.table("orders").filter(col("o_orderstatus") === "F"))
      txn.deleteWhere("orders", col("o_orderstatus") === "F")
    }
    val (feeds, cur) = DbLog.diffSince(spark, db,
      Seq("orders", "orders_archive"), vPre)
    assert(cur == vPre + 1)
    val outOfOrders = feeds("orders")
      .filter(col("_change_type") === "delete").drop("_change_type")
    val intoArchive = feeds("orders_archive")
      .filter(col("_change_type") === "insert").drop("_change_type")
    // the move is visible as a whole across BOTH feeds at this cut:
    // what left orders is exactly what landed in the archive
    assert(same(outOfOrders, orders.filter(col("o_orderstatus") === "F")))
    assert(same(intoArchive, outOfOrders))
    // no spurious inserts in the source feed (delete-only rewrite)
    assert(feeds("orders").filter(col("_change_type") === "insert").isEmpty)
    // a later cursor advance from cur is the empty feed on both
    val (again, cur2) = DbLog.diffSince(spark, db,
      Seq("orders", "orders_archive"), cur)
    assert(cur2 == cur && again.values.forall(_.isEmpty))
  }

  test("history tags the transaction's op; vacuum reclaims superseded files") {
    val db = freshDb()
    DbLog.transact(spark, db, "archive-F") { txn =>
      txn.append("orders_archive",
        txn.table("orders").filter(col("o_orderstatus") === "F"))
      txn.deleteWhere("orders", col("o_orderstatus") === "F")
    }
    val ops = DbLog.history(spark, db)
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.contains("archive-F") && ops.contains("seed"))
    val swept = TxLog.vacuum(spark, db, retainVersions = 1)
    assert(swept > 0)
    assert(same(DbLog.snapshot(spark, db, "orders"),
      orders.filter(col("o_orderstatus") =!= "F")))
  }

  test("deleteWhereVectored hides rows without rewriting data files; diff and snapshot agree") {
    val db = freshDb()
    val fsDb = Compact.fsOf(spark, db)
    val before = Compact.dataFilesRecursive(fsDb, db).toSet
    val vPre = DbLog.currentVersion(spark, db)
    DbLog.transact(spark, db, "dv-archive") { txn =>
      txn.append("orders_archive", txn.table("orders")
        .filter(col("o_orderstatus") === "F"))
      txn.deleteWhereVectored("orders", col("o_orderstatus") === "F")
    }
    assert(DbLog.currentVersion(spark, db) == vPre + 1)
    // merge-on-read: not one data file of `orders` rewritten
    val after = Compact.dataFilesRecursive(fsDb, db).toSet
    assert(before.subsetOf(after))
    assert(same(DbLog.snapshot(spark, db, "orders"),
      orders.filter(col("o_orderstatus") =!= "F")))
    assert(same(DbLog.snapshot(spark, db, "orders_archive"),
      orders.filter(col("o_orderstatus") === "F")))
    // time travel reconstructs the pre-delete cut
    assert(same(DbLog.snapshot(spark, db, "orders", vPre), orders))
    // the change feed across the DV commit carries the deletes
    val d = DbLog.diff(spark, db, "orders", vPre, vPre + 1)
    assert(d.filter(col("_change_type") === "delete").count() ==
      orders.filter(col("o_orderstatus") === "F").count())
  }

  test("copy-on-write deleteWhere over a DV-carrying table does not resurrect hidden rows") {
    val db = freshDb()
    DbLog.transact(spark, db, "dv") { txn =>
      txn.deleteWhereVectored("orders", col("o_orderkey") <= 100)
    }
    // CoW delete next: its rewrite of DV-carrying files must keep the
    // vector's hidden rows hidden
    DbLog.transact(spark, db, "cow") { txn =>
      txn.deleteWhere("orders", col("o_orderkey") > 100 && col("o_orderkey") <= 200)
    }
    assert(same(DbLog.snapshot(spark, db, "orders"),
      orders.filter(col("o_orderkey") > 200)))
  }

  test("upsertKeyed stages MOR upserts and appends atomically with other tables") {
    val db = freshDb()
    val updates = orders.filter(col("o_orderkey") <= 50)
      .withColumn("o_orderpriority", lit("UPDATED"))
    val fresh = orders.limit(5)
      .withColumn("o_orderkey", col("o_orderkey") + 10_000_000L)
    val vPre = DbLog.currentVersion(spark, db)
    DbLog.transact(spark, db, "mor-upsert") { txn =>
      txn.upsertKeyed("orders", Seq("o_orderkey"),
        updates.unionByName(fresh))
      txn.append("audit", spark.range(1).select(col("id").as("batch")))
    }
    assert(DbLog.currentVersion(spark, db) == vPre + 1)
    val got = DbLog.snapshot(spark, db, "orders")
    assert(got.count() == orders.count() + 5)
    assert(got.filter(col("o_orderkey") <= 50 &&
        col("o_orderpriority") === "UPDATED")
      .count() == orders.filter(col("o_orderkey") <= 50).count())
    assert(got.filter(col("o_orderkey") >= 10_000_000L).count() == 5)
    assert(DbLog.snapshot(spark, db, "audit").count() == 1)
  }

  test("per-table CHECK constraints: each write path enforces only its own table's") {
    val db = freshDb()
    DbLog.setCheckConstraints(spark, db, "orders",
      Seq("o_totalprice >= 0"))
    DbLog.setCheckConstraints(spark, db, "customer",
      Seq("c_acctbal > -10000"))
    // a violating orders append fails, names the orders constraint
    val e = intercept[TxLog.ConstraintViolation] {
      DbLog.transact(spark, db, "bad") { txn =>
        txn.append("orders", orders.limit(1)
          .withColumn("o_totalprice", lit(-5.0)))
      }
    }
    assert(e.getMessage.contains("o_totalprice"))
    // the same rows appended to a DIFFERENT table pass (customer's
    // constraint does not mention o_totalprice, and orders' does not
    // apply there) — per-table scoping, not database-wide
    DbLog.transact(spark, db, "other") { txn =>
      txn.append("orders_quarantine", orders.limit(1)
        .withColumn("o_totalprice", lit(-5.0)))
    }
    // customer writes enforce customer's own constraint
    intercept[TxLog.ConstraintViolation] {
      DbLog.transact(spark, db, "badc") { txn =>
        txn.overwrite("customer", customer.limit(1)
          .withColumn("c_acctbal", lit(-20000.0)))
      }
    }
    // valid writes to both tables in one transaction still commit
    val v = DbLog.transact(spark, db, "ok") { txn =>
      txn.append("orders", orders.limit(1))
      txn.append("customer", customer.limit(1))
    }
    assert(v > 0)
  }

  test("per-table schema pin: evolution widens one table without touching its siblings") {
    val db = freshDb()
    // evolve orders: new column lands via append of wider rows
    val wider = orders.limit(3).withColumn("flag", lit("x"))
    DbLog.transact(spark, db, "widen") { txn =>
      txn.append("orders", wider)
    }
    DbLog.setTableSchema(spark, db, "orders",
      wider.schema)
    val got = DbLog.snapshot(spark, db, "orders")
    assert(got.columns.contains("flag"))
    assert(got.filter(col("flag").isNotNull).count() == 3)
    assert(got.count() == orders.count() + 3)
    // sibling table unaffected: no phantom column
    assert(!DbLog.snapshot(spark, db, "customer").columns.contains("flag"))
  }

  test("per-table stats columns: each table's adds carry its own min/max") {
    val db = Files.createTempDirectory("dblog").toString + "/db"
    DbLog.create(spark, db)
    DbLog.setStatsColumns(spark, db, "a", Seq("x"))
    DbLog.setStatsColumns(spark, db, "b", Seq("y"))
    import spark.implicits._
    DbLog.transact(spark, db, "seed") { txn =>
      txn.append("a", Seq((1L, 10L), (2L, 20L)).toDF("x", "other"))
      txn.append("b", Seq((5L, 50L)).toDF("other", "y"))
    }
    val entries = TxLog.liveEntries(spark, db)
    val aStats = entries.filter(_.name.startsWith("a/")).flatMap(_.stats)
    val bStats = entries.filter(_.name.startsWith("b/")).flatMap(_.stats)
    assert(aStats.nonEmpty && aStats.forall(_.column == "x"))
    assert(bStats.nonEmpty && bStats.forall(_.column == "y"))
  }

  test("per-table rename: one table's column renames, siblings untouched, files unmoved") {
    val db = freshDb()
    val filesBefore = TxLog.liveFiles(spark, db).toSet
    val custBefore = DbLog.snapshot(spark, db, "customer").columns.toSeq
    val vPre = DbLog.currentVersion(spark, db)
    DbLog.renameColumn(spark, db, "orders", "o_totalprice", "price")
    // metadata-only: no file moved, sibling schema identical
    assert(TxLog.liveFiles(spark, db).toSet == filesBefore)
    assert(DbLog.snapshot(spark, db, "customer").columns.toSeq == custBefore)
    val got = DbLog.snapshot(spark, db, "orders")
    assert(got.columns.contains("price") &&
      !got.columns.contains("o_totalprice"))
    assert(same(got.select(col("o_orderkey"), col("price")),
      orders.select(col("o_orderkey"), col("o_totalprice").as("price"))))
    // time travel before the rename keeps the old name
    assert(DbLog.snapshot(spark, db, "orders", vPre)
      .columns.contains("o_totalprice"))
  }

  test("per-table rename: every write path speaks the new name, files spell physical") {
    import spark.implicits._
    val db = freshDb()
    DbLog.renameColumn(spark, db, "orders", "o_totalprice", "price")
    val extra = orders.filter(col("o_orderkey") <= 40)
      .withColumn("o_orderkey", col("o_orderkey") + 5000000L)
      .withColumnRenamed("o_totalprice", "price")
    DbLog.transact(spark, db, "post-rename") { txn =>
      txn.append("orders", extra)
      txn.append("customer", customer.limit(5)
        .withColumn("c_custkey", col("c_custkey") + 5000000L))
    }
    DbLog.transact(spark, db, "post-rename-delete") { txn =>
      txn.deleteWhere("orders", col("price") < 1000.0)
    }
    val got = DbLog.snapshot(spark, db, "orders")
    assert(got.filter(col("price") < 1000.0).count() == 0L)
    assert(got.filter(col("o_orderkey") >= 5000000L).count() ==
      extra.filter(col("price") >= 1000.0).count())
    // no live data file spells the logical name — all spell physical
    val files = TxLog.liveEntries(spark, db)
      .filter(_.name.startsWith("orders/"))
      .map(e => s"$db/${e.name}")
    val footers = spark.read.parquet(files: _*)
    assert(footers.columns.contains("o_totalprice") &&
      !footers.columns.contains("price"))
    // MOR paths under the new name (one rewrite per table per txn)
    DbLog.transact(spark, db, "mor-dv") { txn =>
      txn.deleteWhereVectored("orders", col("price") > 300000.0)
    }
    DbLog.transact(spark, db, "mor-upsert") { txn =>
      txn.upsertKeyed("orders", Seq("o_orderkey"),
        DbLog.snapshot(spark, db, "orders")
          .filter(col("o_orderkey") <= 10)
          .withColumn("price", lit(1234.5)).localCheckpoint())
    }
    val after = DbLog.snapshot(spark, db, "orders")
    assert(after.filter(col("price") > 300000.0).count() == 0L)
    assert(after.filter(col("o_orderkey") <= 10)
      .agg(min("price"), max("price")).head() ==
      org.apache.spark.sql.Row(1234.5, 1234.5))
  }

  test("per-table ADD/DROP COLUMN: fresh physical storage, no resurrection, siblings untouched") {
    import spark.implicits._
    val db = Files.createTempDirectory("dblog").toString + "/db"
    DbLog.create(spark, db)
    DbLog.transact(spark, db, "seed") { t =>
      t.append("a", Seq((1L, "x1"), (2L, "x2")).toDF("id", "v"))
      t.append("b", Seq((9L, "y")).toDF("id", "v"))
    }
    // DROP v from a, then re-ADD the same logical name: pre-drop rows
    // must read NULL (fresh physical), not resurrect old footers
    DbLog.dropColumn(spark, db, "a", "v")
    assert(DbLog.snapshot(spark, db, "a").columns.toSeq == Seq("id"))
    assert(DbLog.snapshot(spark, db, "b").columns.toSeq == Seq("id", "v"))
    DbLog.addColumn(spark, db, "a",
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType, nullable = true))
    val a = DbLog.snapshot(spark, db, "a")
    assert(a.columns.toSeq == Seq("id", "v"))
    assert(a.filter(col("v").isNotNull).count() == 0L) // no resurrection
    // post-add appends carry real values in the fresh physical column
    DbLog.transact(spark, db, "post") { t =>
      t.append("a", Seq((3L, "fresh")).toDF("id", "v"))
    }
    val a2 = DbLog.snapshot(spark, db, "a")
    assert(a2.filter(col("id") === 3L).head().getString(1) == "fresh")
    assert(a2.filter(col("id") < 3L && col("v").isNotNull).count() == 0L)
    assert(DbLog.snapshot(spark, db, "b")
      .head().getString(1) == "y") // sibling untouched throughout
    // constrained columns refuse the drop
    DbLog.setCheckConstraints(spark, db, "b", Seq("v IS NOT NULL"))
    val e = intercept[IllegalArgumentException] {
      DbLog.dropColumn(spark, db, "b", "v")
    }
    assert(e.getMessage.contains("CHECK constraint"))
  }

  test("per-table ALTER COLUMN TYPE: lossless widen composes with mapping, siblings untouched") {
    import spark.implicits._
    val db = Files.createTempDirectory("dblog").toString + "/db"
    DbLog.create(spark, db)
    DbLog.transact(spark, db, "seed") { t =>
      t.append("m", Seq((1, 10), (2, 20)).toDF("k", "v")) // both INT
      t.append("sib", Seq((1L, "a")).toDF("id", "s"))
    }
    val vSeed = DbLog.currentVersion(spark, db)
    val filesBefore = TxLog.liveFiles(spark, db).toSet
    // rename THEN widen: the retype keeps the frozen physical name
    DbLog.renameColumn(spark, db, "m", "v", "amount")
    DbLog.alterColumnType(spark, db, "m", "amount",
      org.apache.spark.sql.types.LongType)
    assert(TxLog.liveFiles(spark, db).toSet == filesBefore) // metadata-only
    // sibling untouched: still the pin its creating commit wrote
    assert(DbLog.tableSchema(spark, db, "sib").map(_.fieldNames.toSeq) ==
      Some(Seq("id", "s")))
    assert(DbLog.tableSchema(spark, db, "sib") ==
      DbLog.tableSchema(spark, db, "sib", vSeed))
    val wide = DbLog.snapshot(spark, db, "m")
    assert(wide.schema("amount").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(wide.orderBy("k").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 10L), (2, 20L)))
    // post-widen writes land beyond INT range, spelled physical on disk
    DbLog.transact(spark, db, "post-widen") { t =>
      t.append("m", Seq((3, 7000000000L)).toDF("k", "amount"))
    }
    val got = DbLog.snapshot(spark, db, "m")
    assert(got.filter(col("amount") > Int.MaxValue.toLong).count() == 1L)
    val files = TxLog.liveEntries(spark, db)
      .filter(_.name.startsWith("m/")).map(e => s"$db/${e.name}")
    // int-era and long-era footers both spell the frozen PHYSICAL name
    // (read each alone — mergeSchema does not merge across a widen)
    assert(files.nonEmpty && files.forall(f =>
      spark.read.parquet(f).columns.contains("v")))
    // narrowing and unknown columns refuse
    intercept[IllegalArgumentException] {
      DbLog.alterColumnType(spark, db, "m", "amount",
        org.apache.spark.sql.types.IntegerType)
    }
    intercept[IllegalArgumentException] {
      DbLog.alterColumnType(spark, db, "m", "ghost",
        org.apache.spark.sql.types.LongType)
    }
    // time travel before the widen reads narrow under the old name
    assert(DbLog.snapshot(spark, db, "m", vSeed).schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // CDF at the end pin serves the wide type
    assert(DbLog.diff(spark, db, "m", vSeed,
        DbLog.currentVersion(spark, db)).schema("amount").dataType ==
      org.apache.spark.sql.types.LongType)
    // SQL procedure form (widen sib.id is a no-op type-wise — refuse
    // check): the TVF routes through the same allowlist
    graft.GraftExtensions.installInto(spark)
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_db_widen_column('$db', 'm', 'amount', 'int')")
        .collect()
    }
    assert(e.getMessage.contains("widening"))
  }

  test("per-table rename: CDF reads the range at the end pin (uniform logical feed)") {
    import spark.implicits._
    val db = freshDb()
    val v0 = DbLog.currentVersion(spark, db)
    DbLog.transact(spark, db, "pre") { txn =>
      txn.append("orders", orders.limit(3)
        .withColumn("o_orderkey", col("o_orderkey") + 6000000L))
    }
    DbLog.renameColumn(spark, db, "orders", "o_totalprice", "price")
    DbLog.transact(spark, db, "post") { txn =>
      txn.append("orders", orders.limit(2)
        .withColumn("o_orderkey", col("o_orderkey") + 7000000L)
        .withColumnRenamed("o_totalprice", "price"))
    }
    val feed = DbLog.changes(spark, db, "orders", v0,
      DbLog.currentVersion(spark, db), keyCols = Seq("o_orderkey"))
    assert(feed.columns.contains("price") &&
      !feed.columns.contains("o_totalprice"))
    assert(feed.filter(col("_change_type") === "insert").count() == 5L)
    // constraints referencing the column refuse the rename
    DbLog.setCheckConstraints(spark, db, "orders",
      Seq("price >= 0"))
    val e = intercept[IllegalArgumentException] {
      DbLog.renameColumn(spark, db, "orders", "price", "total")
    }
    assert(e.getMessage.contains("CHECK constraint"))
  }

  test("per-table row tracking: ids survive compaction, CoW delete and MOR upsert; siblings untracked") {
    val db = freshDb()
    RowTracking.enableTable(spark, db, "customer")
    assert(RowTracking.enabledTable(spark, db, "customer"))
    assert(!RowTracking.enabledTable(spark, db, "orders"))
    // backfill gave every existing row an id, exactly once
    val ids0 = RowTracking.readTable(spark, db, "customer")
    assert(ids0.count() == customer.count())
    assert(ids0.select(RowTracking.Col).distinct().count() == customer.count())
    // plain snapshots never see the machinery columns
    assert(!DbLog.snapshot(spark, db, "customer").columns
      .exists(_.startsWith("__graft_")))
    val byKey0 = ids0.select("c_custkey", RowTracking.Col)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // churn: CoW delete + sibling append in ONE txn, then compaction,
    // then a MOR keyed upsert — ids must never move
    DbLog.transact(spark, db, "churn") { txn =>
      txn.deleteWhere("customer", pmod(col("c_custkey"), lit(5)) === 0)
      txn.append("orders", orders.limit(2)
        .withColumn("o_orderkey", col("o_orderkey") + 8000000L))
    }
    DbLog.compactTable(spark, db, "customer", smallBytes = 64L << 20)
    val upd = DbLog.snapshot(spark, db, "customer")
      .filter(pmod(col("c_custkey"), lit(3)) === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 5).localCheckpoint()
    DbLog.transact(spark, db, "upd") { txn =>
      txn.upsertKeyed("customer", Seq("c_custkey"), upd)
    }
    val now = RowTracking.readTable(spark, db, "customer")
    assert(now.count() == byKey0.count { case (k, _) => k % 5 != 0 })
    now.select("c_custkey", RowTracking.Col).collect().foreach { r =>
      assert(byKey0(r.getLong(0)) == r.getLong(1),
        s"row ${r.getLong(0)} changed id")
    }
    // the untracked sibling's commits never claimed ledger ranges:
    // enabling it NOW backfills from the water customer left — via
    // the SQL procedure, and the TVF reads the ids back
    graft.GraftExtensions.installInto(spark)
    spark.sql(s"SELECT * FROM graft_db_enable_rowtracking('$db', 'orders')")
      .collect()
    val oIds = spark.sql(s"SELECT * FROM graft_db_rowids('$db', 'orders')")
    assert(oIds.select(RowTracking.Col).distinct().count() == oIds.count())
    // keyless CDF through SQL: the 4-arg form pairs by _row_id
    val v = DbLog.currentVersion(spark, db)
    assert(spark.sql(
      s"SELECT * FROM graft_db_changes('$db', 'customer', 1, $v)")
      .columns.contains(RowTracking.Col))
  }

  test("in-txn driver-collecting upsert refuses data-sized key batches; applyKeyed takes them") {
    val db = freshDb()
    val vPre = DbLog.currentVersion(spark, db)
    val batch = DbLog.snapshot(spark, db, "orders")
      .filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .localCheckpoint()
    assert(batch.count() > 100)
    val e = intercept[DbLog.UpsertTooLarge] {
      DbLog.transact(spark, db, "big") { txn =>
        txn.upsert("orders", "o_orderkey", batch, maxKeys = 100)
      }
    }
    assert(e.getMessage.contains("applyKeyed") &&
      e.getMessage.contains("byKeysDistributed"))
    assert(DbLog.currentVersion(spark, db) == vPre, "refusal must not commit")
    // the SAME batch lands through the merge-on-read path (keys never
    // collected) inside a transaction
    import spark.implicits._
    DbLog.transact(spark, db, "mor") { txn =>
      txn.applyKeyed("orders", Seq("o_orderkey"), batch,
        Seq.empty[Long].toDF("o_orderkey"))
    }
    val expected = orders.filter(col("o_orderkey") % 3 =!= 0)
      .unionByName(orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
    assert(same(DbLog.snapshot(spark, db, "orders"), expected))
    // a command-sized batch keeps the CoW path unchanged
    DbLog.transact(spark, db, "small") { txn =>
      txn.upsert("orders", "o_orderkey",
        batch.limit(10).withColumn("o_totalprice", lit(1.0)))
    }
  }

  test("null-safe applyKeyed on a tracked table: the null-keyed group keeps ONE stable id") {
    import spark.implicits._
    val db = Files.createTempDirectory("dbnulltrack").toString + "/db"
    DbLog.create(spark, db)
    DbLog.transact(spark, db, "seed")(_.append("state",
      Seq((Some("a"), 1L), (None, 5L), (Some("b"), 2L))
        .toDF("grp", "n")))
    RowTracking.enableTable(spark, db, "state")
    def idOfNull(): Long = RowTracking.readTable(spark, db, "state")
      .filter(col("grp").isNull).select(RowTracking.Col)
      .head().getLong(0)
    val nullId = idOfNull()
    // two successive null-safe keyed applications touching the null
    // group: it must keep the SAME id both times (the hide is <=>, so
    // the inherit must pair <=> too — or every application mints a
    // fresh id and keyless feeds see phantom delete+insert churn)
    (1 to 2).foreach { i =>
      DbLog.transact(spark, db, s"apply$i") { txn =>
        txn.applyKeyed("state", Seq("grp"),
          Seq((None: Option[String], 5L + i)).toDF("grp", "n"),
          Seq.empty[String].toDF("grp"), nullSafeKeys = true)
      }
      assert(idOfNull() == nullId, s"null group id moved on apply $i")
    }
    // exactly one live null-group row survived the applications
    assert(DbLog.snapshot(spark, db, "state")
      .filter(col("grp").isNull).count() == 1L)
    // and under PLAIN SQL keys (null never matches) the old null row
    // stays live while the new one gets a FRESH id — no shared ids
    DbLog.transact(spark, db, "plain") { txn =>
      txn.applyKeyed("state", Seq("grp"),
        Seq((None: Option[String], 99L)).toDF("grp", "n"),
        Seq.empty[String].toDF("grp"))
    }
    val nullRows = RowTracking.readTable(spark, db, "state")
      .filter(col("grp").isNull).select(RowTracking.Col)
      .collect().map(_.getLong(0))
    assert(nullRows.length == 2 && nullRows.distinct.length == 2,
      s"plain-key apply must append with a fresh id, got ${nullRows.toSeq}")
    assert(nullRows.contains(nullId))
  }

  test("keyless per-table CDF: images pair by _row_id; compaction movement nets to nothing") {
    val db = freshDb()
    RowTracking.enableTable(spark, db, "customer")
    val v0 = DbLog.currentVersion(spark, db)
    // an update via MOR upsert: the keyless feed must pair pre/post
    // by the stable id, not by any user column
    val upd = DbLog.snapshot(spark, db, "customer")
      .filter(col("c_custkey") <= 5)
      .withColumn("c_acctbal", col("c_acctbal") + 100).localCheckpoint()
    DbLog.transact(spark, db, "upd") { txn =>
      txn.upsertKeyed("customer", Seq("c_custkey"), upd)
    }
    val v1 = DbLog.currentVersion(spark, db)
    val feed = DbLog.changes(spark, db, "customer", v0, v1, keyCols = Nil)
      .localCheckpoint()
    assert(feed.columns.contains(RowTracking.Col))
    val pre = feed.filter(col("_change_type") === "update_preimage")
    val post = feed.filter(col("_change_type") === "update_postimage")
    assert(pre.count() == upd.count() && post.count() == upd.count())
    // every pre/post pair shares its id
    assert(pre.select(RowTracking.Col).exceptAll(
      post.select(RowTracking.Col)).isEmpty)
    assert(feed.filter(col("_change_type").isin("insert", "delete"))
      .count() == 0)
    // a pure compaction advance: identical (row, id) pairs cancel
    // exactly — the keyless feed over it is EMPTY
    DbLog.compactTable(spark, db, "customer", smallBytes = 64L << 20)
    val v2 = DbLog.currentVersion(spark, db)
    assert(v2 == v1 + 1)
    assert(DbLog.changes(spark, db, "customer", v1, v2, keyCols = Nil)
      .count() == 0)
    // untracked table refuses the keyless form with guidance
    val e = intercept[IllegalArgumentException] {
      DbLog.changes(spark, db, "orders", v0, v1, keyCols = Nil).count()
    }
    assert(e.getMessage.contains("row tracking"))
  }

  test("replicateTableByRowId: one table of a database replicates keylessly, renames and drops follow") {
    import spark.implicits._
    val db = freshDb()
    val dst = Files.createTempDirectory("dbrepl").toString + "/r"
    RowTracking.enableTable(spark, db, "customer")
    def srcNow() = RowTracking.readTable(spark, db, "customer")
      .drop(RowTracking.VerCol)
    def dstNow() = TxLog.snapshot(spark, dst)
    def inSync(step: String): Unit = {
      val s = srcNow()
      val d = dstNow().select(s.columns.map(col): _*)
      assert(d.exceptAll(s).isEmpty && s.exceptAll(d).isEmpty,
        s"$step: replica != source")
    }
    DbLog.replicateTableByRowId(spark, db, "customer", dst) // resync
    inSync("resync")
    // a multi-table txn churning customer AND orders: one advance
    val upd = DbLog.snapshot(spark, db, "customer")
      .filter(col("c_custkey") % 4 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 3).localCheckpoint()
    DbLog.transact(spark, db, "churn") { txn =>
      txn.upsertKeyed("customer", Seq("c_custkey"), upd)
      txn.append("orders", orders.limit(2)
        .withColumn("o_orderkey", col("o_orderkey") + 7000000L))
    }
    DbLog.replicateTableByRowId(spark, db, "customer", dst)
    inSync("churn advance")
    // a SIBLING-ONLY commit: the advance is a cursor hop, the replica
    // version must not move
    val dstV = TxLog.currentVersion(spark, dst)
    DbLog.transact(spark, db, "sibling")(
      _.append("orders", orders.limit(1)
        .withColumn("o_orderkey", col("o_orderkey") + 8000000L)))
    val (f1, t1) = DbLog.replicateTableByRowId(spark, db, "customer", dst)
    assert(f1 < t1 && TxLog.currentVersion(spark, dst) == dstV,
      "a sibling-table commit must advance the cursor and commit nothing")
    // a compaction of the replicated table nets to nothing too
    DbLog.compactTable(spark, db, "customer", smallBytes = 64L << 20)
    DbLog.replicateTableByRowId(spark, db, "customer", dst)
    assert(TxLog.currentVersion(spark, dst) == dstV)
    // per-table RENAME mid-stream + a post-rename update: the replica
    // follows the spelling through the table's own pins
    DbLog.renameColumn(spark, db, "customer", "c_acctbal", "bal")
    val upd2 = DbLog.snapshot(spark, db, "customer")
      .filter(col("c_custkey") % 5 === 0)
      .withColumn("bal", col("bal") + 7).localCheckpoint()
    DbLog.transact(spark, db, "post-rename")(
      _.upsertKeyed("customer", Seq("c_custkey"), upd2))
    DbLog.replicateTableByRowId(spark, db, "customer", dst)
    assert(dstNow().columns.contains("bal") &&
      !dstNow().columns.contains("c_acctbal"))
    inSync("post-rename advance")
    // a swap refuses typed; autoRecreate heals to the source state
    DbLog.renameColumn(spark, db, "customer", "c_name", "tmp_x")
    DbLog.renameColumn(spark, db, "customer", "bal", "c_name")
    DbLog.renameColumn(spark, db, "customer", "tmp_x", "bal")
    DbLog.append(spark, db, "customer", DbLog.snapshot(spark, db, "customer")
      .limit(1).withColumn("c_custkey", col("c_custkey") + 9000000L))
    intercept[TxLog.ReplicaDiverged] {
      DbLog.replicateTableByRowId(spark, db, "customer", dst)
    }
    DbLog.replicateTableByRowId(spark, db, "customer", dst,
      autoRecreate = true)
    inSync("healed after swap")
  }

  test("graft-cdc keyless streaming feed over one DbLog table pairs by _row_id") {
    val db = freshDb()
    RowTracking.enableTable(spark, db, "customer")
    val out = Files.createTempDirectory("dbcdc").toString
    def drain(): org.apache.spark.sql.DataFrame = {
      val q = spark.readStream.format("graft-cdc")
        .option("path", db).option("table", "customer")
        .option("updateImages", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(s"$out/data")
    }
    val first = drain()
    assert(first.columns.contains(RowTracking.Col))
    assert(first.filter(col("_change_type") === "insert").count() ==
      customer.count())
    // a MOR update lands; the stream resumes and pairs it keylessly
    val upd = DbLog.snapshot(spark, db, "customer")
      .filter(col("c_custkey") <= 3)
      .withColumn("c_acctbal", col("c_acctbal") + 9).localCheckpoint()
    DbLog.transact(spark, db, "upd") { txn =>
      txn.upsertKeyed("customer", Seq("c_custkey"), upd)
    }
    val second = drain()
    assert(second.filter(col("_change_type") === "update_postimage")
      .count() == upd.count())
    // startingTimestamp floor on the db feed: a bound before the
    // database existed replays the whole history — the initial
    // snapshot arrives as keyless inserts carrying ids
    val out2 = Files.createTempDirectory("dbcdc_ts").toString
    val q2 = spark.readStream.format("graft-cdc")
      .option("path", db).option("table", "customer")
      .option("updateImages", "true")
      .option("startingTimestamp", "1990-01-01T00:00:00")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$out2/data")
      .option("checkpointLocation", s"$out2/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val replay = spark.read.parquet(s"$out2/data")
    assert(replay.filter(col("_change_type") === "insert").count() ==
      DbLog.snapshot(spark, db, "customer").count())
    assert(replay.select(RowTracking.Col).na.drop().distinct().count() ==
      replay.count())
  }
}
