package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DbMvSpec extends SparkSpec {

  private lazy val ordersRaw = graft.Tables.orders(spark, sf("orders"))
  private lazy val customerRaw = graft.Tables.customer(spark, sf("customer"))

  // exact-typed metric: the incremental fold adds and cancels in feed
  // order, so only an exact type makes state == recompute bit-for-bit
  private lazy val fact = ordersRaw.select(
    col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
    col("o_totalprice").cast("decimal(12,2)").as("rev"))
  private lazy val dim = customerRaw.select(
    col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))

  private val view = DbMv.JoinView(
    fact = "orders", dim = "customer",
    factKey = "o_custkey", dimKey = "c_custkey",
    groupCols = Seq("c_nationkey"), sumCol = "rev")

  private def same(got: DataFrame, expected: DataFrame): Boolean =
    got.select(expected.columns.map(col): _*).exceptAll(expected).isEmpty &&
      expected.exceptAll(got.select(expected.columns.map(col): _*)).isEmpty

  /** The view recomputed directly from the database's CURRENT cut —
    * what every refresh's state must equal exactly.
    */
  private def recompute(db: String): DataFrame = {
    val f = DbLog.snapshot(spark, db, "orders")
    val d = DbLog.snapshot(spark, db, "customer")
    f.join(d, f("o_custkey") === d("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("mv_count"), sum(col("rev")).as("mv_sum"))
  }

  private def checkView(db: String, step: String): Unit =
    assert(same(DbMv.read(spark, db, "rev"), recompute(db)), s"$step: mv != recompute")

  private def freshDb(seedFraction: Boolean = false): String = {
    val db = Files.createTempDirectory("dbmv").toString + "/db"
    DbLog.create(spark, db)
    val seedOrders =
      if (seedFraction) fact.filter(col("o_orderkey") % 3 =!= 0) else fact
    DbLog.transact(spark, db, "seed") { txn =>
      txn.append("orders", seedOrders.repartition(4))
      txn.append("customer", dim.repartition(2))
    }
    db
  }

  test("init seeds state == direct recompute; read returns groupCols, mv_count, mv_sum") {
    val db = freshDb()
    DbMv.init(spark, db, "rev", view)
    assert(DbMv.read(spark, db, "rev").columns.toSeq ==
      Seq("c_nationkey", "mv_count", "mv_sum"))
    checkView(db, "seed")
    // definition round-trips
    assert(DbMv.definition(spark, db, "rev") == view)
  }

  test("fact-side churn: appends and a cross-table archive move fold in exactly") {
    val db = freshDb(seedFraction = true)
    DbMv.init(spark, db, "rev", view)
    // appends land
    DbLog.transact(spark, db, "late-orders")(
      _.append("orders", fact.filter(col("o_orderkey") % 3 === 0)))
    val (f1, t1) = DbMv.refresh(spark, db, "rev")
    assert(f1 < t1)
    checkView(db, "after append")
    // a multi-table move: deletes leave the view through the SAME
    // commit that fills the archive — never torn
    DbLog.transact(spark, db, "archive-F") { txn =>
      txn.append("orders_archive",
        txn.table("orders").filter(col("o_orderstatus") === "F"))
      txn.deleteWhere("orders", col("o_orderstatus") === "F")
    }
    DbMv.refresh(spark, db, "rev")
    checkView(db, "after archive")
    // replay: nothing to do, nothing committed
    val v = DbLog.currentVersion(spark, db)
    val (f2, t2) = DbMv.refresh(spark, db, "rev")
    assert(f2 == t2 && DbLog.currentVersion(spark, db) == v)
  }

  test("dim-side churn re-prices current fact rows (F_new ⋈ ΔD term)") {
    val db = freshDb()
    DbMv.init(spark, db, "rev", view)
    // move every 10th customer to a different nation
    DbLog.transact(spark, db, "renationalize") { txn =>
      val moved = txn.table("customer")
        .filter(col("c_custkey") % 10 === 0)
        .withColumn("c_nationkey", (col("c_nationkey") + lit(7)) % 25)
      txn.deleteWhere("customer", col("c_custkey") % 10 === 0)
      txn.append("customer", moved)
    }
    DbMv.refresh(spark, db, "rev")
    checkView(db, "after dim churn")
  }

  test("ΔF⋈ΔD cross term: a customer and its orders arriving in ONE transaction count once") {
    val db = Files.createTempDirectory("dbmv").toString + "/db"
    DbLog.create(spark, db)
    DbLog.transact(spark, db, "seed") { txn =>
      txn.append("orders", fact.filter(col("o_custkey") % 2 === 0))
      txn.append("customer", dim.filter(col("c_custkey") % 2 === 0))
    }
    DbMv.init(spark, db, "rev", view)
    DbLog.transact(spark, db, "onboard-odd") { txn =>
      txn.append("customer", dim.filter(col("c_custkey") % 2 =!= 0))
      txn.append("orders", fact.filter(col("o_custkey") % 2 =!= 0))
    }
    DbMv.refresh(spark, db, "rev")
    checkView(db, "after cross-term onboard")
  }

  test("groups cancel to zero and leave the view; they return when rows return") {
    val db = freshDb()
    DbMv.init(spark, db, "rev", view)
    // empty one nation's orders entirely
    val victims = dim.filter(col("c_nationkey") === 3).select("c_custkey")
    val victimKeys = victims.collect().map(_.getLong(0)).toSet
    DbLog.transact(spark, db, "drain-3")(
      _.deleteWhere("orders", col("o_custkey").isInCollection(victimKeys)))
    DbMv.refresh(spark, db, "rev")
    checkView(db, "after drain")
    assert(DbMv.read(spark, db, "rev")
      .filter(col("c_nationkey") === 3).isEmpty)
    // rows return, the group reappears
    DbLog.transact(spark, db, "refill-3")(
      _.append("orders", fact.filter(col("o_custkey").isInCollection(victimKeys))))
    DbMv.refresh(spark, db, "rev")
    checkView(db, "after refill")
  }

  test("behind the vacuum horizon the view reseeds instead of failing") {
    val db = freshDb(seedFraction = true)
    DbMv.init(spark, db, "rev", view)
    // churn enough commits to push the cursor off a tight horizon
    (0 until 4).foreach { i =>
      DbLog.transact(spark, db, s"wave-$i")(
        _.append("orders",
          fact.filter(col("o_orderkey") % 3 === 0 &&
            col("o_orderkey") % 4 === i)))
    }
    TxLog.vacuum(spark, db, retainVersions = 2)
    val (from, to) = DbMv.refresh(spark, db, "rev")
    assert(from < to)
    checkView(db, "after reseed")
    assert(DbLog.history(spark, db).head().getString(1).startsWith("mv_reseed"))
  }

  test("NULL group attribute: append and delete refreshes keep ONE null group, no emptied rows") {
    import spark.implicits._
    val db = Files.createTempDirectory("dbmvnull").toString + "/db"
    DbLog.create(spark, db)
    // customer 2's group attribute is NULL — the joined rows group
    // under NULL, a real group
    val orders = Seq((1L, 1L, BigDecimal("1.00")), (2L, 2L, BigDecimal("2.00")))
      .toDF("o_orderkey", "o_custkey", "rev")
      .withColumn("rev", col("rev").cast("decimal(12,2)"))
    val customers = Seq((1L, Some("A")), (2L, None))
      .toDF("c_custkey", "c_grp")
    DbLog.transact(spark, db, "seed") { txn =>
      txn.append("orders", orders)
      txn.append("customer", customers)
    }
    val v = DbMv.JoinView(fact = "orders", dim = "customer",
      factKey = "o_custkey", dimKey = "c_custkey",
      groupCols = Seq("c_grp"), sumCol = "rev")
    DbMv.init(spark, db, "g", v)
    def direct: DataFrame = {
      val f = DbLog.snapshot(spark, db, "orders")
      val d = DbLog.snapshot(spark, db, "customer")
      f.join(d, f("o_custkey") === d("c_custkey"))
        .groupBy("c_grp")
        .agg(count(lit(1)).as("mv_count"), sum(col("rev")).as("mv_sum"))
    }
    def check(step: String): Unit = {
      val got = DbMv.read(spark, db, "g")
      assert(same(got, direct), s"$step: mv != recompute")
      assert(got.filter(col("c_grp").isNull).count() == 1L,
        s"$step: the NULL group split")
      assert(got.filter(col("mv_count") <= 0L).isEmpty,
        s"$step: an emptied or negative group stayed")
    }
    DbLog.transact(spark, db, "append")(_.append("orders",
      Seq((3L, 2L, BigDecimal("3.00"))).toDF("o_orderkey", "o_custkey", "rev")
        .withColumn("rev", col("rev").cast("decimal(12,2)"))))
    DbMv.refresh(spark, db, "g")
    check("after append")
    DbLog.transact(spark, db, "delete")(
      _.deleteWhere("orders", col("o_orderkey") === 2L))
    DbMv.refresh(spark, db, "g")
    check("after delete")
  }

  // ---- N-table star form ---------------------------------------------

  private val starView = DbMv.StarView("orders",
    Seq(("customer", Seq("o_custkey"))),
    groupCols = Seq("c_nationkey"), sumCols = Seq("rev"),
    minMaxCols = Seq("rev"))

  private lazy val dimStar = customerRaw.select(
    col("c_custkey").as("o_custkey"), col("c_nationkey"),
    col("c_mktsegment"))

  // incremental double sums drift from a direct recompute by ulps
  // (signed-delta fold order) — the house convention compares them
  // ROUND(,2); counts and min/max are exact either way
  private def rounded(df: DataFrame): DataFrame =
    df.withColumn("sum_rev", round(col("sum_rev"), 2))

  private def recomputeStar(db: String): DataFrame =
    rounded(DbLog.snapshot(spark, db, "orders")
      .join(DbLog.snapshot(spark, db, "customer"), Seq("o_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("mv_count"),
        sum(col("rev").cast("double")).as("sum_rev"),
        min(col("rev").cast("double")).as("min_rev"),
        max(col("rev").cast("double")).as("max_rev")))

  private def checkStar(db: String, step: String): Unit =
    assert(same(rounded(DbMv.readStar(spark, db, "srev")), recomputeStar(db)),
      s"$step: star mv != recompute")

  private def freshStarDb(): String = {
    val db = Files.createTempDirectory("dbmvs").toString + "/db"
    DbLog.create(spark, db)
    DbLog.transact(spark, db, "seed") { txn =>
      txn.append("orders", fact.repartition(4))
      txn.append("customer", dimStar.repartition(2))
    }
    db
  }

  test("star: init seeds exactly; a refresh is state+cursor in ONE commit, touched groups only") {
    val db = freshStarDb()
    DbMv.initStar(spark, db, "srev", starView)
    checkStar(db, "seed")
    assert(DbMv.starDefinition(spark, db, "srev") == starView)
    // fact churn confined to one nation's customers: only its groups
    // may be touched — assert with the state files' content
    val keys = dimStar.filter(col("c_nationkey") === 5)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    DbLog.transact(spark, db, "drop-n5")(
      _.deleteWhere("orders", col("o_custkey").isInCollection(keys)))
    val vPre = DbLog.currentVersion(spark, db)
    val (f1, t1) = DbMv.refreshStar(spark, db, "srev")
    assert(f1 < t1)
    assert(DbLog.currentVersion(spark, db) == vPre + 1) // ONE commit
    checkStar(db, "after fact delete")
    assert(DbMv.readStar(spark, db, "srev")
      .filter(col("c_nationkey") === 5).isEmpty) // group emptied, left
    // fixpoint: a refresh over only the view's own commits no-ops
    val (f2, t2) = DbMv.refreshStar(spark, db, "srev")
    assert(f2 == t2 && DbLog.currentVersion(spark, db) == vPre + 1)
  }

  test("star: three tables churned in ONE transaction telescope exactly (torn-feed case)") {
    val db = freshStarDb()
    // snowflake: nation joins a column customer produced
    import spark.implicits._
    DbLog.transact(spark, db, "nations")(_.append("nation",
      (0L until 25L).map(i => (i, s"N$i")).toDF("c_nationkey", "nname")))
    val snow = DbMv.StarView("orders",
      Seq(("customer", Seq("o_custkey")), ("nation", Seq("c_nationkey"))),
      groupCols = Seq("nname"), sumCols = Seq("rev"),
      minMaxCols = Seq("rev"))
    DbMv.initStar(spark, db, "srev", snow)
    // one txn: fact deletes + re-prices, customers move nation,
    // nations rename — the advance must see it whole or not at all
    val bump = DbLog.snapshot(spark, db, "orders")
      .filter(col("o_orderkey") % 13 === 0)
      .withColumn("rev", (col("rev") * 2).cast("decimal(12,2)"))
      .localCheckpoint()
    val dead = DbLog.snapshot(spark, db, "orders")
      .filter(col("o_orderkey") % 17 === 0 && col("o_orderkey") % 13 =!= 0)
      .select("o_orderkey").localCheckpoint()
    val moved = DbLog.snapshot(spark, db, "customer")
      .filter(col("o_custkey") % 10 === 0)
      .withColumn("c_nationkey", (col("c_nationkey") + lit(7)) % 25)
      .localCheckpoint()
    val renamed = DbLog.snapshot(spark, db, "nation")
      .filter(col("c_nationkey") < 4)
      .withColumn("nname", concat(lit("R"), col("nname")))
      .localCheckpoint()
    DbLog.transact(spark, db, "churn") { txn =>
      txn.applyKeyed("orders", Seq("o_orderkey"), bump, dead)
      txn.upsertKeyed("customer", Seq("o_custkey"), moved)
      txn.upsertKeyed("nation", Seq("c_nationkey"), renamed)
    }
    DbMv.refreshStar(spark, db, "srev")
    val direct = rounded(DbLog.snapshot(spark, db, "orders")
      .join(DbLog.snapshot(spark, db, "customer"), Seq("o_custkey"))
      .join(DbLog.snapshot(spark, db, "nation"), Seq("c_nationkey"))
      .groupBy("nname")
      .agg(count(lit(1)).as("mv_count"),
        sum(col("rev").cast("double")).as("sum_rev"),
        min(col("rev").cast("double")).as("min_rev"),
        max(col("rev").cast("double")).as("max_rev")))
    assert(same(rounded(DbMv.readStar(spark, db, "srev")), direct),
      "three-table one-txn churn must telescope exactly")
  }

  test("star: a clustered dim-term advance skips fact FILES via the log manifest (plan receipt)") {
    val db = Files.createTempDirectory("dbmvp").toString + "/db"
    DbLog.create(spark, db)
    // stats declared BEFORE the data lands — the ADD entries carry the
    // per-file [min, max] the candidate routine prunes by
    DbLog.setStatsColumns(spark, db, "orders", Seq("o_custkey"))
    DbLog.transact(spark, db, "seed") { txn =>
      txn.append("orders", fact.repartitionByRange(6, col("o_custkey"))
        .sortWithinPartitions("o_custkey"))
      txn.append("customer", dimStar.repartition(2))
    }
    DbMv.initStar(spark, db, "srev", starView)
    val total = DbLog.candidateTableFiles(spark, db, "orders", Nil).size
    assert(total >= 6)
    // dim churn confined to a narrow key range: the dim term's fact
    // old read must name a strict subset of the files as candidates
    val ks = dimStar.select("o_custkey").agg(min("o_custkey")).head().getLong(0)
    val moved = DbLog.snapshot(spark, db, "customer")
      .filter(col("o_custkey").between(ks, ks + 50))
      .withColumn("c_nationkey", lit(99)).localCheckpoint()
    assert(moved.count() > 0)
    DbLog.transact(spark, db, "dimchurn")(
      _.upsertKeyed("customer", Seq("o_custkey"), moved))
    val b = moved.agg(min("o_custkey"), max("o_custkey")).head()
    val cand = DbLog.candidateTableFiles(spark, db, "orders",
      Seq(("o_custkey", b.getLong(0).toDouble, b.getLong(1).toDouble)))
    assert(cand.nonEmpty && cand.size < total,
      s"expected file-level skipping, got ${cand.size}/$total candidates")
    // the explicit-subset read is exact against the filtered snapshot
    assert(same(
      DbLog.snapshotOfFiles(spark, db, "orders", cand.toSet)
        .filter(col("o_custkey").between(b.getLong(0), b.getLong(1))),
      DbLog.snapshot(spark, db, "orders")
        .filter(col("o_custkey").between(b.getLong(0), b.getLong(1)))))
    // and the advance riding the pruned path stays exact
    val (f1, t1) = DbMv.refreshStar(spark, db, "srev")
    assert(f1 < t1)
    checkStar(db, "after clustered dim churn")
    assert(DbMv.readStar(spark, db, "srev")
      .filter(col("c_nationkey") === 99).count() == 1L)
  }

  test("star: NULL group keys merge as ONE group across refreshes (null-safe state keys)") {
    import spark.implicits._
    val db = Files.createTempDirectory("dbmvn").toString + "/db"
    DbLog.create(spark, db)
    // a dim whose attribute is NULL for some keys — the joined rows
    // group under the NULL attribute, a real group
    val dim0 = customerRaw.select(col("c_custkey").as("o_custkey"),
      when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("seg"))
    DbLog.transact(spark, db, "seed") { txn =>
      txn.append("orders", fact.drop("o_orderstatus"))
      txn.append("customer", dim0)
    }
    val v = DbMv.StarView("orders", Seq(("customer", Seq("o_custkey"))),
      groupCols = Seq("seg"), sumCols = Seq("rev"),
      minMaxCols = Seq("rev"))
    DbMv.initStar(spark, db, "srev", v)
    def nullRows() = DbMv.readStar(spark, db, "srev")
      .filter(col("seg").isNull)
    assert(nullRows().count() == 1L)
    // two refreshes that TOUCH the null group (facts of %3 customers
    // churn): without null-safe keys each one appends a duplicate
    (0 until 2).foreach { i =>
      val upd = DbLog.snapshot(spark, db, "orders")
        .filter(col("o_custkey") % 3 === 0 && col("o_orderkey") % 5 === i)
        .withColumn("rev", (col("rev") + lit(1)).cast("decimal(12,2)"))
        .localCheckpoint()
      DbLog.transact(spark, db, s"bump$i")(
        _.upsertKeyed("orders", Seq("o_orderkey"), upd))
      DbMv.refreshStar(spark, db, "srev")
      assert(nullRows().count() == 1L,
        s"refresh $i duplicated the NULL group")
    }
    // and the single row carries the right merged numbers
    val direct = rounded(DbLog.snapshot(spark, db, "orders")
      .join(DbLog.snapshot(spark, db, "customer"), Seq("o_custkey"))
      .filter(col("seg").isNull)
      .groupBy("seg")
      .agg(count(lit(1)).as("mv_count"),
        sum(col("rev").cast("double")).as("sum_rev"),
        min(col("rev").cast("double")).as("min_rev"),
        max(col("rev").cast("double")).as("max_rev")))
    assert(same(rounded(nullRows()), direct))
  }

  test("star: maintainStar folds state vectors and packs smalls; the view's value is untouched") {
    val db = freshStarDb()
    DbMv.initStar(spark, db, "srev", starView)
    // several touched-group refreshes: each hides old group rows
    // behind a DV and appends a small file
    (0 until 3).foreach { i =>
      val upd = DbLog.snapshot(spark, db, "orders")
        .filter(col("o_orderkey") % 11 === i)
        .withColumn("rev", (col("rev") + lit(1)).cast("decimal(12,2)"))
        .localCheckpoint()
      DbLog.transact(spark, db, s"bump$i")(
        _.upsertKeyed("orders", Seq("o_orderkey"), upd))
      DbMv.refreshStar(spark, db, "srev")
    }
    checkStar(db, "pre-maintenance")
    val stateEntries = TxLog.liveEntries(spark, db)
      .filter(_.name.startsWith("mv_srev_state/"))
    assert(stateEntries.exists(_.dv.isDefined),
      "refreshes should have left deletion vectors on the state")
    val before = stateEntries.size
    val (m, c) = DbMv.maintainStar(spark, db, "srev",
      smallBytes = 64L << 20)
    assert(m > 0 && c > 0, s"both steps should commit, got ($m, $c)")
    val after = TxLog.liveEntries(spark, db)
      .filter(_.name.startsWith("mv_srev_state/"))
    assert(after.forall(_.dv.isEmpty), "no vector survives the fold")
    assert(after.size < before, s"pack should shrink $before files")
    checkStar(db, "post-maintenance") // value untouched
    // and the next refresh lands normally on the maintained state
    val upd = DbLog.snapshot(spark, db, "orders")
      .filter(col("o_orderkey") % 13 === 0)
      .withColumn("rev", (col("rev") * 2).cast("decimal(12,2)"))
      .localCheckpoint()
    DbLog.transact(spark, db, "post")(
      _.upsertKeyed("orders", Seq("o_orderkey"), upd))
    DbMv.refreshStar(spark, db, "srev")
    checkStar(db, "post-maintenance refresh")
  }

  test("star: bounded extreme reserves keep min/max exact; drains heal through the recompute") {
    val db = freshStarDb()
    DbMv.initStar(spark, db, "srev", starView.copy(reserveK = 8))
    assert(DbMv.starDefinition(spark, db, "srev").reserveK == 8)
    checkStar(db, "reserve seed")
    // machinery columns never surface in the read
    assert(!DbMv.readStar(spark, db, "srev").columns
      .exists(c => c.startsWith("minres_") || c.startsWith("nn_")))
    // scattered churn: re-prices + interior deletes — the reserves
    // absorb it (no prefix drains), values stay exact
    val bump = DbLog.snapshot(spark, db, "orders")
      .filter(col("o_orderkey") % 13 === 0)
      .withColumn("rev", (col("rev") * 2).cast("decimal(12,2)"))
      .localCheckpoint()
    val dead = DbLog.snapshot(spark, db, "orders")
      .filter(col("o_orderkey") % 17 === 0 && col("o_orderkey") % 13 =!= 0)
      .select("o_orderkey").localCheckpoint()
    DbLog.transact(spark, db, "churn") { txn =>
      txn.applyKeyed("orders", Seq("o_orderkey"), bump, dead)
    }
    DbMv.refreshStar(spark, db, "srev")
    checkStar(db, "scattered churn through reserves")
    // ADVERSARIAL: delete MORE than k of one nation's cheapest rows —
    // the min prefix drains, the dirty recompute must heal exactly
    val n5 = DbLog.snapshot(spark, db, "orders")
      .join(DbLog.snapshot(spark, db, "customer")
        .filter(col("c_nationkey") === 5), Seq("o_custkey"))
    val cheapest = n5.orderBy(col("rev").asc).limit(12)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(cheapest.size > 8)
    DbLog.transact(spark, db, "drain")(
      _.deleteWhere("orders", col("o_orderkey").isInCollection(cheapest)))
    DbMv.refreshStar(spark, db, "srev")
    checkStar(db, "min-prefix drain healed")
    // dim-side group move (rows leave one group, join another)
    val moved = DbLog.snapshot(spark, db, "customer")
      .filter(col("o_custkey") % 9 === 0)
      .withColumn("c_nationkey", (col("c_nationkey") + lit(3)) % 25)
      .localCheckpoint()
    DbLog.transact(spark, db, "dim")(
      _.upsertKeyed("customer", Seq("o_custkey"), moved))
    DbMv.refreshStar(spark, db, "srev")
    checkStar(db, "dim move through reserves")
    // maintenance folds the state's vectors and packs its smalls with
    // the reserve arrays traveling intact; the next churn still
    // advances through them exactly
    DbMv.maintainStar(spark, db, "srev", smallBytes = 64L << 20)
    checkStar(db, "after maintainStar")
    DbLog.transact(spark, db, "post-maint")(
      _.deleteWhere("orders", col("o_orderkey") % 23 === 0))
    DbMv.refreshStar(spark, db, "srev")
    checkStar(db, "post-maintenance churn through reserves")
    // and the whole lifecycle matches a reserve-free twin (sums
    // ROUND(,2) — the incremental fold differs from a fresh seed by
    // ulps; counts and min/max must be bit-exact)
    DbMv.initStar(spark, db, "plain", starView)
    assert(same(rounded(DbMv.readStar(spark, db, "srev")),
      rounded(DbMv.readStar(spark, db, "plain"))),
      "reserve view != reserve-free view")
  }

  test("quiet view: sibling-table churn hops the cursor (one metadata commit); own commits never do") {
    import spark.implicits._
    val db = freshStarDb()
    DbMv.initStar(spark, db, "srev", starView)
    // sibling-only commit: a table the view never reads
    DbLog.transact(spark, db, "sibling")(
      _.append("audit", Seq((1L, "x")).toDF("id", "v")))
    val v1 = DbLog.currentVersion(spark, db)
    val st0 = DbLog.snapshot(spark, db, "mv_srev_state").collect().toSet
    val (f1, t1) = DbMv.refreshStar(spark, db, "srev")
    assert(f1 == t1) // nothing relevant churned
    assert(DbLog.currentVersion(spark, db) == v1 + 1,
      "sibling churn must hop the cursor in one commit")
    assert(DbLog.snapshot(spark, db, "mv_srev_state").collect().toSet == st0,
      "state files untouched by a cursor hop")
    checkStar(db, "after cursor hop")
    // the hop is an own commit: the next refresh no-ops WITHOUT one
    val (f2, t2) = DbMv.refreshStar(spark, db, "srev")
    assert(f2 == t2 && DbLog.currentVersion(spark, db) == v1 + 1,
      "a window of purely own commits must not commit")
    // TWO quiet views on one database: hops must converge, not
    // ping-pong (each view's hop commit is mv_-machinery churn the
    // other's fixpoint gate swallows)
    DbMv.initStar(spark, db, "srev2", starView.copy(sumCols = Seq("rev")))
    DbLog.transact(spark, db, "sibling2")(
      _.append("audit", Seq((2L, "y")).toDF("id", "v")))
    val h0 = DbLog.currentVersion(spark, db)
    (1 to 3).foreach { _ =>
      DbMv.refreshStar(spark, db, "srev")
      DbMv.refreshStar(spark, db, "srev2")
    }
    assert(DbLog.currentVersion(spark, db) <= h0 + 2,
      "quiet views must hop at most once each per foreign commit")
    // join form: same contract
    val db2 = freshDb()
    DbMv.init(spark, db2, "rev", view)
    DbLog.transact(spark, db2, "sibling")(
      _.append("audit", Seq((1L, "x")).toDF("id", "v")))
    val w1 = DbLog.currentVersion(spark, db2)
    assert(DbMv.refresh(spark, db2, "rev") == (w1 - 1, w1 - 1) ||
      DbLog.currentVersion(spark, db2) == w1 + 1)
    checkView(db2, "join-form after hop")
    val before = DbLog.currentVersion(spark, db2)
    DbMv.refresh(spark, db2, "rev")
    assert(DbLog.currentVersion(spark, db2) == before)
  }

  test("SQL TVFs drive the full view lifecycle, hash-stable vs the Scala path") {
    graft.GraftExtensions.installInto(spark)
    // star form: init → churn → refresh → read, the view verbs all SQL
    val db = freshStarDb()
    spark.sql(s"SELECT * FROM graft_dbmv_star_init('$db', 'srev', " +
      "'orders', 'customer:o_custkey', 'c_nationkey', 'rev', 'rev')")
      .collect()
    checkStar(db, "SQL star init")
    DbLog.transact(spark, db, "churn")(
      _.deleteWhere("orders", col("o_orderkey") % 11 === 0))
    val r = spark.sql(s"SELECT * FROM graft_dbmv_refresh('$db', 'srev')")
      .head()
    assert(r.getLong(2) < r.getLong(3)) // from_version < to_version
    val viaSql = spark.sql(s"SELECT * FROM graft_dbmv_read('$db', 'srev')")
    assert(same(viaSql, DbMv.readStar(spark, db, "srev")),
      "SQL read != Scala read")
    checkStar(db, "SQL star refresh")
    // two-table join form through the same verbs (dispatch probe)
    val db2 = freshDb()
    spark.sql(s"SELECT * FROM graft_dbmv_init('$db2', 'rev', 'orders', " +
      "'customer', 'o_custkey', 'c_custkey', 'c_nationkey', 'rev')")
      .collect()
    DbLog.transact(spark, db2, "churn")(
      _.deleteWhere("orders", col("o_orderkey") % 7 === 0))
    spark.sql(s"SELECT * FROM graft_dbmv_refresh('$db2', 'rev')").collect()
    assert(same(
      spark.sql(s"SELECT * FROM graft_dbmv_read('$db2', 'rev')"),
      DbMv.read(spark, db2, "rev")))
    checkView(db2, "SQL join-form refresh")
  }

  test("star: behind the vacuum horizon the view reseeds atomically") {
    val db = freshStarDb()
    DbMv.initStar(spark, db, "srev", starView)
    (0 until 4).foreach { i =>
      DbLog.transact(spark, db, s"wave-$i")(
        _.append("orders",
          fact.filter(col("o_orderkey") % 4 === i)
            .withColumn("o_orderkey", col("o_orderkey") + 9000000L)))
    }
    TxLog.vacuum(spark, db, retainVersions = 2)
    val (from, to) = DbMv.refreshStar(spark, db, "srev")
    assert(from < to)
    checkStar(db, "after star reseed")
    assert(DbLog.history(spark, db).head().getString(1)
      .startsWith("mv_reseed_star"))
  }
}
