package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Diagnostic main (committed on purpose — the round's job-count
  * evidence generator, outside every query path): counts Spark jobs
  * per lifecycle phase of the fixed-cost operators (keyed replication
  * advance, DbMv star advance, rollup/BM25 ingest, JoinMv star
  * refresh, MvStore log follow, per-commit changes range), so
  * per-advance fixed costs are attributable job by job across
  * optimization rounds.
  *
  * args: optional probe-set filter (comma list of: repl, star,
  * rollup, bm25, joinmv, mv, changes, scan). Default: all. Input tables
  * come from `$SPARK_GRAFT_SF_DIR` (default: the sf0.01 test data);
  * every table a run writes lives under one fresh temp directory,
  * deleted when the run ends. `SPARK_GRAFT_PROBE_TRACE=1` lists the
  * jobs of `star_advance`, `all` those of every phase: each with its
  * SQL execution id and that execution's action call site.
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val sets: Set[String] =
      if (args.isEmpty)
        Set("repl", "star", "rollup", "bm25", "joinmv", "mv", "changes",
          "scan")
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSet
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var trace = false
    // a traced job names its SQL execution and that execution's action
    // call site: an adaptive plan submits each stage as its own job,
    // whose stage name is only the scheduler thread's frame
    val actionSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          actionSites.put(s.executionId, s.description)
        case s: SparkListenerSQLExecutionEnd =>
          actionSites.remove(s.executionId)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (trace) {
          val exec = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          val site = exec.flatMap(id => Option(actionSites.get(id.toLong)))
          println(s"  JOB ${js.jobId} exec=${exec.getOrElse("-")} " +
            s"[${site.getOrElse("no SQL execution")}]: " +
            js.stageInfos.map(si => si.name.take(60)).mkString(" | "))
        }
      }
    })
    val traceAll = sys.env.get("SPARK_GRAFT_PROBE_TRACE").contains("all")
    def phase[T](label: String)(body: => T): T = {
      if (traceAll) { println(s"TRACE $label"); trace = true }
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val r = body
      org.apache.spark.BusDrain(spark.sparkContext)
      println(f"PHASE $label%-22s jobs=${jobs.get() - j0}%3d secs=${(System.nanoTime() - t0) / 1e9}%6.2f")
      r
    }
    // every table of the run lives under one fresh temp root, removed
    // when the run ends
    val root = java.nio.file.Files.createTempDirectory("probe_jobs").toString
    def tmp(name: String): String = s"$root/$name"
    import org.apache.spark.sql.functions._

    if (sets("repl")) {
      val c = Tables.table(spark, sfDir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val src = tmp("repl_src"); val dst = tmp("repl_dst")
      phase("seed_write") {
        c.repartition(1).write.parquet(src)
        graft.ops.TxLog.convert(spark, src)
      }
      phase("resync") {
        graft.ops.TxLog.replicateTo(spark, src, dst, "c_custkey")
      }
      phase("cow_delete") {
        graft.ops.DeleteWhere.where(spark, src,
          pmod(col("c_custkey"), lit(7)) === 0)
      }
      val upd = phase("upd_build") {
        graft.ops.TxLog.snapshot(spark, src)
          .filter(pmod(col("c_custkey"), lit(10)) === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1000)
          .localCheckpoint()
      }
      phase("mor_upsert") {
        graft.ops.DeletionVectors.upsert(spark, src, upd,
          keyCols = Seq("c_custkey"))
      }
      val feed = phase("diff_build") {
        val (d, _) = graft.ops.TxLog.diffSince(spark, src, 0)
        graft.ops.TxLog.asChangeFeed(d).localCheckpoint()
      }
      phase("apply_changes") {
        graft.ops.UpsertWhere.applyChanges(spark, dst, "c_custkey", feed)
      }
      phase("churn_advance") {
        graft.ops.TxLog.replicateTo(spark, src, dst, "c_custkey")
      }
      phase("noop_advance") {
        graft.ops.TxLog.replicateTo(spark, src, dst, "c_custkey")
      }
    }

    if (sets("star")) {
      // qDbMvStar's shape at probe scale: 3 tables churn in ONE
      // database transaction, the star view advances 3 times
      val o = Tables.table(spark, sfDir, "orders")
      val cst = Tables.table(spark, sfDir, "customer")
      val nat = Tables.table(spark, sfDir, "nation")
      val db = tmp("dbmv_star")
      graft.ops.DbLog.create(spark, db)
      graft.ops.DbLog.transact(spark, db, "seed") { txn =>
        txn.append("fact", o.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price")))
        txn.append("cust", cst.select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg"), col("c_nationkey")))
        txn.append("nat", nat.select(col("n_nationkey").as("c_nationkey"),
          col("n_name").as("nation_name")))
      }
      val view = graft.ops.DbMv.StarView("fact",
        Seq(("cust", Seq("o_custkey")), ("nat", Seq("c_nationkey"))),
        groupCols = Seq("seg", "nation_name"), sumCols = Seq("price"),
        minMaxCols = Seq("price"), reserveK = 8)
      phase("star_seed")(graft.ops.DbMv.initStar(spark, db, "rev", view))
      val bump = graft.ops.DbLog.snapshot(spark, db, "fact")
        .filter(pmod(col("o_orderkey"), lit(991)) === 0 &&
          pmod(col("o_orderkey"), lit(997)) =!= 0)
        .withColumn("price", col("price") * 2)
        .localCheckpoint()
      val dead = graft.ops.DbLog.snapshot(spark, db, "fact")
        .filter(pmod(col("o_orderkey"), lit(997)) === 0)
        .select("o_orderkey").localCheckpoint()
      val custUpd = graft.ops.DbLog.snapshot(spark, db, "cust")
        .filter(pmod(col("o_custkey"), lit(97)) === 0)
        .withColumn("seg", lit("MOVED"))
        .withColumn("c_nationkey", pmod(col("c_nationkey") + 7, lit(25)))
        .localCheckpoint()
      val natUpd = graft.ops.DbLog.snapshot(spark, db, "nat")
        .filter(col("c_nationkey") < 3)
        .withColumn("nation_name",
          concat(lit("REN_"), col("c_nationkey").cast("string")))
        .localCheckpoint()
      phase("star_churn_txn") {
        graft.ops.DbLog.transact(spark, db, "churn") { txn =>
          txn.applyKeyed("fact", Seq("o_orderkey"), bump, dead)
          txn.upsertKeyed("cust", Seq("o_custkey"), custUpd)
          txn.upsertKeyed("nat", Seq("c_nationkey"), natUpd)
        }
      }
      val doTrace = sys.env.get("SPARK_GRAFT_PROBE_TRACE").contains("1")
      if (doTrace) trace = true
      phase("star_advance")(graft.ops.DbMv.refreshStar(spark, db, "rev"))
      trace = false
      val bump2 = graft.ops.DbLog.snapshot(spark, db, "fact")
        .filter(pmod(col("o_orderkey"), lit(983)) === 0)
        .withColumn("price", col("price") * 2).localCheckpoint()
      phase("scat_churn_txn") {
        graft.ops.DbLog.transact(spark, db, "scat") { txn =>
          txn.upsertKeyed("fact", Seq("o_orderkey"), bump2)
        }
      }
      phase("scat_advance")(graft.ops.DbMv.refreshStar(spark, db, "rev"))
      phase("star_noop")(graft.ops.DbMv.refreshStar(spark, db, "rev"))
    }

    if (sets("rollup")) {
      val li = Tables.table(spark, sfDir, "lineitem")
      val store = new graft.sources.ParquetStore(spark, tmp("rollup"))
      val keys = Seq("l_partkey"); val ms = Seq("l_quantity")
      val dms = Seq("l_suppkey")
      val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
      val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
      phase("ru_init")(graft.ops.RollupStore.init(store, "inc", b1, keys, ms,
        nShards = 16, distinctMeasures = dms))
      phase("ru_ingest")(graft.ops.RollupStore.ingest(store, "inc", b2,
        keys, ms, distinctMeasures = dms))
      phase("ru_replay")(graft.ops.RollupStore.ingest(store, "inc", b2,
        keys, ms, distinctMeasures = dms))
      phase("ru_finalize")(graft.ops.RollupStore.finalize(store, "inc", ms,
        distinctMeasures = dms).count())
    }

    if (sets("bm25")) {
      val docs = Tables.table(spark, sfDir, "documents")
      val store = new graft.sources.ParquetStore(spark, tmp("bm25"))
      phase("bm_create")(graft.text.Bm25Store.create(store, "bmq",
        docs.filter(col("doc_id") < 250),
        nBuckets = 16, nShards = 8, bloomIdsPerShard = 1L << 12))
      val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
      phase("bm_append")(graft.text.Bm25Store.appendDocs(store, "bmq", batch))
      phase("bm_replay")(graft.text.Bm25Store.appendDocs(store, "bmq", batch))
    }

    if (sets("joinmv")) {
      val o = Tables.table(spark, sfDir, "orders")
      val cst = Tables.table(spark, sfDir, "customer")
      val fdir = tmp("jmv_fact"); val ddir = tmp("jmv_dim")
      o.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("price"))
        .repartition(4).write.parquet(fdir)
      graft.ops.TxLog.convert(spark, fdir)
      graft.ops.TxLog.setStatsColumns(spark, fdir, Seq("o_custkey"))
      cst.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg"))
        .repartition(1).write.parquet(ddir)
      graft.ops.TxLog.convert(spark, ddir)
      val store = new graft.sources.ParquetStore(spark, tmp("jmv_store"))
      phase("jm_seed")(graft.ops.JoinMv.follow(store, "rev", fdir, ddir,
        Seq("o_custkey"), Seq("seg"), Seq("price")))
      phase("jm_fact_write") {
        graft.ops.TxLog.append(spark, fdir,
          o.filter(col("o_orderkey") < 500).select(
            (col("o_orderkey") + 900000000L).as("o_orderkey"),
            col("o_custkey"), lit(1.0).as("price")))
      }
      phase("jm_fact_advance")(graft.ops.JoinMv.follow(store, "rev", fdir,
        ddir, Seq("o_custkey"), Seq("seg"), Seq("price")))
      phase("jm_dim_write") {
        graft.ops.UpsertWhere.byKeysDistributed(spark, ddir, "o_custkey",
          graft.ops.TxLog.snapshot(spark, ddir)
            .filter(pmod(col("o_custkey"), lit(97)) === 0)
            .withColumn("seg", lit("MOVED")))
      }
      phase("jm_dim_advance")(graft.ops.JoinMv.follow(store, "rev", fdir,
        ddir, Seq("o_custkey"), Seq("seg"), Seq("price")))
      phase("jm_noop")(graft.ops.JoinMv.follow(store, "rev", fdir, ddir,
        Seq("o_custkey"), Seq("seg"), Seq("price")))
    }

    if (sets("mv")) {
      // MvStore.followTxLog: the single-table log follower — seed, one
      // advance over an upsert and a delete, then a no-op call
      val dir = tmp("mv_src")
      Tables.table(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4).write.parquet(dir)
      graft.ops.TxLog.convert(spark, dir)
      val store = new graft.sources.ParquetStore(spark, tmp("mv_store"))
      def follow() = graft.ops.MvStore.followTxLog(store, "fmv", dir,
        Seq("o_orderstatus"), Seq("o_totalprice"))
      phase("mv_seed")(follow())
      graft.ops.UpsertWhere.byKeysDistributed(spark, dir, "o_orderkey",
        graft.ops.TxLog.snapshot(spark, dir)
          .filter(pmod(col("o_orderkey"), lit(97)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2))
      graft.ops.DeleteWhere.where(spark, dir,
        pmod(col("o_orderkey"), lit(89)) === 0)
      phase("mv_advance")(follow())
      phase("mv_noop")(follow())
    }

    if (sets("changes")) {
      val c = Tables.table(spark, sfDir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val dir = tmp("changes")
      c.repartition(2).write.parquet(dir)
      graft.ops.TxLog.convert(spark, dir)
      phase("ch_commits") {
        (1 to 5).foreach { i =>
          graft.ops.UpsertWhere.byKeysDistributed(spark, dir, "c_custkey",
            graft.ops.TxLog.snapshot(spark, dir)
              .filter(pmod(col("c_custkey"), lit(50 + i)) === 0)
              .withColumn("c_acctbal", col("c_acctbal") + i))
        }
      }
      phase("ch_changes_range") {
        graft.ops.TxLog.changes(spark, dir, 0,
          graft.ops.TxLog.currentVersion(spark, dir),
          Seq("c_custkey")).count()
      }
    }

    if (sets("scan")) {
      // plan-time cost of the INPUT loaders: every Tables.table call
      // without a memo pays one footer-inference Spark job even when
      // the same immutable file was read moments earlier — ~330 call
      // sites across the declared queries make this a suite-wide
      // fixed cost. t_first is allowed its one inference job;
      // t_reread_x3 counts the repeats (0 once memoized).
      phase("t_first")(Tables.table(spark, sfDir, "customer"))
      phase("t_reread_x3") {
        Tables.table(spark, sfDir, "customer")
        Tables.table(spark, sfDir, "lineitem")
        Tables.table(spark, sfDir, "lineitem")
      }
      phase("t_events_x2") {
        Tables.table(spark, sfDir, "events")
        Tables.table(spark, sfDir, "events")
      }
      phase("t_scan_count")(
        Tables.table(spark, sfDir, "customer").count())
    }

    spark.stop()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    rootPath.getFileSystem(new org.apache.hadoop.conf.Configuration())
      .delete(rootPath, true)
  }
}
