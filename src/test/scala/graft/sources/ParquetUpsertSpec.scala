package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ParquetUpsertSpec extends SparkSpec {
  import spark.implicits._

  test("mergeByKey: replaces matched keys, appends new, idempotent") {
    val dir = Files.createTempDirectory("graft_upsert").toString + "/t"
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v")
    assert(ParquetUpsert.mergeByKey(spark, dir, v1, Seq("id")) == 2L)

    // update id=2, insert id=3
    val v2 = Seq((2L, "b2", 21.0), (3L, "c", 30.0)).toDF("id", "name", "v")
    assert(ParquetUpsert.mergeByKey(spark, dir, v2, Seq("id")) == 3L)
    val out = spark.read.parquet(dir).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out(1).getString(1) == "b2" && out(1).getDouble(2) == 21.0)

    // re-applying the same updates changes nothing
    assert(ParquetUpsert.mergeByKey(spark, dir, v2, Seq("id")) == 3L)
    assert(spark.read.parquet(dir).count() == 3L)
    // no stage/old leftovers
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(parent == Seq("t"), s"leftovers: $parent")
  }

  test("mergeByKey: an empty batch over an existing table returns the table's count") {
    val dir = Files.createTempDirectory("graft_upsert_empty").toString + "/t"
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "name", "v")
    ParquetUpsert.mergeByKey(spark, dir, v1, Seq("id"))
    assert(ParquetUpsert.mergeByKey(spark, dir, v1.limit(0), Seq("id")) == 3L)
    assert(spark.read.parquet(dir).count() == 3L)
  }

  test("mergeByKey: an empty batch on a fresh path returns 0") {
    val dir = Files.createTempDirectory("graft_upsert_fresh").toString + "/t"
    val none = Seq.empty[(Long, String, Double)].toDF("id", "name", "v")
    assert(ParquetUpsert.mergeByKey(spark, dir, none, Seq("id")) == 0L)
    assert(spark.read.parquet(dir).isEmpty)
  }

  test("mergeByKey: the live schema comes from a footer, every job inside a SQL execution") {
    val dir = Files.createTempDirectory("graft_upsert_footer").toString + "/t"
    val v1 = Seq((1L, "a", BigDecimal("1.25"), java.sql.Date.valueOf("2024-01-02")))
      .toDF("id", "name", "amount", "day")
    ParquetUpsert.mergeByKey(spark, dir, v1, Seq("id"))
    val inferred = spark.read.parquet(dir).schema
    val v2 = Seq((2L, "b", BigDecimal("2.50"), java.sql.Date.valueOf("2024-01-03")))
      .toDF("id", "name", "amount", "day")
    val (n, jobs) = jobListOf(ParquetUpsert.mergeByKey(spark, dir, v2, Seq("id")))
    assert(n == 2L)
    assert(jobs.forall(_.inSql), jobs.mkString("\n"))
    assert(spark.read.parquet(dir).schema == inferred)
    assert(spark.read.parquet(dir).orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("mergeByKey: a batch missing a live column is refused, the table untouched") {
    val dir = Files.createTempDirectory("graft_upsert_narrow").toString + "/t"
    ParquetUpsert.mergeByKey(spark, dir,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v"), Seq("id"))
    intercept[org.apache.spark.sql.AnalysisException](
      ParquetUpsert.mergeByKey(spark, dir, Seq((3L, "c")).toDF("id", "name"), Seq("id")))
    assert(spark.read.parquet(dir).count() == 2L)
    assert(spark.read.parquet(dir).columns.toSeq == Seq("id", "name", "v"))
  }

  test("mergeByKey: a failing write rethrows and never waits on its count") {
    val dir = Files.createTempDirectory("graft_upsert_boom").toString + "/t"
    ParquetUpsert.mergeByKey(spark, dir, Seq((1L, "a", 1.0)).toDF("id", "name", "v"), Seq("id"))
    val boom = udf((k: Long) =>
      if (k == 7L) throw new IllegalStateException("boom") else k)
    val batch = spark.range(0, 20).select(boom(col("id")).as("id"),
      lit("x").as("name"), lit(2.0).as("v"))
    val run = scala.concurrent.Future(ParquetUpsert.mergeByKey(spark, dir, batch, Seq("id")))(
      scala.concurrent.ExecutionContext.global)
    val thrown = scala.util.Try(scala.concurrent.Await.result(run,
      scala.concurrent.duration.Duration(120, "s")))
    assert(thrown.isFailure)
    assert(!thrown.failed.get.isInstanceOf[java.util.concurrent.TimeoutException])
    var cause: Throwable = thrown.failed.get
    while (cause.getCause != null && !cause.getMessage.contains("boom"))
      cause = cause.getCause
    assert(cause.getMessage.contains("boom"))
    // the live table is untouched
    assert(spark.read.parquet(dir).count() == 1L)
  }

  test("staged partitioned append: accumulates batches, partition layout, no leftovers") {
    val wh = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, wh)
    val b1 = Seq((1L, 202001, 1.0), (2L, 202002, 2.0)).toDF("id", "p_month", "v")
    store.appendPartitioned(b1, "fact", "p_month")
    val b2 = Seq((3L, 202001, 3.0)).toDF("id", "p_month", "v")
    // simulate a stale stage from a killed run — must be clobbered
    val stale = new java.io.File(s"$wh/fact__fact_stage"); stale.mkdirs()
    Files.writeString(java.nio.file.Path.of(stale.toString, "junk"), "x")
    store.appendPartitioned(b2, "fact", "p_month")
    val back = store.read("fact")
    assert(back.count() == 3)
    assert(back.filter(col("p_month") === 202001).count() == 2)
    // physical layout: hive-style partition dirs, no stage dir left
    val top = new java.io.File(s"$wh/fact").list().toSeq.filterNot(_.startsWith("_"))
    assert(top.toSet == Set("p_month=202001", "p_month=202002"), top.toString)
    assert(new java.io.File(wh).list().toSeq.filterNot(_.startsWith("_")) == Seq("fact"))
  }

  test("compactPartitions: N appends collapse to target file count, contents identical") {
    val wh = Files.createTempDirectory("graft_compact").toString
    val store = new ParquetStore(spark, wh)
    // 4 appends -> >=4 files per partition
    (0 until 4).foreach { b =>
      val batch = Seq(
        (b * 10 + 1L, 202001, b * 1.0),
        (b * 10 + 2L, 202002, b * 2.0)).toDF("id", "p_month", "v")
      store.appendPartitioned(batch, "fact", "p_month")
    }
    // visible data files only: "_" markers and hidden ".crc" checksums
    // are metadata every parquet reader skips
    def partFiles(p: String) =
      new java.io.File(s"$wh/fact/p_month=$p").list().toSeq
        .filterNot(f => f.startsWith("_") || f.startsWith("."))
    assert(partFiles("202001").size >= 4, partFiles("202001").toString)
    def snapshot() = store.read("fact").select("id", "p_month", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sorted.toSeq
    val before = snapshot()

    val n = store.compactPartitions("fact", "p_month", targetFileBytes = 1L << 30)
    assert(n == 2, s"expected both partitions compacted, got $n")
    assert(partFiles("202001").size == 1, partFiles("202001").toString)
    assert(partFiles("202002").size == 1, partFiles("202002").toString)
    val after = snapshot()
    assert(after == before, "compaction changed table contents")
    // no stage/backup leftovers; second compact is a no-op
    assert(new java.io.File(wh).list().toSeq.filterNot(_.startsWith("_")) == Seq("fact"))
    assert(store.compactPartitions("fact", "p_month", targetFileBytes = 1L << 30) == 0)
    // appends still work after compaction (rename machinery unaffected)
    store.appendPartitioned(Seq((99L, 202001, 9.9)).toDF("id", "p_month", "v"),
      "fact", "p_month")
    assert(store.read("fact").count() == 9)
  }

  test("compactPartitions: byte target above one file splits partitions by salt") {
    val wh = Files.createTempDirectory("graft_compact_multi").toString
    val store = new ParquetStore(spark, wh)
    (0 until 6).foreach { b =>
      store.appendPartitioned(
        (1 to 20).map(i => (b * 100 + i.toLong, 202001, i * 1.0))
          .toDF("id", "p_month", "v").coalesce(1),
        "fact", "p_month")
    }
    def files() = new java.io.File(s"$wh/fact/p_month=202001").list().toSeq
      .filterNot(f => f.startsWith("_") || f.startsWith("."))
    assert(files().size == 6)
    val bytes = new java.io.File(s"$wh/fact/p_month=202001").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.length()).sum
    val before = store.read("fact").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    // target half the bytes -> want 2 files
    val n = store.compactPartitions("fact", "p_month", targetFileBytes = bytes / 2 + 1)
    assert(n == 1)
    assert(files().size <= 2 && files().nonEmpty, files().toString)
    val after = store.read("fact").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(after == before)
  }

  test("compactPartitions: many partitions take the distributed planning path") {
    val wh = Files.createTempDirectory("graft_compact_many").toString
    val store = new ParquetStore(spark, wh)
    // 80 partitions (> the 64-dir driver-planning cutoff), 2 file sets
    // each — the plan job must find exactly the fragmented ones
    (0 until 2).foreach { b =>
      store.appendPartitioned(
        (0 until 80).map(p => (b * 100 + p.toLong, 202000 + p, b * 1.0))
          .toDF("id", "p_month", "v").repartition(4),
        "fact", "p_month")
    }
    def files(p: Int) = new java.io.File(s"$wh/fact/p_month=$p").list().toSeq
      .filterNot(f => f.startsWith("_") || f.startsWith("."))
    assert(files(202000).size >= 2)
    def snapshot() = store.read("fact").select("id", "p_month", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sorted.toSeq
    val before = snapshot()
    val n = store.compactPartitions("fact", "p_month",
      targetFileBytes = 1L << 30, distributedPlanAbove = 64)
    assert(n == 80, s"expected all 80 partitions compacted, got $n")
    assert((0 until 80).forall(p => files(202000 + p).size == 1))
    assert(snapshot() == before, "distributed-plan compaction changed contents")
    // already-compact partitions are not re-planned
    assert(store.compactPartitions("fact", "p_month",
      targetFileBytes = 1L << 30, distributedPlanAbove = 64) == 0)
  }

  test("compactPartitions recovery: a partition stranded in __compact_old is restored") {
    val wh = Files.createTempDirectory("graft_compact_rec").toString
    val store = new ParquetStore(spark, wh)
    store.appendPartitioned(
      Seq((1L, 202001, 1.0), (2L, 202002, 2.0)).toDF("id", "p_month", "v"),
      "fact", "p_month")
    // simulate a crash between backup-rename and publish-rename:
    // partition dir moved to __compact_old, nothing published yet
    val live = new java.io.File(s"$wh/fact/p_month=202001")
    val oldRoot = new java.io.File(s"$wh/fact__compact_old")
    oldRoot.mkdirs()
    assert(live.renameTo(new java.io.File(oldRoot, "p_month=202001")))
    assert(!live.exists())
    // next compact call restores it before doing any work
    store.compactPartitions("fact", "p_month", targetFileBytes = 1L << 30)
    assert(live.exists(), "stranded partition not restored")
    assert(store.read("fact").count() == 2)
    assert(new java.io.File(wh).list().toSeq.filterNot(_.startsWith("_")) == Seq("fact"))
  }

  test("rewrite recovery discards an unvalidated stage (no manifest), never publishes it") {
    val wh = Files.createTempDirectory("graft_rw_rec").toString
    val store = new ParquetStore(spark, wh)
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "p", "v")
    store.overwritePartitioned(base, "t", "p")
    def rows() = store.read("t").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("p"))).toSet
    val before = rows()
    // simulate a crash AFTER the stage write completed (_SUCCESS present)
    // but BEFORE validation passed: the manifest is the publish token, so
    // this stage must be discarded, not published over partition b
    val stageRoot = new java.io.File(s"$wh/t__rewrite_stage")
    Seq((9L, "b", 9.0)).toDF("id", "p", "v")
      .write.mode("overwrite").partitionBy("p").parquet(stageRoot.toString)
    assert(new java.io.File(stageRoot, "_SUCCESS").exists())
    // next rewrite call runs the recovery sweep first; the valid rewrite
    // of partition a proceeds, partition b keeps its original rows
    store.rewritePartitioned(Seq((7L, "a", 7.0)).toDF("id", "p", "v"),
      "t", "p", Seq("a"))
    val after = rows()
    assert(after == Set((7L, "a"), (2L, "b")), s"got $after vs before $before")
    assert(!stageRoot.exists())
  }

  test("crash recovery: stale __stage/__old dirs from a killed run are ignored and cleaned") {
    val dir = Files.createTempDirectory("graft_upsert_crash").toString + "/t"
    val v1 = Seq((1L, "a", 10.0)).toDF("id", "name", "v")
    ParquetUpsert.mergeByKey(spark, dir, v1, Seq("id"))

    // simulate a run killed mid-stage-write / mid-publish
    val stage = new java.io.File(dir + "__stage"); stage.mkdirs()
    Files.writeString(java.nio.file.Path.of(stage.toString, "part-00000.parquet"), "garbage")
    val old = new java.io.File(dir + "__old"); old.mkdirs()
    Files.writeString(java.nio.file.Path.of(old.toString, "leftover.parquet"), "stale")

    // table reads are unaffected by the stale dirs (readers point at `t` only)
    assert(spark.read.parquet(dir).count() == 1L)
    // the next merge clobbers both stale dirs and publishes cleanly
    val v2 = Seq((2L, "b", 20.0)).toDF("id", "name", "v")
    assert(ParquetUpsert.mergeByKey(spark, dir, v2, Seq("id")) == 2L)
    assert(spark.read.parquet(dir).orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L))
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(parent == Seq("t"), s"leftovers: $parent")
  }
}
