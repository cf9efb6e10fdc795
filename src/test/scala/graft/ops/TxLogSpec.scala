package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TxLogSpec extends SparkSpec {

  private lazy val orders = graft.Tables.orders(spark, sf("orders"))

  private def same(got: DataFrame, expected: DataFrame): Boolean =
    got.select(expected.columns.map(col): _*).exceptAll(expected).isEmpty &&
      expected.exceptAll(got.select(expected.columns.map(col): _*)).isEmpty

  private def freshTable(): String = {
    val dir = Files.createTempDirectory("txlog").toString + "/t"
    orders.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(dir)
    dir
  }

  private def diskFiles(dir: String): Int =
    Compact.dataFiles(Compact.fsOf(spark, dir), dir).length

  test("convert pins v0; snapshot equals the plain read; convert is idempotent") {
    val dir = freshTable()
    assert(TxLog.convert(spark, dir) == 0)
    assert(TxLog.convert(spark, dir) == 0) // already managed: no-op
    assert(TxLog.currentVersion(spark, dir) == 0)
    assert(TxLog.liveFiles(spark, dir).size == 8)
    assert(same(TxLog.snapshot(spark, dir), orders))
  }

  test("the DML triad commits versions; every retained version time-travels exactly") {
    val dir = freshTable()
    TxLog.convert(spark, dir)
    val up = orders.filter(col("o_orderkey").isin(10L, 11L, 12L))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    UpsertWhere.byKeys(spark, dir, "o_orderkey", up, None) // v1
    DeleteWhere.range(spark, dir, "o_orderkey", 1.0, 5.0, None) // v2
    Compact.binPack(spark, dir, targetBytes = 64L << 20,
      smallBytes = 64L << 20) // v3: full pack
    assert(TxLog.currentVersion(spark, dir) == 3)

    val v1 = orders.filter(!col("o_orderkey").isin(10L, 11L, 12L)).unionByName(up)
    val v2 = v1.filter(col("o_orderkey") < 1 || col("o_orderkey") > 5)
    assert(same(TxLog.snapshot(spark, dir, 0), orders))
    assert(same(TxLog.snapshot(spark, dir, 1), v1))
    assert(same(TxLog.snapshot(spark, dir, 2), v2))
    assert(same(TxLog.snapshot(spark, dir, 3), v2)) // compaction: same relation
    assert(TxLog.liveFiles(spark, dir, 3).size == 1)
    // superseded files are RETAINED on disk for the older snapshots
    assert(diskFiles(dir) > 8)
  }

  test("vacuum reclaims superseded files; the retained horizon still reads") {
    val dir = freshTable()
    TxLog.convert(spark, dir)
    DeleteWhere.range(spark, dir, "o_orderkey", 1.0, 5.0, None) // v1
    Compact.binPack(spark, dir, targetBytes = 64L << 20,
      smallBytes = 64L << 20) // v2
    val before = diskFiles(dir)
    val deleted = TxLog.vacuum(spark, dir, retainVersions = 1)
    assert(deleted > 0 && diskFiles(dir) == before - deleted)
    val expected = orders.filter(col("o_orderkey") < 1 || col("o_orderkey") > 5)
    assert(same(TxLog.snapshot(spark, dir), expected))
    // v0's files are gone: reading it must fail, not silently mis-read
    intercept[Throwable] { TxLog.snapshot(spark, dir, 0).count() }
    assert(TxLog.vacuum(spark, dir, retainVersions = 1) == 0) // idempotent
    // the log itself was bounded: only the horizon survives, seeded by
    // its checkpoint, and the retained version still reads exactly
    assert(TxLog.currentVersion(spark, dir) == 2)
    assert(same(TxLog.snapshot(spark, dir, 2), expected))
  }

  test("orphan data files (crashed pre-commit writer) are invisible and vacuum-safe") {
    val dir = freshTable()
    TxLog.convert(spark, dir)
    val fs = Compact.fsOf(spark, dir)
    // a writer crashed after moving its file in but before committing:
    // the file exists on disk but no version references it
    val orphan = new org.apache.hadoop.fs.Path(dir, "part-orphan.parquet")
    fs.create(orphan, true).close()
    assert(same(TxLog.snapshot(spark, dir), orders)) // invisible to reads
    TxLog.vacuum(spark, dir, retainVersions = 1)
    assert(fs.exists(orphan)) // never logged => never swept by default
    // the opt-in age-gated sweep: a fresh orphan survives (could be an
    // in-flight writer)…
    TxLog.vacuum(spark, dir, retainVersions = 1,
      sweepOrphansOlderThanMs = 3600L * 1000)
    assert(fs.exists(orphan))
    // …but one older than the window is a dead writer's leavings
    fs.setTimes(orphan, System.currentTimeMillis() - 7200L * 1000, -1)
    val swept = TxLog.vacuum(spark, dir, retainVersions = 1,
      sweepOrphansOlderThanMs = 3600L * 1000)
    assert(swept == 1 && !fs.exists(orphan))
    assert(same(TxLog.snapshot(spark, dir), orders)) // table untouched
  }

  test("checkpoint seeds later reads; pre-checkpoint versions still time-travel") {
    val dir = freshTable()
    TxLog.convert(spark, dir)
    DeleteWhere.range(spark, dir, "o_orderkey", 1.0, 5.0, None) // v1
    val liveBefore = TxLog.liveFiles(spark, dir).toSet
    assert(TxLog.checkpoint(spark, dir) == 1)
    assert(TxLog.checkpoint(spark, dir) == 1) // idempotent
    Compact.binPack(spark, dir, targetBytes = 64L << 20,
      smallBytes = 64L << 20) // v2, reads THROUGH the checkpoint seed
    assert(TxLog.liveFiles(spark, dir, 1).toSet == liveBefore)
    assert(same(TxLog.snapshot(spark, dir, 0), orders)) // pre-checkpoint
    val expected = orders.filter(col("o_orderkey") < 1 || col("o_orderkey") > 5)
    assert(same(TxLog.snapshot(spark, dir, 2), expected))
  }

  test("restore rolls back as a new commit; history and files stay put") {
    val dir = freshTable()
    TxLog.convert(spark, dir)
    DeleteWhere.range(spark, dir, "o_orderkey", 1.0, 500.0, None) // v1: the bad delete
    assert(TxLog.snapshot(spark, dir).count() < orders.count())
    val v = TxLog.restore(spark, dir, 0)
    assert(v == 2)
    assert(same(TxLog.snapshot(spark, dir), orders)) // back to v0's state
    val expected = orders.filter(col("o_orderkey") < 1 || col("o_orderkey") > 500)
    assert(same(TxLog.snapshot(spark, dir, 1), expected)) // bad version inspectable
    // after vacuum drops v0's era... restore still fine here since v2 references them
    TxLog.vacuum(spark, dir, retainVersions = 1)
    assert(same(TxLog.snapshot(spark, dir), orders))
  }

  test("contended commits: concurrent racers each land a distinct version, nothing is lost") {
    val dir = freshTable()
    TxLog.convert(spark, dir)
    // 4 writers × 5 commits, started through a barrier so every round
    // genuinely races the claim of the same version number. Under the
    // old exists-check + FileSystem.rename protocol (POSIX rename
    // overwrites) two racers could both "win" and one ADD would vanish
    // from the log; the atomic claim forces losers to retry.
    val nWriters = 4
    val perWriter = 5
    val barrier = new java.util.concurrent.CyclicBarrier(nWriters)
    val versionsWon = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val failures = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          (0 until perWriter).foreach { i =>
            barrier.await()
            val v = TxLog.commit(spark, dir,
              adds = Seq(f"race-$w-$i.parquet"), removes = Nil)
            assert(versionsWon.add(v), s"version $v won twice")
          }
        } catch { case t: Throwable => failures.compareAndSet(null, t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(failures.get() == null, s"writer failed: ${failures.get()}")
    // every commit landed at its own version; none overwrote another
    assert(versionsWon.size == nWriters * perWriter)
    assert(TxLog.currentVersion(spark, dir) == nWriters * perWriter)
    val live = TxLog.liveFiles(spark, dir).toSet
    for (w <- 0 until nWriters; i <- 0 until perWriter)
      assert(live.contains(f"race-$w-$i.parquet"), s"lost commit race-$w-$i")
  }

  test("diff between versions equals the snapshot multiset difference, reading only changed files") {
    val dir = freshTable()
    TxLog.convert(spark, dir)
    val up = orders.filter(col("o_orderkey").isin(10L, 11L, 12L))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    UpsertWhere.byKeys(spark, dir, "o_orderkey", up, None) // v1
    DeleteWhere.range(spark, dir, "o_orderkey", 20.0, 40.0, None) // v2
    val d = TxLog.diff(spark, dir, 0, 2)
    // cross-check against the expensive definition on full snapshots
    val s0 = TxLog.snapshot(spark, dir, 0)
    val s2 = TxLog.snapshot(spark, dir, 2)
    val cols = s0.columns.map(col)
    val ins = d.filter(col("_change_type") === "insert").select(cols: _*)
    val del = d.filter(col("_change_type") === "delete").select(cols: _*)
    assert(ins.exceptAll(s2.exceptAll(s0)).isEmpty &&
      s2.exceptAll(s0).exceptAll(ins).isEmpty)
    assert(del.exceptAll(s0.exceptAll(s2)).isEmpty &&
      s0.exceptAll(s2).exceptAll(del).isEmpty)
    // an upserted key shows as its delete+insert pair
    assert(d.filter(col("o_orderkey") === 10L).count() == 2)
    // compaction-only movement cancels: diff(v2, v3) after a pack is empty
    Compact.binPack(spark, dir, targetBytes = 64L << 20,
      smallBytes = 64L << 20) // v3
    assert(TxLog.diff(spark, dir, 2, 3).isEmpty)
    // identity diff is empty too
    assert(TxLog.diff(spark, dir, 2, 2).isEmpty)
  }

  test("history lists retained commits newest-first with their txn ids") {
    val dir = freshTable()
    TxLog.convert(spark, dir)
    graft.streaming.TxLogIngest.appendSink(dir)(
      orders.filter(col("o_orderkey") < 10), 7L)
    val h = TxLog.history(spark, dir).collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 0))
    assert(h(0).getAs[String]("txn") == "epoch_7")
    assert(h(0).getAs[String]("operation") == "stream-append")
    assert(h(1).getAs[String]("operation") == "convert")
    assert(h(1).getAs[Int]("n_adds") == 8 &&
      h(1).getAs[Int]("n_removes") == 0) // v0: 8 adds
  }

  test("schema evolution: an appended wider epoch reads via mergeSchema, old rows NULL-fill") {
    import spark.implicits._
    val dir = Files.createTempDirectory("txlog_ev").toString + "/t"
    graft.streaming.TxLogIngest.appendSink(dir)(
      Seq((1L, "a")).toDF("k", "v"), 0L)
    graft.streaming.TxLogIngest.appendSink(dir)(
      Seq((2L, "b", 7.5)).toDF("k", "v", "score"), 1L)
    val merged = TxLog.snapshot(spark, dir)
    assert(merged.columns.toSet == Set("k", "v", "score"))
    val rows = merged.orderBy("k").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score"))) // old epoch NULL-fills
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) == 7.5)
  }

  test("stats-carrying ADD entries: a selective read plans from the log alone") {
    import spark.implicits._
    val dir = Files.createTempDirectory("txlog_stats").toString + "/t"
    TxLog.convert(spark, dir)
    TxLog.setStatsColumns(spark, dir, Seq("k"))
    // 8 sorted epochs, each a disjoint key range → every commit embeds
    // its file's [min,max] in the ADD entry
    (0 until 8).foreach { e =>
      graft.streaming.TxLogIngest.appendSink(dir)(
        spark.range(e * 1000L, (e + 1) * 1000L)
          .select(col("id").as("k"), (col("id") % 7).as("v")).coalesce(1),
        e.toLong)
    }
    // the log alone prunes: a one-epoch range admits only that file
    val cand = TxLog.candidateFilesFromLog(spark, dir, "k", 2100.0, 2900.0)
    assert(cand.length == 1, s"expected 1 candidate, got ${cand.length}")
    val pruned = TxLog.snapshotPruned(spark, dir, "k", 2100.0, 2900.0)
    assert(pruned.inputFiles.length == 1) // touched exactly the match
    val direct = TxLog.snapshot(spark, dir)
      .filter(col("k") >= 2100 && col("k") <= 2900)
    assert(pruned.exceptAll(direct).isEmpty && direct.exceptAll(pruned).isEmpty)
    // stats survive the checkpoint + log-pruning vacuum
    TxLog.checkpoint(spark, dir)
    TxLog.vacuum(spark, dir, retainVersions = 2)
    assert(TxLog.candidateFilesFromLog(spark, dir, "k", 2100.0, 2900.0)
      .length == 1)
    // compaction's replacement entries carry fresh stats: pack the
    // 8-file tail into one clustered file set, pruning still works
    Compact.binPack(spark, dir, targetBytes = 8L << 10,
      smallBytes = 32L << 20, sortCols = Seq("k"))
    val cand2 = TxLog.candidateFilesFromLog(spark, dir, "k", 2100.0, 2900.0)
    assert(cand2.length < TxLog.liveFiles(spark, dir).length,
      s"${cand2.length} of ${TxLog.liveFiles(spark, dir).length}")
    val pruned2 = TxLog.snapshotPruned(spark, dir, "k", 2100.0, 2900.0)
    assert(pruned2.exceptAll(direct).isEmpty && direct.exceptAll(pruned2).isEmpty)
    // a column never declared is never pruned (unknown keeps all)
    assert(TxLog.candidateFilesFromLog(spark, dir, "v", 100.0, 101.0).length ==
      TxLog.liveFiles(spark, dir).length)
  }

  test("partitioned table: convert keeps prefixes; compacting one partition leaves the other untouched in the log") {
    import spark.implicits._
    val dir = Files.createTempDirectory("txlog_part").toString + "/t"
    val df = spark.range(2000)
      .select(col("id").as("k"), (col("id") % 2).cast("int").as("p"))
    df.repartition(4).write.partitionBy("p").parquet(dir)
    TxLog.convert(spark, dir)
    val entries0 = TxLog.liveFiles(spark, dir)
    assert(entries0.nonEmpty && entries0.forall(n =>
      n.startsWith("p=0/") || n.startsWith("p=1/")))
    // snapshot keeps the partition column via basePath
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.columns.toSet == Set("k", "p"))
    assert(snap.exceptAll(df).isEmpty && df.exceptAll(snap).isEmpty)

    val p1Before = entries0.filter(_.startsWith("p=1/")).toSet
    val r = Compact.binPack(spark, dir, targetBytes = 128L << 20,
      smallBytes = 32L << 20, partition = Some("p=0"))
    assert(r.packed >= 2, s"packed ${r.packed}") // p=0's small tail packed
    val after = TxLog.liveFiles(spark, dir)
    // p=1's entries rode through the commit untouched
    assert(after.filter(_.startsWith("p=1/")).toSet == p1Before)
    val p0After = after.filter(_.startsWith("p=0/"))
    assert(p0After.length < entries0.count(_.startsWith("p=0/")))
    // the packed replacement landed INSIDE the partition dir
    assert(p0After.forall(_.startsWith("p=0/")))
    val snap2 = TxLog.snapshot(spark, dir)
    assert(snap2.exceptAll(df).isEmpty && df.exceptAll(snap2).isEmpty)
    // vacuum reclaims only p=0's superseded files, recursively
    val deleted = TxLog.vacuum(spark, dir, retainVersions = 1)
    assert(deleted > 0)
    val snap3 = TxLog.snapshot(spark, dir)
    assert(snap3.exceptAll(df).isEmpty && df.exceptAll(snap3).isEmpty)
    // whole-table pack on a partitioned log table packs EACH partition
    // in place — never across (that would drop the path-encoded column)
    val rAll = Compact.binPack(spark, dir, targetBytes = 128L << 20,
      smallBytes = 32L << 20, sortCols = Seq("k")) // cluster within each
    assert(rAll.packed >= 2)
    val packed = TxLog.liveFiles(spark, dir)
    assert(packed.forall(n => n.startsWith("p=0/") || n.startsWith("p=1/")),
      s"root-level leak: $packed")
    val snap4 = TxLog.snapshot(spark, dir)
    assert(snap4.exceptAll(df).isEmpty && df.exceptAll(snap4).isEmpty)
  }

  test("CHECK constraints gate every write path; violations commit nothing; NULL passes; droppable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("txlog_check").toString + "/t"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1).write.parquet(dir)
    TxLog.convert(spark, dir)
    TxLog.setCheckConstraints(spark, dir, Seq("v >= 0", "k IS NOT NULL"))

    // a valid merge lands
    UpsertWhere.byKeys(spark, dir, "k", Seq((3L, 30L)).toDF("k", "v"), None)
    assert(TxLog.snapshot(spark, dir).count() == 3)
    val v = TxLog.currentVersion(spark, dir)

    // a violating merge raises and commits NOTHING (state + version)
    intercept[TxLog.ConstraintViolation] {
      UpsertWhere.byKeys(spark, dir, "k",
        Seq((4L, -5L)).toDF("k", "v"), None)
    }
    assert(TxLog.currentVersion(spark, dir) == v)
    assert(TxLog.snapshot(spark, dir).count() == 3)

    // the distributed path and the CDC apply are gated too
    intercept[TxLog.ConstraintViolation] {
      UpsertWhere.byKeysDistributed(spark, dir, "k",
        Seq((5L, -1L)).toDF("k", "v"), None)
    }
    intercept[TxLog.ConstraintViolation] {
      UpsertWhere.applyChanges(spark, dir, "k",
        Seq((5L, -1L, "insert")).toDF("k", "v", "change_type"), None)
    }
    // …and the streaming epoch sink
    intercept[TxLog.ConstraintViolation] {
      graft.streaming.TxLogIngest.appendSink(dir)(
        Seq((6L, -2L)).toDF("k", "v"), 99L)
    }
    assert(TxLog.currentVersion(spark, dir) == v)

    // SQL CHECK semantics: NULL evaluates unknown, which PASSES
    UpsertWhere.byKeys(spark, dir, "k",
      Seq[(Long, java.lang.Long)]((7L, null)).toDF("k", "v"), None)
    assert(TxLog.snapshot(spark, dir).count() == 4)

    // dropping the constraints re-admits the write
    TxLog.setCheckConstraints(spark, dir, Nil)
    UpsertWhere.byKeys(spark, dir, "k", Seq((4L, -5L)).toDF("k", "v"), None)
    assert(TxLog.snapshot(spark, dir).filter(col("v") === -5L).count() == 1)
  }

  test("replicateTo: a downstream table follows the source log; replay and the retention cliff heal") {
    val src = freshTable()
    TxLog.convert(spark, src)
    val dst = Files.createTempDirectory("txrepl").toString + "/d"

    // seed: full resync into an empty destination
    assert(TxLog.replicateTo(spark, src, dst, "o_orderkey") == ((-1, 0)))
    assert(same(TxLog.snapshot(spark, dst), orders))

    // commits land on the source; one advance carries them all
    val up = orders.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    UpsertWhere.byKeys(spark, src, "o_orderkey", up, None) // v1
    DeleteWhere.byKeys(spark, src, "o_orderkey", Seq[Any](1L, 2L, 3L), None) // v2
    assert(TxLog.replicateTo(spark, src, dst, "o_orderkey") == ((0, 2)))
    assert(same(TxLog.snapshot(spark, dst), TxLog.snapshot(spark, src)))
    // nothing new: no-op
    assert(TxLog.replicateTo(spark, src, dst, "o_orderkey") == ((2, 2)))

    // crash between apply and cursor re-pin: re-applying the SAME feed
    // is idempotent (keyed net application), destination unchanged
    val dstV = TxLog.currentVersion(spark, dst)
    UpsertWhere.applyChanges(spark, dst, "o_orderkey",
      TxLog.asChangeFeed(TxLog.diff(spark, src, 0, 2)))
    assert(same(TxLog.snapshot(spark, dst), TxLog.snapshot(spark, src)))
    assert(TxLog.currentVersion(spark, dst) == dstV + 1) // a commit, same state

    // retention cliff: vacuum prunes the cursor's source version →
    // the next advance takes the one-commit full resync
    DeleteWhere.byKeys(spark, src, "o_orderkey", Seq[Any](9L), None) // v3
    TxLog.vacuum(spark, src, retainVersions = 1)
    val (f2, t2) = TxLog.replicateTo(spark, src, dst, "o_orderkey")
    assert(t2 == 3)
    assert(same(TxLog.snapshot(spark, dst), TxLog.snapshot(spark, src)))
    // and incremental advances resume from the reseeded cursor
    DeleteWhere.byKeys(spark, src, "o_orderkey", Seq[Any](12L), None) // v4
    assert(TxLog.replicateTo(spark, src, dst, "o_orderkey") == ((3, 4)))
    assert(same(TxLog.snapshot(spark, dst), TxLog.snapshot(spark, src)))
  }

  test("write-write conflict on the same file is rejected, not silently lost") {
    val dir = freshTable()
    TxLog.convert(spark, dir)
    val victim = TxLog.liveFiles(spark, dir).head
    // writer B replaces the file first
    TxLog.commit(spark, dir, adds = Seq("b-replacement.parquet"),
      removes = Seq(victim))
    // writer A, computed against v0, tries to replace the SAME file:
    // committing would resurrect rows B deleted
    intercept[java.util.ConcurrentModificationException] {
      TxLog.commit(spark, dir, adds = Seq("a-replacement.parquet"),
        removes = Seq(victim))
    }
    // disjoint rewrites are not conflicts
    val other = TxLog.liveFiles(spark, dir).filter(_ != "b-replacement.parquet").head
    TxLog.commit(spark, dir, adds = Seq("a2.parquet"), removes = Seq(other))
    assert(TxLog.currentVersion(spark, dir) == 2)
  }
}
