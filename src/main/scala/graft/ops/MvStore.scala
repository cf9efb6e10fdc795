package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.TableStore

/** Stored incremental materialized view, maintained from a change
  * feed — the state machine that turns a [[Scd2.changes]]-shaped feed
  * into a PERSISTED aggregate that never rescans its source: seed once
  * from a snapshot, then each refresh applies one signed delta
  * (inserts/postimages add, preimages/deletes subtract) to only the
  * shards the delta touches. The delta algebra — the signed group
  * delta and the null-safe state fold — is [[StarDelta]]'s, shared
  * with [[DbMv]]. Count and sum are self-inverse under signed deltas;
  * min/max are not (a deleted minimum is unrecoverable without the
  * source), so they are opt-in and a removal recomputes its group
  * from the caller's post-change rows.
  *
  * Same storage discipline as every state machine in this repo:
  * group-hash sharded cells, touched-shard-only rewrites, the
  * [[RollupStore]] writer fence, and stamp-probe replay detection
  * (any touched row stamped with the batch key proves the whole
  * refresh landed — rewrites are atomic per shard set). Groups whose
  * count reaches zero are REMOVED, so the state stays ndv-of-groups
  * sized through any churn.
  *
  * 100 TB shape: refresh cost is O(delta + touched shards' state
  * rows). A dimension churning 0.1% per batch touches ~0.1% of
  * shards; the MV never reads the other 99.9%, and never the source.
  * Round-9 probe at a 300k-key dimension: seed 1.4 s, refresh from a
  * 0.1% change feed 2.8 s (CDC derivation included) — both flat in
  * dimension size beyond the seed's one scan.
  */
object MvStore {

  private def stateTable(name: String) = s"${name}__mv"
  private def metaTable(name: String) = s"${name}__mv_meta"

  // fixed one-row control-table schema: a pinned read skips the
  // plan-time footer-inference job (see [[TableStore.read(name,
  // schema)]])
  private val MetaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_shards",
      org.apache.spark.sql.types.IntegerType)))

  private def cellOf(keys: Seq[String], nShards: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(nShards.toLong)).cast("int")

  private def sumCol(m: String) = s"sum_$m"

  // the delta's order-independent content key (the implicit batch id
  // when the caller passes none) is computed inside [[refresh]]'s
  // fused bookkeeping aggregate: c<count>h<xor of row hashes> over
  // (groupCols, d_n, d_<m>…)

  def exists(store: TableStore, name: String): Boolean =
    store.exists(metaTable(name))

  /** Seed the view from the source's CURRENT rows (aggregated here —
    * one scan, the only source scan the view ever takes).
    */
  def init(
      store: TableStore,
      name: String,
      rows: DataFrame,
      groupCols: Seq[String],
      sumCols: Seq[String],
      nShards: Int = 0,
      batchId: String = "init",
      minMaxCols: Seq[String] = Nil): Unit = {
    require(groupCols.nonEmpty)
    val spark = rows.sparkSession
    import spark.implicits._
    RollupStore.acquireFence(store, name, spark, "mv-init")
    try {
      // default (0): size shards to the GROUP cardinality — the state
      // is ndv-of-groups rows, and a fixed 64 would scatter a
      // few-hundred-group view into 64 tiny files per refresh. One
      // shard per ~16k groups (the measured file-overhead balance
      // from the SCD2 shard probe), power of two, capped at 4096.
      val shards =
        if (nShards > 0) nShards
        else {
          val g = rows.select(groupCols.map(col): _*).distinct().count()
          math.min(4096L, java.lang.Long.highestOneBit(
            math.max(1L, (g + (1L << 14) - 1) / (1L << 14)) * 2 - 1)).toInt
        }
      // sums are stored as double from the start: refresh arithmetic
      // coalesces with 0.0, and a long-sum seed would leave touched
      // shards double against untouched long (parquet schema drift)
      val aggs = (count(lit(1)).as("n") +:
        sumCols.map(m => sum(col(m).cast("double")).as(sumCol(m)))) ++
        StarDelta.extremeAggs(minMaxCols)
      val state = rows.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("cell", cellOf(groupCols, shards))
        .withColumn("last_batch", lit(batchId))
      store.overwritePartitioned(state, stateTable(name), "cell")
      store.overwrite(Seq(shards).toDF("n_shards"), metaTable(name))
    } finally RollupStore.releaseFence(store, name, spark)
  }

  /** Apply one change-feed batch ([[Scd2.changes]] schema). Returns
    * the number of groups touched, or -1 when the batch was
    * recognized as a replay (state untouched).
    *
    * min/max maintenance (when the view was seeded with
    * `minMaxCols`): additions are GROW-ONLY (least/greatest against
    * the batch's insert/postimage values — no source read), but a
    * removal can invalidate a stored extreme, so groups hit by a
    * preimage/delete row are marked DIRTY and recomputed from
    * `current` — the source's post-change live rows (e.g.
    * [[Scd2.current]] after the merge) — pruned to the dirty groups
    * by a semi join. Refresh cost becomes O(delta + touched shards +
    * rows of dirty groups): the standard IVM answer for
    * non-invertible aggregates, and the reason min/max are opt-in.
    */
  def refresh(
      store: TableStore,
      name: String,
      feed: DataFrame,
      groupCols: Seq[String],
      sumCols: Seq[String],
      batchId: Option[String] = None,
      minMaxCols: Seq[String] = Nil,
      current: Option[DataFrame] = None): Long = {
    require(store.exists(metaTable(name)), s"mv '$name' not initialized")
    require(minMaxCols.isEmpty || current.nonEmpty,
      "min/max maintenance needs the source's post-change rows (current=)")
    val spark = feed.sparkSession
    val nShards = store.read(metaTable(name), MetaSchema).head().getInt(0)
    RollupStore.acquireFence(store, name, spark, "mv-refresh")
    try {
      // ONE groupBy carries the signed sums AND the grow/dirty
      // aggregates ([[StarDelta.groupDelta]]); sums stay `sign × m` in
      // m's own arithmetic — the replay stamp below hashes them
      val adds = col("change_type").isin("insert", "update_postimage")
      // the pinned delta's own job observes every bookkeeping probe
      // of the refresh — touched cells, the content key's (count,
      // xor-hash), the dirty-group flag, and the group count the call
      // returns ([[RelationalOps.pin]]). The content key is the one
      // earlier refreshes stamped (the xor of xxhash64 over the group
      // keys, d_n and the d_ sums), so their replay stamps keep
      // matching.
      val hashed = xxhash64(
        (groupCols ++ Seq("d_n") ++ sumCols.map(m => s"d_$m")).map(col): _*)
      val (delta, pr) = RelationalOps.pin(
        StarDelta.groupDelta(feed, groupCols, adds,
            sumCols.map(m => m -> StarDelta.sign(adds) * col(m)), minMaxCols)
          .withColumn("cell", cellOf(groupCols, nShards)),
        collect_set(col("cell").cast("string")),
        count(lit(1)),
        coalesce(bit_xor(hashed), lit(0L)),
        count(when(col("__dirty") === 1, lit(1))))
      val touched: Seq[String] = pr.getSeq[String](0)
      if (touched.isEmpty) return 0L
      val groupsTouched = pr.getLong(1)
      val bk = batchId.getOrElse(s"c${groupsTouched}h${pr.getLong(2)}")
      val anyDirty = minMaxCols.nonEmpty && pr.getLong(3) > 0L
      val st = stateTable(name)
      val stored = store.read(st)
        .filter(col("cell").cast("string").isin(touched: _*))
      if (stored.filter(col("last_batch") === bk).limit(1).count() > 0)
        return -1L
      // dirty groups re-derive their extremes from the pruned
      // post-change source; a GROW-ONLY batch (no delete/preimage row —
      // the common append advance) never reads it: the pin's probe
      // above already answered whether any group is dirty
      val merged = StarDelta.fold(
          stored.drop("cell", "last_batch"), delta.drop("cell"), groupCols,
          "n", sumCols.map(m => sumCol(m) -> s"d_$m"), minMaxCols,
          anyDirty = Some(anyDirty), current = current.orNull)
        .filter(col("n") > 0) // emptied groups leave the state
        .withColumn("cell", cellOf(groupCols, nShards))
        .withColumn("last_batch", lit(bk))
      store.rewritePartitioned(merged, st, "cell", touched)
      groupsTouched
    } finally RollupStore.releaseFence(store, name, spark)
  }

  /** The view. */
  def read(store: TableStore, name: String): DataFrame =
    store.read(stateTable(name)).drop("cell", "last_batch")

  private def cursorTable(name: String) = s"${name}__mv_cursor"

  /** Keep this view CONTINUOUSLY in step with a [[TxLog]]-managed
    * table — the log→MV loop closed: each call advances the view from
    * its persisted cursor (the last applied log version) to the
    * table's current version via [[TxLog.diffSince]], so commits land
    * and the consumer follows without anyone hand-listing version
    * pairs. Returns (fromVersion, toVersion) of the advance
    * (from == to: nothing new).
    *
    * First call seeds the view from the current snapshot and pins the
    * cursor there. Crash safety: the cursor is persisted AFTER the
    * refresh, and the refresh is stamped with the version range — a
    * crash between the two replays the same range on the next call,
    * the stamp recognizes it, and only the cursor write repeats.
    * Exactly-once effect, at-least-once execution.
    *
    * If vacuum's log pruning has dropped the cursor version (the
    * consumer fell behind the retention horizon — the standard
    * CDF-retention contract), the view RESEEDS from the current
    * snapshot rather than failing forever; size `retainVersions`
    * to the follower's cadence to avoid the reseed scan.
    *
    * 100 TB shape: each advance reads O(files changed since the
    * cursor) + touched MV shards; the follower's steady-state cost is
    * the table's churn, not its size.
    */
  def followTxLog(
      store: TableStore,
      name: String,
      dir: String,
      groupCols: Seq[String],
      sumCols: Seq[String]): (Int, Int) = {
    val spark = store.spark
    import spark.implicits._
    val cur = TxLog.currentVersion(spark, dir)
    def pinCursor(v: Int): Unit =
      store.overwrite(Seq(v).toDF("version"), cursorTable(name))
    if (!exists(store, name) || !store.exists(cursorTable(name))) {
      init(store, name, TxLog.snapshot(spark, dir, cur),
        groupCols, sumCols, batchId = s"seed_v$cur")
      pinCursor(cur)
      return (cur, cur)
    }
    val from = store.read(cursorTable(name),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.IntegerType)))).head().getInt(0)
    if (from == cur) return (from, cur)
    if (!TxLog.retainedVersions(spark, dir).contains(from)) {
      // fell behind the retention horizon: the feed from `from` is
      // gone — reseed from the snapshot (one scan), re-pin
      init(store, name, TxLog.snapshot(spark, dir, cur),
        groupCols, sumCols, batchId = s"seed_v$cur")
      pinCursor(cur)
      return (from, cur)
    }
    // PENDING INTENT (the JoinMv.followStar protocol): the advance's
    // TARGET version persists BEFORE the refresh, so a retry after a
    // crash-between-refresh-and-cursor resumes the EXACT stamped
    // window — without it, a commit landing between crash and retry
    // changes the batch id, the stamp is not recognized, and the old
    // window's delta applies TWICE. A pending row is live only while
    // `from` still equals its window start (the cursor moving makes
    // it stale — no cleanup write); a pending target pruned by a
    // racing vacuum falls back to the live version.
    val pendingT = s"${name}__mv_pending"
    val to: Int = {
      // the pending slot is a MARKER (file on the parquet backend —
      // zero Spark jobs; the former 1-row-table overwrite + read were
      // two more jobs per advance), the window in the token as "f:t".
      // TOLERANT read: a crash inside the marker write itself must
      // read as NO pending — that window's refresh provably had not
      // started, so resuming at the live version is correct — never
      // as a permanent wedge on an unreadable slot. (Same protocol in
      // JoinMv.followStar; legacy TABLE-protocol slots read through
      // the fallback below, once.)
      val window: Option[(Int, Int)] =
        scala.util.Try(store.markerHolder(pendingT)).toOption.flatten
          .flatMap(PendingMarker.decode).flatMap(_.headOption)
          .orElse {
            if (!store.exists(pendingT)) None
            else scala.util.Try {
              val r = store.read(pendingT,
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField("fromv",
                    org.apache.spark.sql.types.IntegerType),
                  org.apache.spark.sql.types.StructField("tov",
                    org.apache.spark.sql.types.IntegerType)))).head()
              (r.getInt(0), r.getInt(1))
            }.toOption
          }
      val resumed = window.flatMap { case (f, t) =>
        if (f == from && TxLog.retainedVersions(spark, dir).contains(t))
          Some(t)
        else None
      }
      resumed.getOrElse(cur)
    }
    if (from == to) return (from, to)
    store.markerSet(pendingT, PendingMarker.encode(Seq((from, to))))
    refresh(store, name,
      TxLog.asChangeFeed(TxLog.diff(spark, dir, from, to)),
      groupCols, sumCols, batchId = Some(s"v${from}_to_$to"))
    pinCursor(to)
    (from, to)
  }
}
