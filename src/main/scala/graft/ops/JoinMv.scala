package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.TableStore

/** Incremental materialized view over a TWO-TABLE equi-join — the
  * aggregate-over-join shape ("revenue by customer segment") kept in
  * step with BOTH source tables' transaction logs without ever
  * rescanning the join. The delta algebra is the classic incremental
  * view maintenance identity
  *
  *     Δ(F ⋈ D)  =  ΔF ⋈ D_new  +  F_old ⋈ ΔD
  *
  * which is EXACT: the cross term ΔF ⋈ ΔD lands inside the first
  * summand because ΔF joins the dimension at its NEW version, while
  * the second summand joins the dim delta against the fact at its OLD
  * version — no row is double-counted however the two tables churned
  * within one advance. Both summands are signed change-feed rows
  * (insert/postimage add, delete/preimage subtract), unioned into ONE
  * [[MvStore.refresh]] batch over the same sharded count/sum state —
  * so replay detection, the writer fence, touched-shard-only rewrites
  * and zero-group removal are inherited, not re-implemented.
  *
  * Cursors for BOTH logs persist in the store; crash between refresh
  * and cursor write replays the same version window and the batch
  * stamp recognizes it (exactly-once effect, at-least-once
  * execution). A cursor that fell behind either log's retention
  * horizon reseeds from the current snapshots — the standard
  * CDF-retention contract, same as [[MvStore.followTxLog]].
  *
  * 100 TB shape: the fact-side term costs O(fact churn) joined to the
  * dimension (broadcast when small). The dim-side term is the
  * inherent IVM cost — a changed dimension row must revisit every old
  * fact row it joins — but the fact scan PRUNES to the changed keys'
  * stats range when the fact declares log-carried stats on the join
  * key ([[TxLog.snapshotPruned]]); a dim batch with no changes skips
  * the fact entirely. Neither term ever reads the view's untouched
  * shards, and the view itself stays ndv-of-groups sized.
  */
/** Codec for pending-intent MARKER tokens: the advance's (from, to)
  * version windows in table order, "f:t,f:t,…". Decode is tolerant —
  * any malformed token reads as None, the documented "no pending"
  * (that window's refresh provably had not started).
  */
private[ops] object PendingMarker {
  def encode(ws: Seq[(Int, Int)]): String =
    ws.map { case (f, t) => s"$f:$t" }.mkString(",")
  def decode(tok: String): Option[Seq[(Int, Int)]] =
    scala.util.Try(tok.split(",").toSeq.map { p =>
      val Array(f, t) = p.split(":")
      (f.toInt, t.toInt)
    }).toOption.filter(_.nonEmpty)
}

object JoinMv {

  /** The pre-star two-table cursor's table name — kept only so
    * [[follow]] can ADOPT a surviving view built before the star
    * generalization instead of silently full-reseeding it.
    */
  private def legacyCursorTable(name: String) = s"${name}__jmv_cursor"

  /** The view (same state as any [[MvStore]] view). */
  def read(store: TableStore, name: String): DataFrame =
    MvStore.read(store, name)

  /** Advance (or seed) the view to both tables' current versions.
    * `joinKeys` are USING-style columns spelled identically on both
    * sides; `groupCols`/`sumCols` may come from either side but must
    * be unambiguous after the join. Returns ((factFrom, factTo),
    * (dimFrom, dimTo)) — from == to on a side means nothing new
    * there.
    *
    * `minMaxCols` opts the view into MIN/MAX measures —
    * [[MvStore]]'s grow-only/dirty-recompute discipline carried
    * through the join: additions grow the stored extremes in place
    * (no source read), while a group hit by any delete/preimage row
    * re-derives its extremes from the POST-CHANGE JOINED state
    * (F_new ⋈ D_new, semi-join-pruned to the dirty groups inside
    * [[MvStore.refresh]]) — the standard IVM answer for
    * non-invertible aggregates, now over two tables.
    */
  def follow(
      store: TableStore,
      name: String,
      factDir: String,
      dimDir: String,
      joinKeys: Seq[String],
      groupCols: Seq[String],
      sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil): ((Int, Int), (Int, Int)) = {
    // MIGRATION: a view built by the pre-star follow persists its
    // cursor as `__jmv_cursor` (fact_v, dim_v). Adopt it into the
    // star cursor ONCE — identity columns take this call's tables and
    // keys, the same trust the legacy cursor carried (it stored none)
    // — so the view advances incrementally instead of full-reseeding.
    // The legacy table is left in place, inert (the star cursor's
    // existence gates this branch off forever after).
    if (MvStore.exists(store, name) &&
        !store.exists(cursorStarTable(name)) &&
        store.exists(legacyCursorTable(name))) {
      val spark = store.spark
      import spark.implicits._
      val r = store.read(legacyCursorTable(name))
        .select("fact_v", "dim_v").head()
      store.overwrite(Seq(
        (0, r.getInt(0), factDir, ""),
        (1, r.getInt(1), dimDir, joinKeys.mkString(",")))
        .toDF("idx", "ver", "tbl", "keys"), cursorStarTable(name))
    }
    // the two-table form IS the one-dim star — one cursor machinery,
    // one pending-intent protocol, one delta construction
    val rs = followStar(store, name, factDir, Seq((dimDir, joinKeys)),
      groupCols, sumCols, minMaxCols)
    (rs(0), rs(1))
  }

  /** The key a term's OLD-side scan of `whole` (the fact at the
    * window start) can be pruned on, with the column its feed's bounds
    * are taken over: the (single) join key when it is a column OF THIS
    * TABLE with usable bounds — numeric with declared log stats (as a
    * double) or a string. Otherwise `None`: the scan reads whole (a
    * snowflake key the delta joins on a column an earlier dim produced,
    * or a key no stats serve).
    */
  private def pruneKey(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      whole: DataFrame,
      keys: Seq[String]): Option[(String, Column)] = keys match {
    case Seq(k) if whole.columns.contains(k) =>
      whole.schema(k).dataType match {
        case _: org.apache.spark.sql.types.NumericType
            if TxLog.statsColumns(spark, dir).contains(k) =>
          Some(k -> col(k).cast("double"))
        case org.apache.spark.sql.types.StringType => Some(k -> col(k))
        case _ => None
      }
    case _ => None
  }

  /** The OLD-side scan of `dir` for a term, pruned on `key`
    * ([[pruneKey]]) by the bounds its feed's pin observed (`observed`,
    * a [[StarDelta.boundsProbes]] row): numeric → file-level
    * [[TxLog.snapshotPruned]] over the changed keys' widened
    * [min, max] (1 ULP out each side — the double cast rounds
    * integral keys past 2^53); string → FILE-level skipping from the
    * footers' lexicographic manifest ([[TxLog.snapshotPrunedString]],
    * unsigned UTF-8 order, the same total order Spark compares in)
    * plus the residual range predicate row-group stats serve inside
    * the surviving files. Without a key the scan reads whole; an empty
    * delta reads nothing.
    */
  private def prunedOld(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      fromV: Int,
      whole: DataFrame,
      key: Option[String],
      observed: Row): DataFrame =
    (StarDelta.oldFactBounds(observed), key) match {
      case (None, _) => whole.limit(0)
      case (Some(Seq((lo: Double, hi: Double))), Some(k)) =>
        TxLog.snapshotPruned(spark, dir, k,
          Math.nextDown(lo), Math.nextUp(hi), fromV)
      case (Some(Seq((lo: String, hi: String))), Some(k)) =>
        // FILE-level skipping from the footers' lexicographic
        // manifest (unsigned UTF-8 order — Spark's own string order),
        // then the residual range predicate row-group stats serve
        // inside the survivors: an unclustered fact skips whole
        // files, not just row groups
        TxLog.snapshotPrunedString(spark, dir, k, lo, hi, fromV)
      case _ => whole
    }

  private def cursorStarTable(name: String) = s"${name}__jmvs_cursor"

  // fixed control-table schemas — pinned reads skip the plan-time
  // footer-inference job (see [[graft.sources.TableStore]])
  private val CursorStarSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("idx",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("ver",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("tbl",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("keys",
      org.apache.spark.sql.types.StringType)))
  private val PendingSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("idx",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("fromv",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("tov",
      org.apache.spark.sql.types.IntegerType)))

  /** N-TABLE incremental join view — the star/snowflake
    * generalization of [[follow]]: a fact joined through `dims` (in
    * order — each dim's USING keys must resolve against the
    * ACCUMULATED join, so a snowflake chain where dim 2 joins a
    * column dim 1 produced is expressed by listing them in chain
    * order). The delta telescopes exactly ([[StarDelta.terms]], the
    * algebra [[DbMv.refreshStar]] shares); every summand is a signed
    * change feed, and all of them union into
    * ONE [[MvStore.refresh]] batch, inheriting replay stamps, the
    * writer fence and touched-shard rewrites. One cursor row per
    * table persists in the store.
    *
    * 100 TB shape: term i reads ΔTᵢ (O(churn)) joined against dims
    * (broadcast when small), and the FACT is re-read at most once
    * per churned dim — each such read pruned by [[prunedOld]] when
    * the dim keys on a fact column with stats; tables with no churn
    * in the window contribute no term at all. `minMaxCols` as in
    * [[follow]] (dirty groups recompute from the full joined NEW
    * state, semi-pruned inside refresh).
    */
  def followStar(
      store: TableStore,
      name: String,
      factDir: String,
      dims: Seq[(String, Seq[String])],
      groupCols: Seq[String],
      sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil): Seq[(Int, Int)] = {
    require(dims.nonEmpty, "followStar: at least one dimension")
    val spark = store.spark
    import spark.implicits._
    val dirs = factDir +: dims.map(_._1)
    val keysFor = dims.map(_._2)
    val keyStr: Int => String =
      i => if (i == 0) "" else keysFor(i - 1).mkString(",")
    val keep = (groupCols ++ sumCols ++ minMaxCols).distinct
    def snapAt(i: Int, v: Int) = TxLog.snapshot(spark, dirs(i), v)
    def joinedAt(vs: Seq[Int]): DataFrame =
      dims.indices.foldLeft(snapAt(0, vs(0)))((acc, j) =>
        acc.join(snapAt(j + 1, vs(j + 1)), keysFor(j)))
        .select(keep.map(col): _*)
    // the cursor pins IDENTITY alongside versions: a later call with
    // the same arity but different tables (or keys) must refuse, not
    // feed an unrelated table's diff into the state
    def pin(vs: Seq[Int]): Unit =
      store.overwrite(vs.zipWithIndex.map { case (v, i) =>
        (i, v, dirs(i), keyStr(i)) }.toDF("idx", "ver", "tbl", "keys"),
        cursorStarTable(name))
    def seed(): Seq[(Int, Int)] = {
      val curs = dirs.map(TxLog.currentVersion(spark, _))
      MvStore.init(store, name, joinedAt(curs), groupCols, sumCols,
        batchId = s"seed_${curs.mkString("_")}",
        minMaxCols = minMaxCols)
      pin(curs)
      curs.map(v => (v, v))
    }
    if (!MvStore.exists(store, name) ||
        !store.exists(cursorStarTable(name)))
      return seed()
    val curRows = store.read(cursorStarTable(name), CursorStarSchema)
      .orderBy("idx")
      .select("ver", "tbl", "keys").collect()
    require(curRows.length == dirs.length,
      s"followStar('$name'): cursor spans ${curRows.length} tables, " +
        s"call names ${dirs.length} — the view was built with a " +
        "different table list")
    curRows.zipWithIndex.foreach { case (r, i) =>
      require(r.getString(1) == dirs(i) && r.getString(2) == keyStr(i),
        s"followStar('$name'): position $i was built over " +
          s"${r.getString(1)} [${r.getString(2)}], this call names " +
          s"${dirs(i)} [${keyStr(i)}] — same-arity table/key drift " +
          "would apply an unrelated diff; recreate the view or fix " +
          "the call")
    }
    val from = curRows.map(_.getInt(0)).toSeq
    // PENDING INTENT: the advance's TARGET versions persist BEFORE
    // the refresh, so a retry after a crash resumes the EXACT window
    // the stamped batch covered — without it, a source committing
    // between crash and retry would change the batch id, the stamp
    // would not recognize the replay, and the old window would apply
    // twice. A pending row matches only while `from` still equals the
    // window start (the pin moving makes it stale by construction, no
    // cleanup write needed); a pending target pruned away by a racing
    // vacuum falls back to the live versions.
    val pendingT = s"${name}__jmvs_pending"
    val curs: Seq[Int] = {
      val now = dirs.map(TxLog.currentVersion(spark, _))
      // the pending slot is a MARKER ([[TableStore.markerSet]] — a
      // file on the parquet backend, zero Spark jobs per advance; the
      // former 1-row-table overwrite + read were two more jobs), the
      // window pairs encoded in the token as "f:t,f:t,…" in table
      // order. TOLERANT read — a crash inside the marker write itself
      // must read as NO pending (that window's refresh provably had
      // not started), never wedge on an unreadable slot; same guard
      // as MvStore.followTxLog's. A slot written by the old TABLE
      // protocol before an upgrade still resolves: the marker read
      // falls back to the legacy tolerant table read below.
      val windows: Option[Seq[(Int, Int)]] =
        scala.util.Try(store.markerHolder(pendingT)).toOption.flatten
          .flatMap(PendingMarker.decode)
          .orElse {
            // legacy TABLE-protocol slot written before the marker
            // upgrade — read it the old tolerant way, once (the first
            // marker write clears the table files)
            if (!store.exists(pendingT)) None
            else scala.util.Try(store.read(pendingT, PendingSchema)
                .orderBy("idx")
                .select("fromv", "tov").collect().toSeq
                .map(r => (r.getInt(0), r.getInt(1)))).toOption
              .filter(_.nonEmpty)
          }
      val resumed: Option[Seq[Int]] =
        windows.flatMap { p =>
          if (p.length == dirs.length &&
              p.map(_._1) == from &&
              p.map(_._2).zip(dirs).forall { case (v, d) =>
                TxLog.retainedVersions(spark, d).contains(v) })
            Some(p.map(_._2))
          else None
        }
      resumed.getOrElse(now)
    }
    if (from == curs) return from.zip(curs)
    if (from.zip(dirs).exists { case (f, d) =>
        !TxLog.retainedVersions(spark, d).contains(f) })
      return seed() // fell behind a retention horizon
    store.markerSet(pendingT, PendingMarker.encode(from.zip(curs)))
    // per-table feeds are independent eager work (each diff's probe
    // jobs + one churn-sized checkpoint) — construct them concurrently
    // (guide §2.6, the [[DbMv.refreshStar]] shape). A dim feed's pin
    // also observes the bounds of its term's old fact read.
    lazy val factFrom = snapAt(0, from(0))
    lazy val keyOf = keysFor.map(pruneKey(spark, factDir, factFrom, _))
    val feeds: Seq[Option[(DataFrame, Row)]] =
      RelationalOps.inParallel(spark, dirs.indices.toSeq) { i =>
        if (from(i) == curs(i)) None
        else Some(RelationalOps.pin(TxLog.asChangeFeed(
            TxLog.diff(spark, dirs(i), from(i), curs(i))),
          (if (i == 0) Nil
           else StarDelta.boundsProbes(keyOf(i - 1).map(_._2).toSeq)): _*))
      }
    val rows = StarDelta.terms(feeds.map(_.map(_._1)), keysFor,
      oldAt = i => snapAt(i, from(i)), newAt = i => snapAt(i, curs(i)),
      factOld = i => prunedOld(spark, factDir, from(0), factFrom,
        keyOf(i - 1).map(_._1), feeds(i).get._2),
      out = keep :+ "change_type")
    MvStore.refresh(store, name, rows, groupCols, sumCols,
      batchId = Some(
        s"star_${from.mkString("_")}__${curs.mkString("_")}"),
      minMaxCols = minMaxCols,
      current = if (minMaxCols.isEmpty) None else Some(joinedAt(curs)))
    pin(curs)
    from.zip(curs)
  }
}
