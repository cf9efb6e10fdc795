package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The delta algebra of the incremental join-aggregate views —
  * [[MvStore]] (and [[JoinMv]] through it) and [[DbMv]] — written
  * once. Pure DataFrame algebra: no store, no log, no options; each
  * engine keeps its own driver (change source, cursor, commit). The
  * classic IVM algebra (Gupta & Mumick's survey): count and sum are
  * self-inverse under signed deltas; min/max are not, so a group hit
  * by a removal re-derives its extremes from the post-change rows.
  */
object StarDelta {

  /** +1 for a row that adds, -1 for one that removes. */
  def sign(adds: Column): Column = when(adds, lit(1L)).otherwise(lit(-1L))

  /** The telescoping star delta, as signed rows:
    *
    *   Δ(T₀⋈…⋈Tₙ) = Σᵢ T₀ᵒˡᵈ⋈…⋈Tᵢ₋₁ᵒˡᵈ ⋈ ΔTᵢ ⋈ Tᵢ₊₁ⁿᵉʷ⋈…⋈Tₙⁿᵉʷ
    *
    * Each summand joins everything left of the delta at its old cut
    * and everything right at its new one, so consecutive summands
    * cancel pairwise and the sum is exactly new − old however many
    * tables churned. `feeds(i)` is table i's change feed (0 the fact,
    * then the dims in chain order; `None`: no churn, no term);
    * `keys(j)` dim j+1's USING keys against the accumulated join;
    * `factOld(i)` the fact's old cut for dim i's term (bounded by the
    * caller from that dim's feed — see [[oldFactBounds]]). Output: the
    * `out` columns of every term, unioned; at least one feed must be
    * present.
    */
  def terms(
      feeds: Seq[Option[DataFrame]],
      keys: Seq[Seq[String]],
      oldAt: Int => DataFrame,
      newAt: Int => DataFrame,
      factOld: Int => DataFrame,
      out: Seq[String]): DataFrame = {
    val n = feeds.length
    val cols = out.map(col)
    feeds.zipWithIndex.flatMap { case (feed, i) =>
      feed.map { fd =>
        if (i == 0)
          // ΔF ⋈ every dim at its NEW cut
          (1 until n).foldLeft(fd)((acc, j) => acc.join(newAt(j), keys(j - 1)))
            .select(cols: _*)
        else {
          // T₀ᵒˡᵈ…Tᵢ₋₁ᵒˡᵈ ⋈ ΔTᵢ ⋈ Tᵢ₊₁ⁿᵉʷ…Tₙⁿᵉʷ — the fact's old read
          // bounded by THIS dim's changed keys
          val left = (1 until i).foldLeft(factOld(i))(
            (acc, j) => acc.join(oldAt(j), keys(j - 1)))
          ((i + 1) until n).foldLeft(left.join(fd, keys(i - 1)))(
            (acc, j) => acc.join(newAt(j), keys(j - 1)))
            .select(cols: _*)
        }
      }
    }.reduce(_ unionByName _)
  }

  /** Bounded k-smallest / k-largest values as aggregates —
    * [[graft.functions.TopKNeighbors]] with a constant id: an O(k)
    * map-side heap per group, never a full value list.
    */
  private def kSmallest(c: Column, k: Int): Column =
    transform(graft.functions.TopKFunctions
      .topKNeighbors(c, lit(0L), k, scoreAscending = true),
      x => x.getField("score"))
  private def kLargest(c: Column, k: Int): Column =
    transform(graft.functions.TopKFunctions
      .topKNeighbors(c, lit(0L), k, scoreAscending = false),
      x => x.getField("score"))

  private def dbl(m: String): Column = col(m).cast("double")

  /** The extremes a source scan seeds or recomputes: `min_<m>`,
    * `max_<m>` (double), then with `reserveK > 0` the
    * [[DbMv.ExtremeReserve]] state (ascending min-prefix, descending
    * max-prefix, non-null count), each name behind `prefix`.
    */
  def extremeAggs(
      minMaxCols: Seq[String], reserveK: Int = 0,
      prefix: String = ""): Seq[Column] =
    minMaxCols.flatMap(m => Seq(
      min(dbl(m)).as(s"${prefix}min_$m"),
      max(dbl(m)).as(s"${prefix}max_$m"))) ++
      (if (reserveK <= 0) Nil
       else minMaxCols.flatMap(m => Seq(
         kSmallest(dbl(m), reserveK).as(s"${prefix}minres_$m"),
         kLargest(dbl(m), reserveK).as(s"${prefix}maxres_$m"),
         count(col(m)).as(s"${prefix}nn_$m"))))

  /** The signed per-group delta of `rows` in ONE groupBy: `d_n`,
    * `d_<name>` per `(name, signed expression)` measure (the caller
    * keeps its typing), per min/max measure the grow aggregates
    * `add_min_<m>`/`add_max_<m>` — or with `reserveK > 0` the bounded
    * add/delete arrays and signed non-null count
    * [[DbMv.ExtremeReserve]] consumes — and `__dirty` (1 when a row
    * of the group removes). `adds` marks the rows that add.
    */
  def groupDelta(
      rows: DataFrame,
      groupCols: Seq[String],
      adds: Column,
      measures: Seq[(String, Column)],
      minMaxCols: Seq[String] = Nil,
      reserveK: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "groupDelta: groupCols must be non-empty")
    val k = reserveK
    val extremes =
      if (k > 0)
        // O(k) per group on the map side, never a full value list
        minMaxCols.flatMap(m => Seq(
          kSmallest(when(adds, dbl(m)), k).as(s"addmin_$m"),
          kLargest(when(adds, dbl(m)), k).as(s"addmax_$m"),
          kSmallest(when(!adds, dbl(m)), k + 1).as(s"delmin_$m"),
          kLargest(when(!adds, dbl(m)), k + 1).as(s"delmax_$m"),
          sum(when(dbl(m).isNotNull, sign(adds)).otherwise(0L))
            .as(s"d_nn_$m")))
      else
        minMaxCols.flatMap(m => Seq(
          min(when(adds, dbl(m))).as(s"add_min_$m"),
          max(when(adds, dbl(m))).as(s"add_max_$m")))
    val aggs = ((sum(sign(adds)).as("d_n") +:
      measures.map { case (m, e) => sum(e).as(s"d_$m") }) ++ extremes) :+
      max(when(!adds, lit(1)).otherwise(lit(0))).as("__dirty")
    rows.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold a [[groupDelta]] into `stored` (the state rows it may
    * touch, or all of them) through a NULL-SAFE full-outer merge on the
    * group keys ([[RelationalOps.nullSafeMerge]]: a NULL group value
    * names a real group, which a null-never-equals join would split
    * into a stored and a delta row). `countCol` and each `(state sum,
    * delta sum)` add, cast to the stored type. Each min/max grows in
    * place unless its group is dirty — any removal without reserves; a
    * drained prefix with `reserveK > 0` ([[DbMv.ExtremeReserve]]) —
    * and then takes the extreme recomputed from `current`, the
    * post-change rows semi-joined to the dirty groups and read only if
    * one exists. Reserve-free folds with min/max take whether any
    * delta group is dirty as `anyDirty` (the caller observes it when
    * it pins the delta); with reserves the merge decides, observed by
    * the merge's own checkpoint ([[RelationalOps.pin]]). Output:
    * `groupCols…, countCol, sums…, extremes…` for every merged group,
    * emptied ones (count ≤ 0) included.
    */
  def fold(
      stored: DataFrame,
      delta: DataFrame,
      groupCols: Seq[String],
      countCol: String,
      sums: Seq[(String, String)],
      minMaxCols: Seq[String] = Nil,
      reserveK: Int = 0,
      anyDirty: Option[Boolean] = None,
      current: => DataFrame = null): DataFrame = {
    val gcols = groupCols.map(col)
    val k = if (minMaxCols.isEmpty) 0 else reserveK
    require(if (k > 0) anyDirty.isEmpty
      else minMaxCols.isEmpty || anyDirty.isDefined,
      "fold: reserve-free min/max take the delta's dirty probe as " +
        "anyDirty; with reserves the dirty groups are decided after the merge")
    val base = RelationalOps.nullSafeMerge(stored, delta, groupCols)
    val (preRc, dirtyCol, dirty) =
      if (k <= 0) (base, col("__dirty") === 1, anyDirty.contains(true))
      else {
        val resUdf = udf((minres: Seq[Double], maxres: Seq[Double],
            nn: Long, delMin: Seq[Double], addMin: Seq[Double],
            delMax: Seq[Double], addMax: Seq[Double], dNn: Long) =>
          DbMv.ExtremeReserve(minres, maxres, nn, delMin, addMin,
            delMax, addMax, dNn, k))
        def arr(c: String) =
          coalesce(col(c), array().cast("array<double>"))
        val withRes = minMaxCols.foldLeft(base)((d, m) =>
          d.withColumn(s"__res_$m", resUdf(
            arr(s"minres_$m"), arr(s"maxres_$m"),
            coalesce(col(s"nn_$m"), lit(0L)),
            arr(s"delmin_$m"), arr(s"addmin_$m"),
            arr(s"delmax_$m"), arr(s"addmax_$m"),
            coalesce(col(s"d_nn_$m"), lit(0L)))))
        val (pinned, obs) = RelationalOps.pin(
          withRes.withColumn("__rdirty",
            minMaxCols.map(m => col(s"__res_$m").getField("dirty"))
              .reduce(_ || _)),
          count(when(col("__rdirty"), lit(1))))
        (pinned, col("__rdirty"), obs.getLong(0) > 0L)
      }
    val recomputed =
      if (minMaxCols.isEmpty) preRc
      else {
        // without reserves the dirty groups are exactly the delta's
        // __dirty rows (stored-only rows of the merge carry NULL
        // there), so the recompute reads the delta
        val dirtySrc = if (k <= 0) delta else preRc
        if (!dirty)
          minMaxCols.foldLeft(preRc)((d, m) => {
            val d2 = d
              .withColumn(s"rc_min_$m", lit(null).cast("double"))
              .withColumn(s"rc_max_$m", lit(null).cast("double"))
            if (k <= 0) d2
            else d2
              .withColumn(s"rc_minres_$m", lit(null).cast("array<double>"))
              .withColumn(s"rc_maxres_$m", lit(null).cast("array<double>"))
              .withColumn(s"rc_nn_$m", lit(null).cast("long"))
          })
        else {
          val mmAggs = extremeAggs(minMaxCols, k, "rc_")
          val recomp = RelationalOps.nullSafeSemi(current,
              dirtySrc.filter(dirtyCol).select(gcols: _*), groupCols)
            .groupBy(gcols: _*).agg(mmAggs.head, mmAggs.tail: _*)
          // one row per dirty group: broadcast from the plan's start
          // (see [[RelationalOps.nullSafeSemi]])
          RelationalOps.nullSafeMerge(preRc, broadcast(recomp), groupCols, "left")
        }
      }
    def res(m: String, f: String) = col(s"__res_$m").getField(f)
    val mmOut = minMaxCols.flatMap(m =>
      if (k > 0) Seq(
        when(dirtyCol, col(s"rc_min_$m"))
          .otherwise(get(res(m, "minres"), lit(0))).as(s"min_$m"),
        when(dirtyCol, col(s"rc_max_$m"))
          .otherwise(get(res(m, "maxres"), lit(0))).as(s"max_$m"),
        when(dirtyCol, col(s"rc_minres_$m"))
          .otherwise(res(m, "minres")).as(s"minres_$m"),
        when(dirtyCol, col(s"rc_maxres_$m"))
          .otherwise(res(m, "maxres")).as(s"maxres_$m"),
        when(dirtyCol, col(s"rc_nn_$m"))
          .otherwise(res(m, "nn")).as(s"nn_$m"))
      else Seq(
        when(dirtyCol, col(s"rc_min_$m"))
          .otherwise(least(col(s"min_$m"), col(s"add_min_$m")))
          .as(s"min_$m"),
        when(dirtyCol, col(s"rc_max_$m"))
          .otherwise(greatest(col(s"max_$m"), col(s"add_max_$m")))
          .as(s"max_$m")))
    def added(s: String, d: String) = {
      val t = stored.schema(s).dataType
      (coalesce(col(s), lit(0).cast(t)) + coalesce(col(d), lit(0).cast(t)))
        .cast(t).as(s)
    }
    recomputed.select(((gcols :+ added(countCol, "d_n")) ++
      sums.map { case (s, d) => added(s, d) } ++ mmOut): _*)
  }

  /** The probes a dim term's feed pin observes
    * ([[RelationalOps.pin]]) to bound the fact's old-cut read: the row
    * count, then each of `keys`' min and max.
    */
  def boundsProbes(keys: Seq[Column]): Seq[Column] =
    count(lit(1)) +: keys.flatMap(k => Seq(min(k), max(k)))

  /** The old-cut bounds in a [[boundsProbes]] row: `None` when that
    * read is empty (no feed row, or an all-NULL key no row can
    * equi-join), `Some(Nil)` when no key bounds it (read whole), else
    * each key's (lo, hi). File pruning by the bounds is each engine's.
    */
  def oldFactBounds(observed: Row): Option[Seq[(Any, Any)]] = {
    val keys = 0 until (observed.length - 1) / 2
    if (observed.getLong(0) == 0L || keys.exists(i => observed.isNullAt(2 * i + 1)))
      None
    else Some(keys.map(i => (observed.get(2 * i + 1), observed.get(2 * i + 2))))
  }
}
