package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operators the pipelines compose.
  *
  * These reproduce the reference's pandas semantics Spark-first
  * (SURVEY.md §2.4, §7.5 — reference: dags/emission-dag.py):
  *
  *  - pandas `merge` matches NaN = NaN on join keys
  *    (emission-dag.py:158); Spark `===` drops null keys, so every
  *    join over nullable keys uses null-safe `<=>`.
  *  - pandas `drop_duplicates` keeps the FIRST row after a sort
  *    (emission-dag.py:74-76,93-96); Spark `dropDuplicates` keeps an
  *    arbitrary row, so keep-first is a `row_number` window.
  *  - the new-vs-existing "indicator + left_only" idiom
  *    (emission-dag.py:83-85,105-110) is a `left_anti` join.
  *
  * Scale notes (100 TB): all joins here are expressed declaratively so
  * Catalyst/AQE pick broadcast-hash for small sides automatically; the
  * helpers accept a `broadcastRight` hint for dimension tables whose
  * statistics a file-based scan may understate.
  */
object RelationalOps {

  /** Conjunction of null-safe equality predicates over `keys`. */
  def nullSafeCond(left: DataFrame, right: DataFrame, keys: Seq[String]): Column =
    keys.map(k => left(k) <=> right(k)).reduce(_ && _)

  /** Equi-join where null keys match null keys (pandas merge semantics).
    * Keeps the LEFT side's key columns; drops the right duplicates.
    */
  def nullSafeEquiJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      how: String = "inner",
      broadcastRight: Boolean = false): DataFrame = {
    val r = if (broadcastRight) broadcast(right) else right
    val joined = left.join(r, nullSafeCond(left, r, keys), how)
    keys.foldLeft(joined)((df, k) => df.drop(r(k)))
  }

  /** Rows of `incoming` whose key tuple does not already exist in
    * `existing` — the incremental-idempotence anti-join (J4-J7, J11).
    * Null-safe so null-keyed rows are not re-appended every run.
    */
  def antiJoinNew(
      incoming: DataFrame,
      existing: DataFrame,
      keys: Seq[String],
      broadcastRight: Boolean = false): DataFrame = {
    val e0 = existing.select(keys.map(col): _*)
    val e = if (broadcastRight) broadcast(e0) else e0
    incoming.join(e, nullSafeCond(incoming, e, keys), "left_anti")
  }

  /** Keep the first row per key group under `ordering` — deterministic
    * replacement for pandas sort_values + drop_duplicates(keep='first').
    * One shuffle on `keys`; at scale this is the same exchange a
    * groupBy would need, so there is no cheaper correct plan.
    */
  def dedupKeepFirst(
      df: DataFrame,
      keys: Seq[String],
      ordering: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Union two role-playing projections and dedup (SURVEY A3 — e.g.
    * start/target country merging). `unionByName` so column order is
    * irrelevant.
    */
  def unionDistinct(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).distinct()

  /** Sequential surrogate keys continuing from the `live` table's
    * `keyCol` max, or from 1 without one (SURVEY §7.4 — Postgres
    * SERIAL replacement). Deterministic given `ordering` — the
    * reference itself sorts before load (O1/O2), so key values line up
    * when insertion order matches.
    *
    * Uses a global row_number window (single partition) — acceptable
    * for dimension batches (thousands of rows); the fact table carries
    * no SERIAL. For billion-row key assignment use
    * `zipWithIndex`-style per-partition offsets instead. The live
    * table's key column rides the same window, its rows sorted after
    * `df`'s, so its max comes out of the numbering pass itself instead
    * of an aggregate job of its own.
    */
  def withSurrogateKey(
      df: DataFrame,
      keyCol: String,
      ordering: Seq[Column],
      live: Option[DataFrame] = None): DataFrame = live match {
    case None =>
      df.withColumn(keyCol, row_number().over(Window.orderBy(ordering: _*)).cast("int"))
    case Some(table) =>
      val w = Window.orderBy(col("__live") +: ordering: _*)
      df.withColumn("__live", lit(false))
        .unionByName(table.select(lit(true).as("__live"), col(keyCol).as("__live_key")),
          allowMissingColumns = true)
        .withColumn(keyCol, (row_number().over(w) + coalesce(
          max(col("__live_key").cast("long"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)),
          lit(0L))).cast("int"))
        .filter(!col("__live"))
        .drop("__live", "__live_key")
  }

  /** Backward as-of join — for each left row, the most recent right
    * row with `right.ts <= left.ts` within the same key (the
    * time-series operator Spark lacks natively).
    *
    * Composed Spark-first (preference (a) — no custom plan needed):
    * union both sides with a marker, one window over (keys, ts) with
    * `last(_, ignoreNulls)` carrying the right payload forward, keep
    * left rows. ONE shuffle on the keys and no range-explosion — at
    * any scale this is the same exchange a groupBy on the keys costs,
    * vs. the naive range-join which is quadratic per key.
    *
    * Right rows sort BEFORE left rows at equal timestamps, so the
    * match is inclusive (`<=`). `rightPayload` columns are returned
    * nullable (left-join semantics: no prior right row → nulls).
    */
  def asofJoinBackward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      rightPayload: Seq[String]): DataFrame =
    asofJoin(left, right, keys, tsCol, rightPayload, backward = true)

  /** Forward as-of join — for each left row, the EARLIEST right row
    * with `right.ts >= left.ts` within the same key (the "next
    * event" lookup). Same one-shuffle carry construction as
    * [[asofJoinBackward]], with the scan order reversed.
    */
  def asofJoinForward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      rightPayload: Seq[String]): DataFrame =
    asofJoin(left, right, keys, tsCol, rightPayload, backward = false)

  private def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      rightPayload: Seq[String],
      backward: Boolean): DataFrame = {
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("__lrow", struct(leftCols.map(col): _*))
      .withColumn("__rv", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(rightPayload.map(col): _*).schema.fields)))
      .select((keys :+ tsCol).map(col) ++ Seq(col("__lrow"), col("__rv"), lit(1).as("__side")): _*)
    val rTagged = right
      .withColumn("__lrow", lit(null).cast(
        org.apache.spark.sql.types.StructType(left.schema.fields)))
      .withColumn("__rv", struct(rightPayload.map(col): _*))
      .select((keys :+ tsCol).map(col) ++ Seq(col("__lrow"), col("__rv"), lit(0).as("__side")): _*)
    val tsOrder = if (backward) col(tsCol).asc else col(tsCol).desc
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(tsOrder, col("__side").asc) // right first at equal ts → inclusive match
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = lTagged.unionByName(rTagged)
      .withColumn("__last_rv", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val out = leftCols.map(c => col(s"__lrow.$c").as(c)) ++
      rightPayload.map(c => col(s"__last_rv.$c").as(c))
    carried.select(out: _*)
  }

  /** Anti-join with a Bloom pre-filter — the 100 TB path for
    * incremental idempotence. The exact anti-join must shuffle the
    * incoming batch against the (huge) warehouse key set; a Bloom
    * filter over the existing keys (one scan, compact, broadcast via
    * closure) splits incoming rows into definitely-novel (bypass the
    * join entirely) and possibly-seen (exact null-safe anti-join on
    * just that slice). With a mostly-novel feed the expensive join
    * sees only the false-positive fraction.
    *
    * Multi-column keys are folded through xxhash64; null key values
    * hash like any other (the exact join stage is still null-safe).
    */
  def bloomAntiJoinNew(
      incoming: DataFrame,
      existing: DataFrame,
      keys: Seq[String],
      expectedItems: Long = 1000000L,
      fpp: Double = 0.03): DataFrame = {
    val keyHash = xxhash64(keys.map(col): _*)
    val bf = existing
      .select(keyHash.as("__kh"))
      .stat.bloomFilter("__kh", math.max(expectedItems, 1L), fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // codegen'd native probe (the expression AQE's runtime row-level
    // filters use) instead of a Scala UDF
    val mightContain = org.apache.spark.sql.GraftShim.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          bytes, org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.GraftShim.expression(keyHash)))
    val tagged = incoming.withColumn("__maybe", mightContain)
    val definitelyNovel = tagged.filter(!col("__maybe")).drop("__maybe")
    val candidates = tagged.filter(col("__maybe")).drop("__maybe")
    definitelyNovel.unionByName(antiJoinNew(candidates, existing, keys))
  }

  /** Skew-mitigating equi-join: the left (large, skewed) side gets a
    * deterministic salt in [0, saltFactor); the right side is
    * replicated once per salt value; the join keys on (keys, salt).
    * Splits a hot key's rows across `saltFactor` reducers at the cost
    * of replicating the right side — the classic fallback when AQE's
    * skew-join split isn't available (e.g. the skewed side feeds a
    * windowed op). Semantics are identical to the plain equi-join.
    */
  def saltedEquiJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      how: String = "inner",
      saltFactor: Int = 8): DataFrame = {
    val salt = pmod(xxhash64(left.columns.map(col): _*), lit(saltFactor)).cast("int")
    val l = left.withColumn("__salt", salt)
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    l.join(r, keys :+ "__salt", how).drop("__salt")
  }

  /** Bucketed range self-join: ordered pairs of rows sharing `keys`
    * whose timestamps are within `(0, maxGapMicros]` of each other.
    *
    * A naive theta-join (`b.ts BETWEEN a.ts AND a.ts + gap`) is a
    * per-key nested loop — quadratic in key group size. Bucketing
    * `ts` into `maxGapMicros`-wide bins turns it into an EQUI-join:
    * a pair within the gap spans at most two adjacent bins, so the
    * probe side joins on its own bin and the next one (probe rows
    * ×2, build rows ×1), then the exact predicate filters inside the
    * bounded buckets. Shuffles on (keys, bin) — well-spread, skew
    * governed by events-per-key-per-gap, not key cardinality.
    *
    * Returns the `keys` plus left/right timestamp columns
    * (`tsCol`, `tsCol + "_b"`) and `payload` columns suffixed
    * `_a`/`_b`.
    */
  def rangeSelfJoinPairs(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      maxGapMicros: Long,
      payload: Seq[String] = Nil): DataFrame = {
    // output naming is suffix-based — reject silent collisions up front
    require(!payload.contains(tsCol), s"payload must not include tsCol '$tsCol'")
    require(!payload.exists(keys.contains), s"payload must not overlap keys $keys")
    val outNames = keys ++ Seq(tsCol, tsCol + "_b") ++
      payload.flatMap(c => Seq(s"${c}_a", s"${c}_b"))
    require(outNames.distinct.size == outNames.size,
      s"rangeSelfJoinPairs output columns collide: ${outNames.mkString(", ")}")
    val us = unix_micros(col(tsCol))
    val base = df.select(
      (keys.map(col) :+ us.as("__us")) ++ payload.map(col): _*)
    val bin = expr(s"__us div ${maxGapMicros}L") // integer division — exact
    val probe = base.withColumn("__bin", explode(array(bin, bin + 1)))
    val build = base.withColumn("__bin", bin)
    val aSide = probe.select(
      (keys.map(col) :+ col("__bin") :+ col("__us").as("__us_a")) ++
        payload.map(c => col(c).as(s"${c}_a")): _*)
    val bSide = build.select(
      (keys.map(col) :+ col("__bin") :+ col("__us").as("__us_b")) ++
        payload.map(c => col(c).as(s"${c}_b")): _*)
    aSide.join(bSide, keys :+ "__bin")
      .filter(col("__us_b") > col("__us_a") &&
        col("__us_b") - col("__us_a") <= maxGapMicros)
      .select(
        (keys.map(col) :+
          timestamp_micros(col("__us_a")).as(tsCol) :+
          timestamp_micros(col("__us_b")).as(tsCol + "_b")) ++
          payload.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  /** Deterministic stratified sample: exactly min(k, |stratum|) rows
    * per stratum, chosen by hash order over `seedCols` — unbiased
    * (hash order is independent of storage order), reproducible (a
    * pure function of the data, so re-runs and engine changes pick the
    * same rows — unlike `TABLESAMPLE`/`df.sample`, which depend on
    * partition layout), and one shuffle on the strata keys (the same
    * exchange any per-group op pays; each stratum ranks locally, no
    * global sort).
    *
    * `portableHash = true` orders by md5 of the seed values joined
    * with '|' (a visible separator so ("1","23") and ("12","3") never
    * hash alike — and reproducible in any engine); default xxhash64 is
    * cheaper on the 100 TB path. NULL seed values hash as the sentinel
    * '<NULL>' — concat_ws would silently SKIP them (("a", NULL) and
    * ("a") colliding), and an engine reproducing the key with `||`
    * would get NULL for the whole row.
    *
    * Determinism contract: `seedCols` must be a ROW KEY. Hash
    * collisions between distinct seed tuples are tie-broken by the
    * seed columns themselves, but two rows with an IDENTICAL seed
    * tuple have identical sort keys, and when the k-th boundary falls
    * inside such a group the picks follow scan order — exactly the
    * irreproducibility this operator exists to avoid (see
    * q_sample_stratified: (l_orderkey, l_linenumber) alone is not
    * unique in the synthetic lineitem and needed two more columns).
    */
  /** One seed column rendered for a portable hash key: NULL becomes the
    * sentinel '<NULL>' so it contributes to the key (concat_ws silently
    * skips NULL arguments) and any second engine reproduces the key
    * with coalesce(CAST(c AS VARCHAR), '<NULL>').
    */
  private def portableKeyPart(c: String): Column =
    coalesce(col(c).cast("string"), lit("<NULL>"))

  def stratifiedSample(
      df: DataFrame,
      strataCols: Seq[String],
      k: Int,
      seedCols: Seq[String],
      portableHash: Boolean = false): DataFrame = {
    require(seedCols.nonEmpty, "seedCols must be non-empty")
    val ord =
      if (portableHash) md5(concat_ws("|", seedCols.map(portableKeyPart): _*))
      else xxhash64(seedCols.map(col): _*)
    topKPerGroup(df, strataCols, ord.asc +: seedCols.map(col(_).asc), k)
      .drop("rn")
  }

  /** Deterministic dataset split ("train"/"val"/"test" and friends):
    * each row gets the label whose cumulative weight bucket its
    * seed-key hash falls into. Pure per-row projection — no shuffle,
    * no sampling state; membership is a function of the data, so the
    * split is reproducible across runs, engines (md5 mode) and
    * repartitions, and a later incremental batch lands in consistent
    * splits (the property rand()-based splits lack).
    */
  def hashSplit(
      df: DataFrame,
      splits: Seq[(String, Double)],
      seedCols: Seq[String],
      labelCol: String = "split",
      portableHash: Boolean = false): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), s"bad split weights: $splits")
    require(seedCols.nonEmpty, "seedCols must be non-empty")
    val total = splits.map(_._2).sum
    // bucket in [0, 1): the portable mode runs the Karp-Rabin rolling
    // hash (exact integer arithmetic both engines reproduce — the same
    // kernel q_txt_rollhash oracle-checks) over the md5 HEX of the key
    // — 32 chars, so the polynomial wraps the modulus many times and
    // the bucket is uniform even for short keys (the raw hash of "42"
    // is ~10³, i.e. bucket ≈ 0). Production mode: xxhash64.
    val bucket =
      if (portableHash)
        graft.functions.RollingHashFunctions
          .rollingHash31(md5(concat_ws("|", seedCols.map(portableKeyPart): _*)))
          .cast("double") / lit(1000000007.0)
      else
        (pmod(xxhash64(seedCols.map(col): _*), lit(1000000000L)).cast("double") / lit(1e9))
    val cum = splits.scanLeft(0.0)(_ + _._2).tail.map(_ / total)
    val label = splits.zip(cum).reverse.foldLeft(lit(splits.last._1): Column) {
      case (acc, ((name, _), upper)) => when(bucket < upper, lit(name)).otherwise(acc)
    }
    df.withColumn(labelCol, label)
  }

  /** Top-k rows per group — `row_number` window then filter; the
    * shuffle partitions by `keys` so each group ranks locally.
    *
    * Scale note: every input row crosses the shuffle and each group
    * sorts ALL its rows in one task. Fine when the per-group row count
    * is already bounded (LSH buckets, IVF probe cells, refine sets);
    * for unbounded per-group input — a brute-force or PQ-ADC scan
    * scoring the whole corpus per query — use
    * [[topKPerGroupPartial]], which reduces map-side first.
    */
  def topKPerGroup(
      df: DataFrame,
      keys: Seq[String],
      ordering: Seq[Column],
      k: Int,
      rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Top-k (score, id) rows per group via the map-side partial heap
    * aggregate ([[graft.functions.TopKNeighbors]]): each partition
    * reduces its slice of every group to a k-entry heap BEFORE the
    * shuffle, so the wire carries k·partitions entries per group
    * instead of the group's full candidate set, and the final "sort"
    * is over k elements instead of |corpus|. Ordering is
    * (score asc|desc, id asc) — identical rows out as
    * [[topKPerGroup]] with `Seq(score.{asc|desc}, id.asc)`.
    *
    * Output: group keys + `rankCol` (1-based) + `idName` + `scoreName`
    * columns, score as DOUBLE.
    */
  def topKPerGroupPartial(
      df: DataFrame,
      keys: Seq[String],
      score: Column,
      id: Column,
      k: Int,
      scoreAscending: Boolean,
      idName: String,
      scoreName: String,
      rankCol: String = "rn"): DataFrame = {
    val agged = df
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.TopKFunctions
        .topKNeighbors(score.cast("double"), id, k, scoreAscending).as("__topk"))
    agged
      .select(keys.map(col) :+ posexplode(col("__topk")).as(Seq("__pos", "__e")): _*)
      .select(
        keys.map(col) ++ Seq(
          (col("__pos") + 1).cast("int").as(rankCol),
          col("__e.id").as(idName),
          col("__e.score").as(scoreName)): _*)
  }

  /** NULL-SAFE keyed merge for incremental-state maintenance: join
    * `l` and `r` on `keys` with `<=>` (a NULL key value names a real
    * group — SQL's null-never-equals would leave it unpaired and a
    * state merge would split one group across rows), emit the keys
    * COALESCED from both sides followed by every non-key column of
    * `l` then `r`. String-qualified aliases keep Spark's
    * ambiguous-self-join detector quiet when one side's plan embeds
    * the other (the semi-filtered-stored-vs-delta shape). Shared by
    * [[MvStore.refresh]] and [[DbMv.refreshStar]].
    */
  def nullSafeMerge(
      l: DataFrame,
      r: DataFrame,
      keys: Seq[String],
      joinType: String = "full_outer"): DataFrame =
    l.alias("__nsl").join(r.alias("__nsr"),
        keys.map(c => col(s"__nsl.$c") <=> col(s"__nsr.$c")).reduce(_ && _),
        joinType)
      .select(keys.map(c =>
        coalesce(col(s"__nsl.$c"), col(s"__nsr.$c")).as(c)) ++
        l.columns.filterNot(keys.contains).map(c => col(s"__nsl.$c")) ++
        r.columns.filterNot(keys.contains).map(c => col(s"__nsr.$c")): _*)

  /** NULL-SAFE left-semi on `keys`: `l`'s rows whose key tuple —
    * NULLs matching NULLs — appears in `r`. Output is `l` unchanged.
    * `r`'s key set is broadcast: callers pass a churn-sized one (the
    * groups a delta touches), usually a checkpoint with no size
    * statistics, which would otherwise plan a sort-merge join that AQE
    * turns into a broadcast at run time — with a job count that
    * depends on which stage finished first.
    */
  def nullSafeSemi(l: DataFrame, r: DataFrame, keys: Seq[String])
      : DataFrame =
    l.alias("__nsl").join(
      broadcast(r.select(keys.map(col): _*)).alias("__nsr"),
      keys.map(c => col(s"__nsl.$c") <=> col(s"__nsr.$c")).reduce(_ && _),
      "left_semi")

  /** Materialize `df` (`localCheckpoint`) and return it with the
    * values of `probes` — aggregates over its rows, read back by
    * position — computed INSIDE the checkpoint job: they ride the plan
    * as observed metrics (`Dataset.observe`), so no probe submits a
    * job of its own (a count or a distinct-collect re-reading the
    * pinned frame costs two jobs under AQE). Metrics accumulate in the
    * checkpoint job's result stage, which runs each partition once,
    * so the values are exact; over zero rows each is its aggregate's
    * empty value (count 0, min/max NULL, an empty set). They are read
    * from the checkpoint's own query execution once the action has
    * returned — what an `Observation` would deliver later through the
    * listener bus, with no wait — so a failing action simply rethrows.
    * The checkpoint's call site names pin's caller, so a job trace
    * attributes it to the site that pinned.
    */
  private[graft] def pin(df: DataFrame, probes: Column*): (DataFrame, Row) = {
    val sc = df.sparkSession.sparkContext
    val caller = new Throwable().getStackTrace
      .find(!_.getClassName.startsWith("graft.ops.RelationalOps"))
      .map(f => s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}")
    val saved = sc.getLocalProperty("callSite.short")
    caller.foreach(sc.setCallSite)
    try {
      if (probes.isEmpty) (df.localCheckpoint(), Row.empty)
      else {
        val name = s"__graft_pin_${java.util.UUID.randomUUID()}"
        val named = probes.zipWithIndex.map { case (p, i) => p.as(s"p$i") }
        val observed = df.observe(name, named.head, named.tail: _*)
        val pinned = observed.localCheckpoint()
        val row = observed.queryExecution.observedMetrics.getOrElse(name,
          throw new IllegalStateException(
            s"pin: the checkpoint reported no observed metrics for $name"))
        (pinned, row)
      }
    } finally sc.setLocalProperty("callSite.short", saved)
  }

  /** [[pin]] `df`, hand the pinned frame and the observed row to `f`,
    * then drop the checkpoint's cached blocks: nothing may read the
    * pinned frame after `f` returns. Without the release the blocks
    * stay cached until the driver's garbage collector reclaims the
    * frame, however long that takes.
    */
  private[graft] def withPin[T](df: DataFrame, probes: Column*)(
      f: (DataFrame, Row) => T): T = {
    val (pinned, row) = pin(df, probes: _*)
    try f(pinned, row)
    finally pinned.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Run INDEPENDENT Spark actions concurrently (guide §2.6): the
    * driver's sequential action calls leave executors idle through
    * each job's tail (and serialize the per-job fixed scheduling
    * cost that dominates churn-sized advances); Spark's scheduler
    * happily interleaves jobs submitted from several threads, so the
    * next independent job back-fills the current one's tail. One
    * short-lived pool per call: pool threads inherit the CALLER's
    * job-description/group (SparkContext local properties are
    * inheritable-thread-local at thread creation), so a shared static
    * pool would mislabel jobs across callers. Preserves input order;
    * rethrows the first failure unwrapped. Items must not touch
    * shared mutable state — callers pass pure frame-building/action
    * closures.
    *
    * DEADLOCK GUARD: when the CALLING thread already holds the
    * session catalog's monitor — an operator invoked from a table
    * function's `build`, which the analyzer runs INSIDE the
    * synchronized `SessionCatalog.lookupTableFunction` — any plan
    * analysis on a pool thread would block on that same monitor
    * forever (it resolves functions through the catalog). Run
    * sequentially in that case; the overlap is a local-latency
    * optimization, never a semantic one.
    */
  private[graft] def inParallel[A, B](
      spark: org.apache.spark.sql.SparkSession, items: Seq[A])(
      f: A => B): Seq[B] = {
    if (items.sizeIs <= 1 ||
        Thread.holdsLock(spark.sessionState.catalog))
      return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(items.size, 4))
    try {
      val futs = items.map(a => pool.submit(
        new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
      futs.map(fu =>
        try fu.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        })
    } finally pool.shutdown()
  }
}
