package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** ROW TRACKING — stable row ids that survive rewrites (the public
  * Delta row-tracking design, re-derived on this repo's TxLog
  * primitives): every row of a tracked table has one `_row_id` that
  * stays with it through compaction, copy-on-write delete/update,
  * merge-on-read upsert, SQL MERGE, deletion-vector materialization
  * and clone localization — so downstream consumers can distinguish
  * data change from file movement, and the change feed can pair
  * update pre/post images WITHOUT a user-supplied key.
  *
  * Two pieces, mirroring how Delta splits fresh from materialized ids:
  *
  *   - FRESH ids are position-derived: each ADD entry carries a
  *     `rowBase` (claimed from the kernel-atomic [[MetaLedger]],
  *     prefix `rowhw.` — racing commits hold disjoint ranges), and a
  *     row's id is `rowBase + row_index` straight out of the parquet
  *     scan's `_metadata`. Zero write cost for plain appends: no
  *     column is written, the id is arithmetic at read time.
  *   - REWRITES materialize: any path that re-writes existing rows
  *     (positions change) first attaches the current ids as a real
  *     column (`__graft_rowid`) and writes it into the replacement
  *     files. Reads resolve `coalesce(materialized, rowBase + pos)` —
  *     the materialized value wins wherever it exists. The column is
  *     invisible to normal reads because the pinned table schema
  *     excludes it ([[enable]] pins one if the table never had a pin).
  *
  * Uniqueness, not density: a rewrite's replacement file burns the
  * fresh range its ADD entry claimed (all its rows carry materialized
  * ids) — the same gap-for-crash-safety trade the identity ledger
  * makes. RESTORE is id-stable for free: it re-points the log at old
  * entries, whose `rowBase` travels with them.
  *
  * 100 TB shape: assignment is one footer row-count per NEW file in a
  * commit (metadata pages only, distributed) plus one tiny claim file;
  * the read-side join is a broadcast of (file → rowBase) — entry-count
  * sized, never row-sized. No shuffle is added to any write path.
  */
object RowTracking {

  /** The exposed row-id column ([[read]], keyless CDF pairing). */
  val Col = "_row_id"

  /** The exposed row-commit-version column: the commit that last
    * MODIFIED the row (Delta's `_metadata.row_commit_version`). Fresh
    * and updated rows read their file's landing version (`addedV` on
    * the ADD entry); rewrites that MOVE rows without changing them
    * (compaction, delete survivors, DV materialize, localize)
    * materialize the old value so the movement is invisible.
    */
  val VerCol = "_row_commit_version"

  /** The materialized physical column rewrites carry ids in — hidden
    * from normal reads by the schema pin.
    */
  private[graft] val MatCol = "__graft_rowid"

  /** [[VerCol]]'s materialized twin — carried by MOVE-shaped rewrites
    * only; update images leave it NULL so the row resolves to the
    * update commit.
    */
  private[graft] val MatVerCol = "__graft_rowver"

  private val FlagName = "rowtracking.txt"
  private val LedgerPrefix = "rowhw."

  def enabled(spark: SparkSession, dir: String): Boolean =
    TxLog.exists(spark, dir) &&
      TxLog.metaRead(spark, dir, FlagName).exists(_.trim == "on")

  // ---- per-table tracking on a [[DbLog]] database ---------------------
  // One database is ONE TxLog whose tables are name-prefixed entries,
  // so the id machinery carries over whole: the flag moves to the
  // table's namespace (`rowtracking.<table>.txt`), the pin that hides
  // the materialized column is the table's OWN (`schema.<table>.*`),
  // and the allocation ledger stays the database-wide `rowhw.` shards
  // — ids come out unique across the whole database, strictly stronger
  // than the per-table uniqueness the contract needs, with one claim
  // per commit however many tracked tables it touches.

  private def tableFlagName(table: String) = s"rowtracking.$table.txt"

  /** Is per-table tracking on for `table` of database `dir`? (A
    * dir-wide [[enabled]] flag never coexists — databases do not set
    * the dir-wide flag, single tables have no named sub-tables.)
    */
  def enabledTable(spark: SparkSession, dir: String, table: String): Boolean =
    TxLog.exists(spark, dir) &&
      TxLog.metaRead(spark, dir, tableFlagName(table)).exists(_.trim == "on")

  /** Turn tracking on for ONE table of a [[DbLog]] database: pin the
    * table's schema if it never had one (the pin hides the
    * materialized column from plain [[DbLog.snapshot]] reads), write
    * the table-scoped flag, and backfill — one metadata-only commit
    * re-ADDs the table's live entries with fresh `rowBase`s. Other
    * tables of the database are untouched (their commits skip the
    * ledger entirely). Idempotent.
    */
  def enableTable(spark: SparkSession, db: String, table: String): Unit = {
    require(TxLog.exists(spark, db),
      s"row tracking: $db is not a DbLog database")
    if (enabledTable(spark, db, table)) return
    val live = DbLog.entriesOf(spark, db, table, Int.MaxValue)
    // a table holding data pinned its schema when it was created
    require(DbLog.tableSchema(spark, db, table).isDefined,
      s"row tracking: $db/$table is empty and unpinned — pin a " +
        "schema first (DbLog.setTableSchema, or append data before " +
        "enabling)")
    TxLog.metaWrite(spark, db, tableFlagName(table), "on")
    val need = live.filter(_.rowBase.isEmpty)
    if (need.nonEmpty) {
      val assigned = assignBases(spark, db, need)
      TxLog.commitEntries(spark, db, adds = assigned, removes = Nil,
        seen = need, op = Some(s"rowtracking-enable($table)"))
    }
  }

  /** The DbLog table name an add entry belongs to — None for flat
    * (single-table) names and hive-partition prefixes (`k=v/…`, which
    * [[DbLog]] table names can never spell).
    */
  private def tableOf(name: String): Option[String] = {
    val i = name.indexOf('/')
    if (i > 0 && !name.substring(0, i).contains('='))
      Some(name.substring(0, i))
    else None
  }

  /** Turn row tracking on: pin a schema if the table never had one
    * (the pin is what hides the materialized column from plain reads),
    * write the flag, and BACKFILL — one metadata-only commit re-ADDs
    * every live entry with a fresh `rowBase`, so existing rows get
    * position-derived ids without moving a byte. Idempotent.
    */
  def enable(spark: SparkSession, dir: String): Unit = {
    require(TxLog.exists(spark, dir),
      s"row tracking: $dir is not TxLog-managed")
    if (enabled(spark, dir)) return
    val live = TxLog.liveEntries(spark, dir)
    // a table holding data pinned its schema when it was created
    require(TxLog.tableSchema(spark, dir).isDefined,
      s"row tracking: $dir is empty and unpinned — pin a schema " +
        "first (CREATE TABLE, or append data before enabling)")
    TxLog.metaWrite(spark, dir, FlagName, "on")
    val need = live.filter(_.rowBase.isEmpty)
    if (need.nonEmpty) {
      val assigned = assignBases(spark, dir, need)
      // the fold overwrites entries by name — adds alone re-point them;
      // `seen` keeps a concurrent DV flip a detected conflict
      TxLog.commitEntries(spark, dir, adds = assigned, removes = Nil,
        seen = need, op = Some("rowtracking-enable"))
    }
  }

  /** Claim `n` fresh row ids; returns the first (ids are dense within
    * one claim: [first, first + n)).
    */
  private[ops] def allocate(spark: SparkSession, dir: String, n: Long): Long = {
    require(n > 0, s"row tracking allocate: n must be positive, got $n")
    MetaLedger.claim(spark, dir, LedgerPrefix, -1L, hw => hw + n)._1 + 1
  }

  /** Seed a fresh table's ledger at `water` — the clone hook: a
    * clone's inherited entries carry source-range `rowBase`s, so its
    * OWN first allocation must start past everything the source ever
    * issued or two clone rows could share an id.
    */
  private[ops] def seedLedger(
      spark: SparkSession, dir: String, water: Long): Unit =
    MetaLedger.claim(spark, dir, LedgerPrefix, -1L, hw => math.max(hw, water))

  private[ops] def currentWater(spark: SparkSession, dir: String): Long =
    MetaLedger.highWater(spark, dir, LedgerPrefix, -1L)

  /** The commit hook ([[TxLog.commitEntries]]): give every new ADD
    * entry a `rowBase` covering its footer row count. Entries that
    * already carry one (DV re-adds, restores, clones) keep it.
    * Lenient on absent files (a commit may name files that are not yet
    * present — their rows read NULL ids until a rewrite materializes
    * real ones).
    */
  private[ops] def assignBases(
      spark: SparkSession, dir: String,
      adds: Seq[TxLog.AddEntry]): Seq[TxLog.AddEntry] = {
    if (adds.isEmpty) return adds
    val need0 = adds.filter(_.rowBase.isEmpty)
    if (need0.isEmpty) return adds
    // dir-wide flag covers everything; otherwise only adds under a
    // PER-TABLE-tracked prefix claim bases — probed once per distinct
    // table named by this commit (untracked commits pay one flag
    // exists-check per prefix, metadata-sized)
    val need =
      if (enabled(spark, dir)) need0
      else {
        val tracked = need0.flatMap(e => tableOf(e.name)).distinct
          .filter(t => enabledTable(spark, dir, t)).toSet
        if (tracked.isEmpty) return adds
        need0.filter(e => tableOf(e.name).exists(tracked))
      }
    if (need.isEmpty) return adds
    val counts = footerRows(spark, need.map(e => TxLog.dataPathOf(dir, e)))
    val total = need.flatMap(e => counts.get(TxLog.dataPathOf(dir, e))).sum
    var cur =
      if (total > 0) allocate(spark, dir, total)
      else currentWater(spark, dir) + 1 // only empty files: no claim
    adds.map { e =>
      val path = TxLog.dataPathOf(dir, e)
      if (e.rowBase.isDefined || !counts.contains(path)) e
      else {
        val r = e.copy(rowBase = Some(cur))
        cur += counts(path)
        r
      }
    }
  }

  /** Footer row counts (metadata pages only), distributed with the
    * session conf shipped; absent/unreadable paths are skipped (a
    * commit may name files not yet present).
    */
  private def footerRows(
      spark: SparkSession, paths: Seq[String]): Map[String, Long] =
    Compact.footerRowCounts(spark, paths, lenient = true)

  /** The current snapshot with `_row_id` — DV-applied, clone-aware,
    * column-mapping-aware (everything [[TxLog.readEntries]] gives),
    * plus the id resolution `coalesce(materialized, rowBase + pos)`.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    require(enabled(spark, dir), s"row tracking is not enabled on $dir")
    val entries = TxLog.liveEntries(spark, dir)
    if (entries.isEmpty) {
      val pin = TxLog.tableSchema(spark, dir).getOrElse(
        throw new IllegalStateException(s"$dir: empty table without a pin"))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pin)
        .withColumn(Col, lit(null).cast("long"))
        .withColumn(VerCol, lit(null).cast("long"))
    }
    withIds(spark, dir, entries, withVersions = true)
  }

  /** [[read]] at a retained `version` (time travel with row ids) —
    * names/width at `schemaVersion` when a caller's schema was frozen
    * later (the streaming source's recovery batches).
    */
  def readAt(
      spark: SparkSession, dir: String, version: Int,
      schemaVersion: Int = -1): DataFrame = {
    require(enabled(spark, dir), s"row tracking is not enabled on $dir")
    val entries = TxLog.liveEntries(spark, dir, version)
    val schemaV = if (schemaVersion >= 0) schemaVersion else version
    if (entries.isEmpty) {
      // a created-empty (or truncated) tracked table still reads —
      // as the empty frame with the pin plus the tracking columns
      // (the keyless CDC source's initial-snapshot batch hits this)
      val pin = TxLog.tableSchema(spark, dir, schemaV)
      require(pin.isDefined,
        s"version $version of $dir holds no files and no pinned schema")
      // both tracking columns LONG, matching the non-empty path
      // (withIds coalesces two LongType columns) — an int-typed empty
      // frame would flip the API's schema on the first append
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        pin.get.add(Col, org.apache.spark.sql.types.LongType)
          .add(VerCol, org.apache.spark.sql.types.LongType))
    }
    withIds(spark, dir, entries, schemaVersion = schemaV,
      withVersions = true)
  }

  /** [[read]] over an explicit entry set at a schema version — the
    * building block every integration seam shares. `keepPos` keeps
    * `__graft_file`/`__graft_pos` for positioned consumers (MERGE).
    */
  private[ops] def withIds(
      spark: SparkSession,
      dir: String,
      entries: Seq[TxLog.AddEntry],
      schemaVersion: Int = Int.MaxValue,
      keepPos: Boolean = false,
      withVersions: Boolean = false,
      pinOpt: Option[StructType] = None,
      atPositions: Option[DataFrame] = None): DataFrame = {
    // pinOpt: a DbLog table's own pin (the dir-wide slot is empty on
    // databases by construction — their tables have different schemas)
    val pin = pinOpt
      .orElse(TxLog.tableSchema(spark, dir, schemaVersion)).getOrElse(
        throw new IllegalStateException(
          s"row tracking on $dir requires a pinned table schema"))
    val hidden = Seq(StructField(MatCol, LongType),
      StructField(MatVerCol, LongType))
    val pinMat = StructType(pin.fields ++
      hidden.filterNot(h => pin.fieldNames.contains(h.name)))
    val df = TxLog.readEntries(spark, dir, entries, withPos = true,
      schemaVersion = schemaVersion, pinOverride = Some(pinMat),
      atPositions = atPositions)
    import spark.implicits._
    // per-entry (rowBase, addedV) are driver-known attaches: map
    // literals evaluate them inline, where the former broadcast join
    // paid one broadcast-build Spark job per action over this plan
    // (absent keys read NULL, exactly like the join's null columns).
    // Both branches normalize to ONE column order — positional
    // consumers (exceptAll in the diff) may mix sides built by
    // different branches.
    val wanted = df.columns.filterNot(c => c == MatCol || c == MatVerCol)
      .toSeq ++ Seq(Col) ++ (if (withVersions) Seq(VerCol) else Nil)
    val out1 =
      if (entries.sizeIs <= TxLog.MapLitMax) {
        import org.apache.spark.sql.functions.{element_at, typedLit}
        val rbMap = typedLit(entries.collect {
          case e if e.rowBase.isDefined => e.name -> e.rowBase.get
        }.toMap)
        val out0 = df.withColumn(Col, coalesce(col(MatCol),
          element_at(rbMap, col("__graft_file")) + col("__graft_pos")))
        (if (withVersions) {
          val avMap = typedLit(entries.collect {
            case e if e.addedV.isDefined => e.name -> e.addedV.get.toLong
          }.toMap)
          out0.withColumn(VerCol, coalesce(col(MatVerCol),
            element_at(avMap, col("__graft_file"))))
        } else out0)
          .drop(MatCol, MatVerCol)
      } else {
        val baseDf = entries
          .map(e => (e.name, e.rowBase, e.addedV.map(_.toLong)))
          .toDF("__graft_file", "__graft_rowbase", "__graft_addedv")
        val out0 = df.join(broadcast(baseDf), Seq("__graft_file"))
          .withColumn(Col,
            coalesce(col(MatCol), col("__graft_rowbase") + col("__graft_pos")))
        (if (withVersions)
          out0.withColumn(VerCol, coalesce(col(MatVerCol), col("__graft_addedv")))
        else out0)
          .drop(MatCol, MatVerCol, "__graft_rowbase", "__graft_addedv")
      }
    val out = out1.select(wanted.map(col): _*)
    if (keepPos) out else out.drop("__graft_file", "__graft_pos")
  }

  /** One table of a [[DbLog]] database with `_row_id` /
    * `_row_commit_version` — [[read]]'s per-table form: same
    * resolution, the table's own pin.
    */
  def readTable(spark: SparkSession, db: String, table: String): DataFrame =
    readTableAt(spark, db, table, Int.MaxValue)

  /** [[readTable]] at a retained database `version` (consistent-cut
    * time travel with row ids); schema at `schemaVersion` when a
    * caller froze it later (the streaming source's recovery batches).
    */
  def readTableAt(
      spark: SparkSession, db: String, table: String, version: Int,
      schemaVersion: Int = -1): DataFrame = {
    require(enabledTable(spark, db, table),
      s"row tracking is not enabled on $db/$table")
    val schemaV = if (schemaVersion >= 0) schemaVersion else version
    val entries = DbLog.entriesOf(spark, db, table, version)
    val pin = DbLog.tableSchema(spark, db, table, schemaV)
    if (entries.isEmpty) {
      require(pin.isDefined,
        s"version $version of $db/$table holds no files and no pin")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        pin.get.add(Col, LongType).add(VerCol, LongType))
    }
    withIds(spark, db, entries, schemaVersion = schemaV,
      withVersions = true, pinOpt = pin)
  }

  /** [[attachForRewrite]] for one table of a [[DbLog]] database —
    * ids/versions materialized through the TABLE'S pin. None when the
    * table is untracked.
    */
  private[ops] def attachForRewriteTable(
      spark: SparkSession,
      db: String,
      table: String,
      entries: Seq[TxLog.AddEntry]): Option[DataFrame] =
    if (entries.isEmpty || !enabledTable(spark, db, table)) None
    else Some(withIds(spark, db, entries, withVersions = true,
        pinOpt = DbLog.tableSchema(spark, db, table))
      .withColumnRenamed(Col, MatCol)
      .withColumnRenamed(VerCol, MatVerCol))

  /** [[inheritByKeys]] for one table of a [[DbLog]] database. The key
    * pairing MIRRORS the hide semantics of the rewrite it serves
    * (`nullSafe` = the caller's `nullSafeKeys`): under null-safe
    * hides a null-keyed group names a real row (e.g. row tracking on
    * an mv state table whose group key is NULL), and a null-unequal
    * inherit would mint that row a fresh id on EVERY application —
    * spurious delete+insert churn on every keyless feed downstream.
    * Under plain SQL hides the old null-keyed row stays LIVE, so its
    * id must NOT be inherited (two live rows, one id) — the
    * null-unequal join is the correct one there.
    */
  private[ops] def inheritByKeysTable(
      spark: SparkSession,
      db: String,
      table: String,
      batch: DataFrame,
      keyCols: Seq[String],
      candEntries: Seq[TxLog.AddEntry],
      nullSafe: Boolean = false): DataFrame =
    if (candEntries.isEmpty) batch.withColumn(MatCol, lit(null).cast("long"))
    else {
      val oldIds = withIds(spark, db, candEntries,
          pinOpt = DbLog.tableSchema(spark, db, table))
        .groupBy(keyCols.map(col): _*).agg(max(col(Col)).as(MatCol))
      if (nullSafe) RelationalOps.nullSafeMerge(batch, oldIds, keyCols, "left")
      else batch.join(oldIds, keyCols, "left_outer")
    }

  /** The rewrite-read seam: the rows of `entries` with their current
    * ids MATERIALIZED (as [[MatCol]]) so a rewrite that changes
    * positions carries them into its replacement files. None when the
    * table is untracked — callers fall back to their plain read.
    */
  private[ops] def attachForRewrite(
      spark: SparkSession,
      dir: String,
      entries: Seq[TxLog.AddEntry]): Option[DataFrame] =
    if (entries.isEmpty || !enabled(spark, dir)) None
    else Some(withIds(spark, dir, entries, withVersions = true)
      .withColumnRenamed(Col, MatCol)
      .withColumnRenamed(VerCol, MatVerCol))

  /** [[DeletionVectors.positionedSnapshot]] + materialized ids — what
    * the SQL MERGE planner reads so UPDATE images inherit their row's
    * id (INSERT images carry NULL there and read fresh position ids).
    */
  private[graft] def positionedWithIds(
      spark: SparkSession, dir: String): DataFrame =
    withIds(spark, dir, TxLog.liveEntries(spark, dir), keepPos = true)
      .withColumnRenamed(Col, MatCol)

  /** The keyed-upsert inheritance: attach each batch row's CURRENT id
    * (by merge key) as [[MatCol]] — matched keys keep their row's id,
    * misses read NULL and resolve to the appended file's fresh
    * position ids. One aggregate over the candidate files only.
    */
  private[ops] def inheritByKeys(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      keyCols: Seq[String],
      candEntries: Seq[TxLog.AddEntry]): DataFrame =
    if (candEntries.isEmpty) batch.withColumn(MatCol, lit(null).cast("long"))
    else {
      val oldIds = withIds(spark, dir, candEntries)
        .groupBy(keyCols.map(col): _*).agg(max(col(Col)).as(MatCol))
      batch.join(oldIds, keyCols, "left_outer")
    }

  private[ops] def pruneLedger(spark: SparkSession, dir: String): Unit =
    MetaLedger.prune(spark, dir, LedgerPrefix)
}
