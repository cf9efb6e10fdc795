package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, max, not}

/** Multi-table ATOMIC transactions — the one lakehouse property a
  * per-table log cannot give (Delta has no multi-table commit;
  * Iceberg needs a REST catalog to stage one). The trick here is to
  * not need a second coordination primitive at all: a DATABASE is a
  * single [[TxLog]]-managed root whose tables are name-prefixed
  * subdirectories (`db/orders/part-….parquet` — the same
  * relative-prefix mechanics the hive-partition support already
  * exercises), so a transaction touching N tables is ONE version
  * file landed by the log's existing kernel-atomic claim. Every
  * reader goes through the same log fold, so atomicity and
  * cross-table snapshot isolation hold for ALL readers with no
  * "catalog readers only" caveat — the honest visibility story the
  * TODO demanded before this could ship: a snapshot at version V is
  * a consistent cut across every table in the database, and time
  * travel reconstructs the whole database, not one table, at once.
  *
  * Write protocol (the [[Compact.stageRewrite]] discipline, widened
  * to many tables): each staged operation writes its files to a
  * hidden staging dir, moves them under `db/<table>/`, and RECORDS
  * adds/removes — nothing commits until [[Txn.commit]] folds every
  * recorded entry into one [[TxLog.commitEntries]] call. A crash
  * before that leaves orphan files no version references (invisible
  * to every reader; vacuum's age-gated orphan sweep reclaims them).
  * Write-write conflicts are the log's own rule: the commit
  * validates that every file this transaction rewrites is still
  * live at the parent version, so two transactions deleting from
  * the same file serialize — the loser gets a
  * [[java.util.ConcurrentModificationException]] and recomputes.
  * Reads inside the transaction pin the version current at [[begin]]
  * (repeatable reads from one consistent cut).
  *
  * 100 TB shape: identical to [[TxLog]]'s — the log is file NAMES,
  * a commit is O(touched files) metadata, table scans are explicit
  * file lists (no directory listing of the whole database), and
  * [[Txn.deleteWhere]] locates candidate files with ONE scan whose
  * predicate is pushed down before rewriting only the files that
  * actually contain matches.
  *
  * Deletion vectors compose (round 12): [[Txn.deleteWhereVectored]]
  * and [[Txn.upsertKeyed]] stage table-prefix-scoped vectors through
  * [[DeletionVectors.stageDelete]] — sidecars live at the database
  * root, position sets key on prefixed names, and every read path
  * (snapshot, diff, the copy-on-write rewrites) goes through the one
  * DV-applying reader, so merge-on-read and copy-on-write interleave
  * freely across tables inside one atomic commit.
  *
  * Reference anchor: the reference runs each load as one pandas
  * `to_sql` batch per table with no cross-table transaction
  * (reference `dags/emission-dag.py:68-90` loads drivers, then cars,
  * then cities/countries, then the fact, each via the per-table
  * `to_sql` in `dags/utils.py:33`) — the consistency gap this
  * closes at warehouse scale.
  */
object DbLog {

  /** A driver-collecting in-transaction upsert refused its key batch
    * as data-sized; the message names the safe alternatives
    * ([[Txn.applyKeyed]] in-txn, [[UpsertWhere.byKeysDistributed]]
    * outside).
    */
  final class UpsertTooLarge(msg: String)
      extends IllegalArgumentException(msg)

  private val TableName = "[A-Za-z_][A-Za-z0-9_]*".r

  private[ops] def isTableName(t: String): Boolean =
    TableName.pattern.matcher(t).matches()

  private def requireTableName(t: String): Unit =
    require(isTableName(t),
      s"DbLog table names must match [A-Za-z_][A-Za-z0-9_]* — got '$t' " +
        "('=' would hive-parse, '/' would nest)")

  /** Bring `db` under database-log management (creating it if
    * absent). An existing directory tree converts with its
    * subdirectory layout intact: each first-level directory becomes
    * a table. Idempotent.
    */
  def create(spark: SparkSession, db: String): Int = TxLog.convert(spark, db)

  def exists(spark: SparkSession, db: String): Boolean =
    TxLog.exists(spark, db)

  /** Table names present at `version` (default current): the
    * distinct first path segment of the live entries.
    */
  def tables(
      spark: SparkSession,
      db: String,
      version: Int = Int.MaxValue): Seq[String] =
    TxLog.liveEntries(spark, db, version).map(_.name)
      .collect { case n if n.contains('/') => n.substring(0, n.indexOf('/')) }
      .distinct.sorted

  private[ops] def entriesOf(
      spark: SparkSession,
      db: String,
      table: String,
      version: Int): Seq[TxLog.AddEntry] = {
    requireTableName(table)
    TxLog.liveEntries(spark, db, version)
      .filter(_.name.startsWith(table + "/"))
  }

  /** One table's rows at `version` (default current) — a consistent
    * cut: two snapshots at the same version, of any two tables, came
    * from the same commit, which is the whole point.
    */
  def snapshot(
      spark: SparkSession,
      db: String,
      table: String,
      version: Int = Int.MaxValue,
      schemaVersion: Int = -1): DataFrame = {
    val schemaV = if (schemaVersion >= 0) schemaVersion else version
    val entries = entriesOf(spark, db, table, version)
    require(entries.nonEmpty,
      s"table '$table' holds no files at version $version of $db " +
        s"(have: ${tables(spark, db, version).mkString(", ")})")
    TxLog.readEntries(spark, db, entries, schemaVersion = schemaV,
      pinOverride = tableSchema(spark, db, table, schemaV))
  }

  def currentVersion(spark: SparkSession, db: String): Int =
    TxLog.currentVersion(spark, db)

  // ---- per-table metadata --------------------------------------------
  // Namespaced files in the one log dir (`constraints.<table>.txt`,
  // `stats_cols.<table>.txt`, `schema.<table>.<v>.json`): each table
  // of a database carries its OWN CHECK constraints, schema pin and
  // stats-column declaration, enforced/applied only on that table's
  // writes and reads. The dir-wide TxLog forms stay what they are —
  // a database never sets them (its tables have different schemas,
  // so one shared expression/pin would be wrong by construction).

  /** Declare CHECK constraints for ONE table of the database. Every
    * [[Txn]] write path that stages rows into `table` validates its
    * STAGED rows (delta-sized) against these — and only these —
    * before anything commits; a violation throws
    * [[TxLog.ConstraintViolation]] and the transaction never
    * publishes. Pass Nil to drop enforcement.
    */
  def setCheckConstraints(
      spark: SparkSession, db: String, table: String,
      exprs: Seq[String]): Unit = {
    requireTableName(table)
    TxLog.metaWrite(spark, db, s"constraints.$table.txt",
      exprs.mkString("\n"))
  }

  def checkConstraints(
      spark: SparkSession, db: String, table: String): Seq[String] = {
    requireTableName(table)
    TxLog.metaRead(spark, db, s"constraints.$table.txt")
      .map(_.linesIterator.filter(_.nonEmpty).toList).getOrElse(Nil)
  }

  private def enforce(
      spark: SparkSession, db: String, table: String,
      staged: DataFrame): Unit =
    checkConstraints(spark, db, table).foreach { c =>
      val bad = staged.filter(
        not(org.apache.spark.sql.functions.expr(c))).limit(1).count()
      if (bad > 0)
        throw new TxLog.ConstraintViolation(
          s"write to $db/$table violates CHECK constraint ($c); " +
            "nothing committed")
    }

  /** Declare which columns of ONE table carry commit-time min/max
    * stats. Overrides any dir-wide declaration for adds under the
    * table's prefix, so two tables of one database index different
    * columns.
    */
  def setStatsColumns(
      spark: SparkSession, db: String, table: String,
      cols: Seq[String]): Unit = {
    requireTableName(table)
    require(cols.forall(c => !c.exists("|,:".contains(_))),
      s"stats columns must avoid '|', ',' and ':' — got $cols")
    TxLog.metaWrite(spark, db, s"stats_cols.$table.txt",
      cols.mkString("\n"))
  }

  /** Candidate files of ONE table at `version` under a CONJUNCTION of
    * per-column numeric [lo, hi] bounds, decided from the ADD-carried
    * log stats alone ([[TxLog.candidateFilesFromLog]]'s per-table
    * form — no footer reads at plan time). Columns speak the table's
    * logical names (stats are keyed physical; the table pin
    * translates); an entry without stats for a bound's column is
    * always a candidate — unknown never prunes.
    */
  def candidateTableFiles(
      spark: SparkSession, db: String, table: String,
      bounds: Seq[(String, Double, Double)],
      version: Int = Int.MaxValue): Seq[String] = {
    val pin = tableSchema(spark, db, table, version)
    val phys = bounds.map { case (c, lo, hi) =>
      (pin.map(ColumnMapping.physicalOf(_, c)).getOrElse(c), lo, hi)
    }
    entriesOf(spark, db, table, version).collect {
      case e if phys.forall { case (pc, lo, hi) =>
        e.stats.find(_.column == pc).forall(s => s.max >= lo && s.min <= hi)
      } => e.name
    }
  }

  /** [[TxLog.candidateFilesStringRange]]'s per-table form: files of
    * `table` whose footer lexicographic [min, max] on STRING `column`
    * can intersect [lo, hi], in unsigned UTF-8 byte order, manifests
    * read distributed with the session conf shipped. A file whose
    * stats were omitted never prunes.
    */
  def candidateTableFilesString(
      spark: SparkSession, db: String, table: String,
      column: String, lo: String, hi: String,
      version: Int = Int.MaxValue): Seq[String] = {
    val entries = entriesOf(spark, db, table, version)
    if (entries.isEmpty) return Nil
    val pc = tableSchema(spark, db, table, version)
      .map(ColumnMapping.physicalOf(_, column)).getOrElse(column)
    val stats = ZoneMap.stringStatsRows(spark,
        entries.map(e => TxLog.dataPathOf(db, e)), Seq(pc))
      .select("file", "min_str", "max_str").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    entries.filter { e =>
      stats.get(TxLog.dataPathOf(db, e)) match {
        case Some((mn, mx)) =>
          ZoneMap.leUtf8(mn, hi) && ZoneMap.leUtf8(lo, mx)
        case None => true // unknown never prunes
      }
    }.map(_.name)
  }

  /** One table's rows at `version` restricted to an EXPLICIT live-file
    * subset (names from the candidate routines above) — the per-table
    * seam selective readers ([[DbMv]]'s dim-term fact scan) build on.
    * An empty subset reads nothing but keeps the table's schema.
    */
  private[ops] def snapshotOfFiles(
      spark: SparkSession, db: String, table: String,
      names: Set[String], version: Int = Int.MaxValue): DataFrame = {
    val entries = entriesOf(spark, db, table, version)
    val keep = entries.filter(e => names(e.name))
    if (keep.isEmpty)
      TxLog.readEntries(spark, db, entries, schemaVersion = version,
        pinOverride = tableSchema(spark, db, table, version)).limit(0)
    else
      TxLog.readEntries(spark, db, keep, schemaVersion = version,
        pinOverride = tableSchema(spark, db, table, version))
  }

  /** Pin ONE table's schema at `version` (default: the database's
    * current version). Reads of that table at or after the pin use
    * it instead of footer sampling — files lacking an evolved column
    * read NULL; earlier versions keep their own width.
    */
  def setTableSchema(
      spark: SparkSession, db: String, table: String,
      schema: org.apache.spark.sql.types.StructType,
      version: Int = -1): Unit = {
    requireTableName(table)
    val v = if (version >= 0) version else currentVersion(spark, db)
    TxLog.metaWrite(spark, db, f"schema.$table.$v%08d.json", schema.json)
  }

  /** The newest pin for `table` at or before `version`; None when the
    * table never pinned one.
    */
  def tableSchema(
      spark: SparkSession, db: String, table: String,
      version: Int = Int.MaxValue):
      Option[org.apache.spark.sql.types.StructType] = {
    requireTableName(table)
    val pfx = s"schema.$table."
    val pins = TxLog.metaList(spark, db, pfx)
      .flatMap { n =>
        val core = n.stripPrefix(pfx).stripSuffix(".json")
        if (core.matches("\\d{8}")) Some(core.toInt) else None
      }
      .filter(_ <= version)
    if (pins.isEmpty) return None
    TxLog.metaRead(spark, db, f"$pfx${pins.max}%08d.json").map(
      org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** PER-TABLE COLUMN MAPPING: `RENAME COLUMN` on ONE table of the
    * database — the rename a multi-table warehouse actually performs.
    * The mapping lives on the TABLE'S OWN pin namespace
    * (`schema.<table>.<v>.json`): enabling freezes that table's
    * physical names ([[ColumnMapping.frozen]]), the rename re-pins the
    * new logical spelling over the unchanged physical one at a fresh
    * (empty) commit, and no other table's pin, files or constraints
    * are touched. Reads already resolve through the per-table pin
    * ([[snapshot]] passes it as `pinOverride` — physical scan, logical
    * aliasing); every [[Txn]] write path stages PHYSICAL and reads
    * LOGICAL through the same pin, so post-rename appends/deletes/
    * upserts keep one on-disk spelling. Earlier versions keep their
    * own names (pins are version-keyed). Declared stats columns follow
    * the rename; this table's CHECK constraints referencing the column
    * refuse, exactly like the dir-wide form.
    */
  def renameColumn(
      spark: SparkSession, db: String, table: String,
      from: String, to: String): Int = {
    requireTableName(table)
    val pin = ColumnMapping.frozen(pinOf(spark, db, table))
    require(pin.fieldNames.contains(from),
      s"rename: no column $from in $db/$table")
    require(!pin.fieldNames.contains(to),
      s"rename: $to already exists in $db/$table")
    require(!to.startsWith("__graft_"),
      "rename: the __graft_ prefix is reserved for positional metadata")
    val constrained = checkConstraints(spark, db, table)
      .filter(_.matches(
        s"(?i).*\\b${java.util.regex.Pattern.quote(from)}\\b.*"))
    require(constrained.isEmpty,
      s"rename $from: CHECK constraint(s) of '$table' reference it: " +
        s"$constrained — drop or rewrite them first (setCheckConstraints)")
    val renamed = org.apache.spark.sql.types.StructType(pin.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    // one empty commit stamps the version the renamed pin keys to —
    // snapshots strictly before it keep the old name
    val v = TxLog.commitEntries(spark, db, adds = Nil, removes = Nil,
      op = Some(s"rename-column($table.$from->$to)"))
    setTableSchema(spark, db, table, renamed, v)
    // declared stats columns follow the rename (they speak logical)
    TxLog.metaRead(spark, db, s"stats_cols.$table.txt").foreach { body =>
      val cols = body.linesIterator.filter(_.nonEmpty).toSeq
      if (cols.contains(from))
        setStatsColumns(spark, db, table,
          cols.map(c => if (c == from) to else c))
    }
    v
  }

  /** Per-table ADD COLUMN: the new column joins ONE table's pin with a
    * FRESH physical name (`<name>__v<v>` — a later DROP + re-ADD of
    * the same logical name maps to fresh storage, never resurrecting
    * old footers), at one empty commit. Pre-evolution rows read NULL.
    */
  def addColumn(
      spark: SparkSession, db: String, table: String,
      field: org.apache.spark.sql.types.StructField): Int = {
    requireTableName(table)
    require(field.nullable, "add: new columns must be nullable " +
      "(pre-evolution rows read NULL)")
    val pin = ColumnMapping.frozen(pinOf(spark, db, table))
    require(!pin.fieldNames.contains(field.name),
      s"add: ${field.name} already exists in $db/$table")
    val v = TxLog.commitEntries(spark, db, adds = Nil, removes = Nil,
      op = Some(s"add-column($table.${field.name})"))
    val taken = tableNamesEverUsed(spark, db, table)
    var cand = s"${field.name}__v$v"
    while (taken(cand)) cand += "_"
    setTableSchema(spark, db, table,
      org.apache.spark.sql.types.StructType(
        pin.fields :+ ColumnMapping.withPhysical(field, cand)), v)
    v
  }

  /** Per-table DROP COLUMN: the narrowed pin forgets the logical name;
    * the physical name stays burned in the table's pin history, so a
    * re-ADD maps to fresh storage. This table's CHECK constraints
    * referencing the column refuse; declared stats columns follow.
    */
  def dropColumn(
      spark: SparkSession, db: String, table: String, name: String): Int = {
    requireTableName(table)
    val pin = ColumnMapping.frozen(pinOf(spark, db, table))
    require(pin.fieldNames.contains(name), s"drop: no column $name in $db/$table")
    require(pin.fields.length > 1, "drop: cannot drop every column")
    val constrained = checkConstraints(spark, db, table)
      .filter(_.matches(
        s"(?i).*\\b${java.util.regex.Pattern.quote(name)}\\b.*"))
    require(constrained.isEmpty,
      s"drop $name: CHECK constraint(s) of '$table' reference it: " +
        s"$constrained — drop or rewrite them first (setCheckConstraints)")
    val v = TxLog.commitEntries(spark, db, adds = Nil, removes = Nil,
      op = Some(s"drop-column($table.$name)"))
    setTableSchema(spark, db, table,
      org.apache.spark.sql.types.StructType(
        pin.fields.filterNot(_.name == name)), v)
    TxLog.metaRead(spark, db, s"stats_cols.$table.txt").foreach { body =>
      val cols = body.linesIterator.filter(_.nonEmpty).toSeq
      if (cols.contains(name))
        setStatsColumns(spark, db, table, cols.filterNot(_ == name))
    }
    v
  }

  /** Per-table ALTER COLUMN TYPE: LOSSLESS widening of ONE table's
    * column — the missing cell of the per-table schema-evolution
    * matrix (rename/add/drop above). Metadata-only: the retyped pin
    * lands on the TABLE'S OWN namespace at one empty commit, old
    * footers serve the wide type natively ([[TypeWidening.canWiden]]
    * allowlist — the same list the single-table `ALTER TABLE … ALTER
    * COLUMN TYPE` enforces), no file rewritten and no sibling table's
    * pin touched. Composes with per-table column mapping: the field
    * retypes IN PLACE keeping its physical name, so a rename-then-
    * widen (or widen-then-rename) chain stays one on-disk spelling.
    * Cross-table AS OF stays a consistent cut: snapshots strictly
    * before the stamping commit read the narrow type, at-or-after
    * read wide — version-keyed pins, same rule as rename. Declared
    * per-table stats stay valid (min/max compare numerically under
    * either width); CHECK constraints re-evaluate under the wide type
    * with unchanged truth on the allowlisted casts.
    */
  def alterColumnType(
      spark: SparkSession, db: String, table: String,
      name: String, to: org.apache.spark.sql.types.DataType): Int = {
    requireTableName(table)
    val pin = pinOf(spark, db, table)
    val f = pin.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"alter type: no column $name in $db/$table"))
    require(TypeWidening.canWiden(f.dataType, to),
      TypeWidening.refuse(s"$table.$name", f.dataType, to))
    val v = TxLog.commitEntries(spark, db, adds = Nil, removes = Nil,
      op = Some(s"alter-column-type($table.$name)"))
    setTableSchema(spark, db, table,
      org.apache.spark.sql.types.StructType(pin.fields.map(x =>
        if (x.name == name) x.copy(dataType = to) else x)), v)
    v
  }

  /** The table's current pin — written by the commit that created it. */
  private def pinOf(
      spark: SparkSession, db: String, table: String):
      org.apache.spark.sql.types.StructType = {
    val pin = tableSchema(spark, db, table)
    require(pin.isDefined, s"no such table '$table' in $db")
    pin.get
  }

  /** Every physical and logical name any retained pin of this TABLE
    * ever used — the collision set a fresh physical name must avoid.
    */
  private def tableNamesEverUsed(
      spark: SparkSession, db: String, table: String): Set[String] = {
    val pfx = s"schema.$table."
    TxLog.metaList(spark, db, pfx)
      .filter(_.stripPrefix(pfx).stripSuffix(".json").matches("\\d{8}"))
      .flatMap { n =>
        TxLog.metaRead(spark, db, n).toSeq.flatMap { body =>
          val sc = org.apache.spark.sql.types.DataType.fromJson(body)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          sc.fields.flatMap(f =>
            Seq(f.name, ColumnMapping.physicalName(f)))
        }
      }.toSet
  }

  /** The database's commit history ([[TxLog.history]] verbatim —
    * one history for all tables, because there is one log).
    */
  def history(spark: SparkSession, db: String): DataFrame =
    TxLog.history(spark, db)

  /** One table's row-level change feed between two DATABASE versions
    * — [[TxLog.diff]] restricted to the table's prefix, same
    * changed-files-only cost. The property a per-table log cannot
    * give a multi-table consumer: version numbers are shared across
    * the whole database, so reading table A's feed and table B's
    * feed over the SAME (from, to] advances both from one consistent
    * cut to another — a transaction's effects appear in both feeds
    * or in neither, never torn.
    */
  def diff(
      spark: SparkSession,
      db: String,
      table: String,
      fromVersion: Int,
      toVersion: Int,
      schemaVersion: Int = -1): DataFrame =
    diffOfTable(spark, db, table, fromVersion, toVersion, schemaVersion,
      TxLog.liveEntries(spark, db, fromVersion),
      TxLog.liveEntries(spark, db, toVersion),
      TxLog.cdcNamesInRange(spark, db, fromVersion, toVersion))

  /** [[diff]] over PRE-READ log state — the seam a multi-table
    * consumer ([[DbMv.refreshStar]]: one transaction, one (from, to],
    * N member tables) uses so the two live-entry folds, the range's
    * CDC-name listing and the sidecar coverage probe are read ONCE
    * per advance and shared across every member table's diff, instead
    * of once per table.
    */
  private[ops] def diffOfTable(
      spark: SparkSession,
      db: String,
      table: String,
      fromVersion: Int,
      toVersion: Int,
      schemaVersion: Int,
      entsFrom: Seq[TxLog.AddEntry],
      entsTo: Seq[TxLog.AddEntry],
      cdcNames: Seq[String],
      cdcIndex: Option[() => Map[String, Set[String]]] = None): DataFrame = {
    require(fromVersion <= toVersion,
      s"diff: fromVersion $fromVersion > toVersion $toVersion")
    requireTableName(table)
    val pfx = table + "/"
    val schemaV = if (schemaVersion >= 0) schemaVersion else toVersion
    TxLog.diffOfEntries(spark, db,
      entsFrom.filter(_.name.startsWith(pfx)),
      entsTo.filter(_.name.startsWith(pfx)),
      toVersion,
      schemaV = schemaV,
      pinOverride = tableSchema(spark, db, table, schemaV),
      // the commits' sidecars may span SIBLING tables (one txn, many
      // applyKeyed) — the (file, pos) join scopes to this table's
      // prefix, foreign rows never pair
      cdcNames = cdcNames,
      cdcIndex = cdcIndex)
  }

  /** One table's row-level change feed WITH UPDATE IMAGES and
    * per-commit attribution — [[TxLog.changes]] restricted to the
    * table's prefix: each database commit that touched this table
    * contributes its delete/insert/update_preimage/update_postimage
    * rows stamped `_commit_version`; commits that only touched OTHER
    * tables are skipped without reading a byte (the entry-set
    * equality check sees an unchanged view).
    *
    * KEYLESS form: `keyCols = Nil` on a per-table row-tracked table
    * ([[RowTracking.enableTable]]) pairs images by the stable
    * `_row_id` — no user key, exact pairing, compaction movement
    * nets to nothing; the feed gains the `_row_id` column.
    */
  def changes(
      spark: SparkSession,
      db: String,
      table: String,
      fromVersion: Int,
      toVersion: Int,
      keyCols: Seq[String],
      schemaVersion: Int = -1): DataFrame = {
    requireTableName(table)
    val pfx = table + "/"
    val schemaV = if (schemaVersion >= 0) schemaVersion else toVersion
    TxLog.changesOfEntries(spark, db, fromVersion, toVersion, keyCols,
      v => TxLog.liveEntries(spark, db, v).filter(_.name.startsWith(pfx)),
      // the range-end per-table pin: one uniform LOGICAL feed schema
      // even across a mid-range rename (the CDF contract)
      pinOverride = tableSchema(spark, db, table, schemaV),
      schemaVersion = schemaV,
      trackedTable = Some(table))
  }

  /** Cursor advance for a multi-table consumer: the change feed of
    * EVERY requested table from `sinceVersion` to one shared current
    * version, returned with that version as the next cursor — one
    * number to persist, one consistent cut for all feeds.
    */
  def diffSince(
      spark: SparkSession,
      db: String,
      tables: Seq[String],
      sinceVersion: Int): (Map[String, DataFrame], Int) = {
    val cur = currentVersion(spark, db)
    (tables.map(t => t -> diff(spark, db, t, sinceVersion, cur)).toMap, cur)
  }

  /** [[TxLog.replicateByRowId]] for ONE table of a database: the
    * keyless `_row_id` feed ([[changes]] with `keyCols = Nil` over a
    * [[RowTracking.enableTable]]-tracked table) replicates
    * `db/<table>` into a standalone TxLog replica. Everything the
    * single-table form buys carries over — no key column to choose,
    * RENAME-PROOF through the TABLE's own pins (the physical-identity
    * diff re-spells the replica before the feed applies), compaction
    * advances net to an empty feed — plus the database property: the
    * cursor is a DATABASE version, so advances taken per-table from
    * one shared version are consistent cuts across replicas of
    * sibling tables. Commits that touched only OTHER tables skip
    * without reading a byte and move the cursor. `autoRecreate` as in
    * the single-table form (refusals are [[TxLog.ReplicaDiverged]]).
    */
  def replicateTableByRowId(
      spark: SparkSession,
      db: String,
      table: String,
      dstDir: String,
      autoRecreate: Boolean = false): (Int, Int) = {
    requireTableName(table)
    require(RowTracking.enabledTable(spark, db, table),
      s"replicateTableByRowId: per-table row tracking is not enabled " +
        s"on $db/$table (RowTracking.enableTable)")
    val cur = currentVersion(spark, db)
    TxLog.replicateRowIdScaffold(spark, dstDir,
      "replsrc_dbrowid_cursor.txt", "replicateTableByRowId", cur,
      retainedAt = f => TxLog.retainedVersions(spark, db).contains(f),
      srcAtCur = () => RowTracking.readTableAt(spark, db, table, cur)
        .drop(RowTracking.VerCol),
      feedOver = f => changes(spark, db, table, f, cur, Nil),
      // the replica follows the TABLE's renames (feed speaks the
      // range-END logical names); physical identity comes from the
      // per-table pins. Empty replica: nothing to re-spell, and the
      // pin resolution is not worth paying for nothing.
      followRenames = f =>
        if (TxLog.liveEntries(spark, dstDir).nonEmpty)
          followTableRenames(spark, db, table, dstDir, f),
      autoRecreate = autoRecreate)
  }

  private def followTableRenames(
      spark: SparkSession, db: String, table: String, dstDir: String,
      f: Int): Unit = {
    val pinNow = tableSchema(spark, db, table)
    val oldByPhys: Map[String, String] =
      tableSchema(spark, db, table, f) match {
        case Some(pa) => pa.fields
          .map(x => ColumnMapping.physicalName(x) -> x.name).toMap
        case None => snapshot(spark, db, table, f).schema.fieldNames
          .map(n => n -> n).toMap
      }
    val srcColsNow = pinNow.map(_.fieldNames.toSet).getOrElse(
      snapshot(spark, db, table).schema.fieldNames.toSet)
    TxLog.followRenamesOnto(spark, dstDir, pinNow, oldByPhys, srcColsNow)
  }

  /** Open a transaction, run `body`, commit everything it staged as
    * ONE atomic version. Returns the committed version. Any throw
    * from `body` abandons the staged files uncommitted (invisible;
    * orphan-swept later) — nothing to roll back because nothing
    * published.
    */
  def transact(spark: SparkSession, db: String, op: String = "txn")(
      body: Txn => Unit): Int = {
    val txn = begin(spark, db)
    body(txn)
    txn.commit(op)
  }

  /** Single-table convenience: create-or-append `table` from `df` in
    * its own transaction.
    */
  def append(
      spark: SparkSession, db: String, table: String, df: DataFrame): Int =
    transact(spark, db, s"append($table)")(_.append(table, df))

  /** Stage `write`'s output files under `db/<table>/` — the one move
    * every committed table write shares (the [[Compact.stageRewrite]]
    * discipline: files land invisible, a later commit publishes them).
    * Returns the table-prefixed relative names.
    */
  private def stageInto(
      spark: SparkSession, db: String, table: String,
      write: String => Unit): Seq[String] = {
    requireTableName(table)
    val fs = Compact.fsOf(spark, db)
    val stage = new Path(db, s".dblog_stage_${java.util.UUID.randomUUID}")
    write(stage.toString)
    val names = fs.listStatus(stage).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).sorted
    fs.mkdirs(new Path(db, table))
    names.foreach { n =>
      if (!fs.rename(new Path(stage, n), new Path(db, s"$table/$n")))
        throw new java.io.IOException(s"dblog: cannot move $table/$n into $db")
    }
    fs.delete(stage, true)
    names.map(n => s"$table/$n")
  }

  /** Fold ONE table's deletion vectors into its data files — the
    * per-table form of [[DeletionVectors.materialize]] (which reads
    * every DV-carrying entry of a dir TOGETHER and therefore cannot
    * run on a database: sibling tables' schemas differ). Each
    * DV-carrying entry of `table` rewrites to its VISIBLE rows (ids
    * and commit versions materialized on a tracked table — the fold
    * moves rows without changing any row's identity or provenance)
    * and the vector dies with the replaced entry. Returns the
    * committed version, or -1 when the table carries no vectors.
    * Composes with [[compactTable]] (which SKIPS DV-carrying files):
    * materialize first, then pack — the maintenance pair
    * [[DbMv.maintainStar]] runs on merge-on-read view state. A
    * row-id replica sees the fold as NOTHING (identical (row, id)
    * pairs net to an empty keyless feed).
    */
  def materializeTable(
      spark: SparkSession, db: String, table: String): Int = {
    requireTableName(table)
    val entries = entriesOf(spark, db, table, Int.MaxValue)
    require(entries.nonEmpty,
      s"materializeTable: no such table '$table' in $db")
    val dvd = entries.filter(_.dv.isDefined)
    if (dvd.isEmpty) return -1
    val pin = tableSchema(spark, db, table)
    val rows = RowTracking.attachForRewriteTable(spark, db, table, dvd)
      .getOrElse(TxLog.readEntries(spark, db, dvd, pinOverride = pin))
    val out = pin.map(ColumnMapping.toPhysical(rows, _)).getOrElse(rows)
    val rels = stageInto(spark, db, table,
      p => out.write.mode("overwrite").parquet(p))
    TxLog.commitEntries(spark, db, adds = rels.map(TxLog.AddEntry(_)),
      removes = dvd.map(_.name), seen = dvd,
      op = Some(s"materialize-table($table)"))
  }

  /** Bin-pack ONE table's small files into ~`targetBytes` outputs —
    * [[Compact.binPack]] confined to the table's prefix, as one
    * database commit. DV-carrying entries are skipped (packing raw
    * bytes would resurrect hidden rows — [[DeletionVectors
    * .materialize]] folds them first, the next pack picks them up);
    * on a row-tracked table the packed rows travel with their ids
    * AND commit versions materialized, so the movement is invisible
    * to every id consumer. Returns the committed version, or -1 when
    * fewer than two small files existed (nothing committed). Cost
    * O(small bytes of this table), never O(database).
    */
  def compactTable(
      spark: SparkSession,
      db: String,
      table: String,
      targetBytes: Long = 128L << 20,
      smallBytes: Long = 64L << 20): Int = {
    requireTableName(table)
    val entries = entriesOf(spark, db, table, Int.MaxValue)
    require(entries.nonEmpty, s"compactTable: no such table '$table' in $db")
    require(entries.forall(_.name.count(_ == '/') == 1),
      s"compactTable: table '$table' has nested partition directories — " +
        "DbLog rewrites support flat tables only")
    val fs = Compact.fsOf(spark, db)
    // one stat per file: the status is captured with the filter (a
    // second getFileStatus pass would double the metadata RPCs and
    // reopen a TOCTOU window against a concurrent vacuum)
    val smallsWithLen = entries.filter(_.dv.isEmpty).flatMap { e =>
      val p = new Path(TxLog.dataPathOf(db, e))
      try {
        val len = fs.getFileStatus(p).getLen
        if (len < smallBytes) Some((e, len)) else None
      } catch { case _: java.io.FileNotFoundException => None }
    }
    if (smallsWithLen.length < 2) return -1
    val smalls = smallsWithLen.map(_._1)
    val packedBytes = smallsWithLen.map(_._2).sum
    val nOut =
      math.max(1L, (packedBytes + targetBytes - 1) / targetBytes).toInt
    val pin = DbLog.tableSchema(spark, db, table)
    val rows = RowTracking.attachForRewriteTable(spark, db, table, smalls)
      .getOrElse(TxLog.readEntries(spark, db, smalls, pinOverride = pin))
    val packed = pin.map(ColumnMapping.toPhysical(rows, _)).getOrElse(rows)
      .repartition(nOut)
    val rels = stageInto(spark, db, table,
      p => packed.write.mode("overwrite").parquet(p))
    TxLog.commitEntries(spark, db, adds = rels.map(TxLog.AddEntry(_)),
      removes = smalls.map(_.name), seen = smalls,
      op = Some(s"compact-table($table)"))
  }

  def begin(spark: SparkSession, db: String): Txn = {
    require(exists(spark, db), s"$db is not a DbLog database — create() first")
    new Txn(spark, db, TxLog.currentVersion(spark, db))
  }

  /** One open transaction: stages file adds/removes across any
    * number of tables, publishes them with a single log commit.
    * Reads ([[table]]) pin `baseVersion` — the consistent cut the
    * transaction's logic computed from, and the cut the conflict
    * check defends (every rewritten file must still be live at
    * commit time).
    */
  final class Txn private[DbLog] (
      spark: SparkSession, db: String, val baseVersion: Int) {

    private val adds = Seq.newBuilder[TxLog.AddEntry]
    private val removes = Seq.newBuilder[String]
    private val seen = Seq.newBuilder[TxLog.AddEntry]
    private val cdcs = Seq.newBuilder[String]
    // per table, the columns of every frame this transaction staged:
    // they pin a table the commit creates and widen an existing pin
    private val frames = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.StructType]
    private var done = false
    // a second rewrite of the same table would re-apply against the
    // BASE version and double the first rewrite's replacements — the
    // staged state is invisible to reads, so disallow rather than
    // silently corrupt; likewise a rewrite cannot see a same-txn
    // append, which would surprise anyone expecting SQL ordering
    private val rewrote = scala.collection.mutable.Set.empty[String]
    private val appended = scala.collection.mutable.Set.empty[String]

    private def requireOpen(): Unit =
      require(!done, "transaction already committed")

    private def checkRewrite(table: String, op: String): Unit =
      require(!rewrote(table) && !appended(table),
        s"$op('$table'): this transaction already staged a write to " +
          s"'$table' — one rewrite per table per transaction (staged " +
          "state is not readable mid-transaction)")

    private def markRewrite(table: String, op: String): Unit = {
      checkRewrite(table, op)
      rewrote += table
    }

    /** Repeatable read: `table` as of this transaction's base
      * version.
      */
    def table(name: String): DataFrame =
      snapshot(spark, db, name, baseVersion)

    def tableExists(name: String): Boolean =
      entriesOf(spark, db, name, baseVersion).nonEmpty

    // per-table column mapping: batches and predicates speak LOGICAL,
    // staged files spell PHYSICAL — the three helpers every write
    // path routes through (identity when the table never renamed)
    private def tablePin(table: String) =
      tableSchema(spark, db, table, baseVersion)
    private def toPhys(table: String, df: DataFrame): DataFrame =
      tablePin(table).map(ColumnMapping.toPhysical(df, _)).getOrElse(df)
    private def toLogical(table: String, df: DataFrame): DataFrame =
      tablePin(table).map(ColumnMapping.toLogical(df, _)).getOrElse(df)

    private def stageIn(table: String, write: String => Unit): Seq[String] =
      DbLog.stageInto(spark, db, table, write)

    private def noteFrame(
        table: String, sc: org.apache.spark.sql.types.StructType): Unit = {
      val prev = frames.getOrElse(table, new org.apache.spark.sql.types.StructType())
      val have = prev.fieldNames.map(_.toLowerCase).toSet
      frames(table) = org.apache.spark.sql.types.StructType(
        prev.fields ++ sc.fields.filterNot(f => have(f.name.toLowerCase)))
    }

    /** Stage an append of `df` into `table` (created on first
      * append). Append-only staging never conflicts with concurrent
      * transactions — it removes nothing.
      */
    def append(table: String, df: DataFrame): Unit = {
      requireOpen()
      enforce(spark, db, table, df)
      appended += table
      val rels = stageIn(table,
        p => toPhys(table, df).write.mode("overwrite").parquet(p))
      adds ++= rels.map(TxLog.AddEntry(_))
      noteFrame(table, df.schema)
    }

    /** Stage a full replacement of `table`'s contents. */
    def overwrite(table: String, df: DataFrame): Unit = {
      requireOpen()
      enforce(spark, db, table, df)
      markRewrite(table, "overwrite")
      // DV-carrying olds are fine here: overwrite never reads them,
      // it only drops their entries (the vectors die with them)
      val olds = entriesOf(spark, db, table, baseVersion)
      val rels = stageIn(table,
        p => toPhys(table, df).write.mode("overwrite").parquet(p))
      adds ++= rels.map(TxLog.AddEntry(_))
      removes ++= olds.map(_.name)
      seen ++= olds
      noteFrame(table, df.schema)
    }

    /** Stage a copy-on-write delete: ONE pushdown scan over the
      * table's pinned snapshot finds the files that actually contain
      * matching rows; only those are rewritten (minus the matches —
      * SQL DELETE semantics: a NULL predicate keeps the row).
      * Untouched files ride through by not being mentioned.
      */
    def deleteWhere(table: String, cond: Column): Unit = {
      requireOpen()
      // check-only here: a predicate that matches NOTHING must not
      // mark the table rewritten, or a following same-txn upsert /
      // overwrite after the no-op delete fails spuriously — the
      // rewrite is recorded after the empty-match early return
      checkRewrite(table, "deleteWhere")
      val entries = entriesOf(spark, db, table, baseVersion)
      require(entries.nonEmpty, s"deleteWhere: no such table '$table'")
      // a hive tree nested under the table would lose its path-encoded
      // column through this flat rewrite — refuse, don't corrupt
      require(entries.forall(_.name.count(_ == '/') == 1),
        s"deleteWhere: table '$table' has nested partition directories — " +
          "DbLog rewrites support flat tables only")
      // the log's positioned reader finds hit files (DV-aware: rows a
      // vector already hides cannot match, so replayed deletes are
      // no-ops) — no input_file_name() URI normalization needed
      val hitRels = TxLog.readEntries(spark, db, entries, withPos = true,
          pinOverride = tablePin(table))
        .filter(cond)
        .select(col("__graft_file")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      if (hitRels.isEmpty) return
      markRewrite(table, "deleteWhere")
      val hitSet = hitRels.toSet
      val hitEntries = entries.filter(e => hitSet(e.name))
      // survivors through the same reader: a DV-carrying hit file
      // rewrites to its VISIBLE survivors only — the vector dies with
      // the replaced entry without resurrecting hidden rows. On a
      // row-tracked table the survivors carry their ids AND commit
      // versions MATERIALIZED (this rewrite changes positions — a
      // move must not change any row's identity or provenance)
      val survivors = RowTracking
        .attachForRewriteTable(spark, db, table, hitEntries)
        .getOrElse(TxLog.readEntries(spark, db, hitEntries,
          pinOverride = tablePin(table)))
        .filter(not(coalesce(cond, lit(false))))
      val rels = stageIn(table,
        p => toPhys(table, survivors).write.mode("overwrite").parquet(p))
      adds ++= rels.map(TxLog.AddEntry(_))
      removes ++= hitRels
      seen ++= hitEntries
    }

    /** Stage a MERGE-ON-READ delete: matching rows are hidden by a
      * deletion-vector sidecar scoped to this table's entries —
      * write cost O(deleted rows), not O(touched files' bytes). The
      * vector becomes visible only when this transaction's single
      * commit lands, together with every other table's changes; the
      * `seen` set makes a concurrent DV attach on the same files a
      * commit-time conflict, never a lost update.
      */
    def deleteWhereVectored(table: String, cond: Column): Unit = {
      requireOpen()
      checkRewrite(table, "deleteWhereVectored")
      val entries = entriesOf(spark, db, table, baseVersion)
      require(entries.nonEmpty,
        s"deleteWhereVectored: no such table '$table'")
      val st = DeletionVectors.stageDelete(spark, db, entries,
        df => toLogical(table, df).filter(cond),
        pinOverride = tablePin(table))
      if (st.deletedRows == 0) return
      markRewrite(table, "deleteWhereVectored")
      adds ++= st.adds
      removes ++= st.removes
      seen ++= st.seen
      cdcs ++= st.cdcFiles
    }

    /** Stage a keyed MERGE-ON-READ upsert: same-key rows are hidden
      * by a deletion vector (no data file rewritten — [[
      * DeletionVectors.upsert]]'s write economics) and the batch
      * lands as fresh files, all inside this multi-table
      * transaction. Distributed: the key set is a semi-join, never
      * driver-collected (contrast [[upsert]], the command-batch
      * copy-on-write form).
      */
    def upsertKeyed(
        table: String, keyCols: Seq[String], updates: DataFrame): Unit =
      applyKeyed(table, keyCols, updates,
        updates.select(keyCols.map(col): _*).limit(0))

    /** Stage a keyed CHANGE-BATCH application: rows of `upserts`
      * replace same-key rows AND keys of `deleteKeys` vanish — ONE
      * merge-on-read rewrite (one deletion vector hiding the union of
      * both key sets, one append of `upserts`), so a consumer can
      * apply a full change batch (updates + removals) to one table
      * inside one multi-table transaction. [[upsertKeyed]] is the
      * `deleteKeys`-empty special case; the table must exist when
      * `deleteKeys` is non-empty (there is nothing to delete from
      * otherwise). Write cost O(hidden rows + batch), never O(table).
      */
    def applyKeyed(
        table: String, keyCols: Seq[String],
        upserts: DataFrame, deleteKeys: DataFrame,
        nullSafeKeys: Boolean = false): Unit = {
      requireOpen()
      checkRewrite(table, "applyKeyed")
      require(keyCols.nonEmpty, "applyKeyed: keyCols must be non-empty")
      enforce(spark, db, table, upserts)
      val entries = entriesOf(spark, db, table, baseVersion)
      require(entries.nonEmpty || deleteKeys.isEmpty,
        s"applyKeyed: no such table '$table' but deleteKeys is non-empty")
      val aligned =
        if (entries.isEmpty) upserts
        else upserts.select(TxLog.readEntries(spark, db, entries,
          pinOverride = tablePin(table)).columns.map(col): _*)
      markRewrite(table, "applyKeyed")
      var matchedOpt: Option[DataFrame] = None
      if (entries.nonEmpty) {
        val k = upserts.select(keyCols.map(col): _*)
          .unionByName(deleteKeys.select(keyCols.map(col): _*)).distinct()
        // nullSafeKeys: a NULL key value names a real group for state-
        // maintenance consumers (DbMv star views group rows under
        // NULL dim attributes) — SQL's null-never-equals semi join
        // would leave the old null-keyed row unhidden, duplicating it
        // on every application. <=> matches it; plain keyed upserts
        // keep SQL semantics (a NULL merge key pairs nothing). A
        // state-maintenance key set is one row per changed group, so
        // it is broadcast: planned adaptively, the semi join's stages
        // (and its job count) depended on whether the key aggregate
        // or the table read's deletion-vector broadcast finished first.
        val st = DeletionVectors.stageDelete(spark, db, entries,
          df => {
            val rows = toLogical(table, df)
            if (!nullSafeKeys) rows.join(k, keyCols, "left_semi")
            else {
              val ka = broadcast(k.toDF(keyCols.map(c => s"__k_$c"): _*))
              rows.join(ka, keyCols.map(c =>
                rows(c) <=> ka(s"__k_$c")).reduce(_ && _), "left_semi")
            }
          }, pinOverride = tablePin(table))
        matchedOpt = st.matched
        adds ++= st.adds
        removes ++= st.removes
        seen ++= st.seen
        cdcs ++= st.cdcFiles
      }
      // row tracking: matched keys INHERIT their row's id (written as
      // the materialized column — the pin hides it from plain reads);
      // fresh keys read NULL there and resolve to the new file's
      // position ids. The DV staging above already checkpointed the
      // matched rows WITH their ids (its key semi-join mirrors the
      // inheritance's pairing, null-safe and plain alike), so the
      // inheritance aggregates that churn-sized checkpoint instead of
      // re-scanning the whole table — the former inheritByKeysTable
      // pass here was the one O(table) term of an applyKeyed commit.
      val toWrite =
        if (!RowTracking.enabledTable(spark, db, table)) aligned
        else matchedOpt match {
          case Some(m) if m.columns.contains(RowTracking.Col) =>
            val oldIds = m.groupBy(keyCols.map(col): _*)
              .agg(max(col(RowTracking.Col)).as(RowTracking.MatCol))
            if (nullSafeKeys)
              RelationalOps.nullSafeMerge(aligned, oldIds, keyCols, "left")
            else aligned.join(oldIds, keyCols, "left_outer")
          case Some(_) =>
            // a mixed-era candidate read carried no ids — the full
            // aggregate remains correct (and rare: pre-tracking files)
            RowTracking.inheritByKeysTable(spark, db, table, aligned,
              keyCols, entries, nullSafe = nullSafeKeys)
          case None =>
            // nothing matched (or empty table): every batch key is
            // fresh — same all-NULL inherit column, zero passes
            aligned.withColumn(RowTracking.MatCol, lit(null).cast("long"))
        }
      val rels = stageIn(table,
        p => toPhys(table, toWrite).write.mode("overwrite").parquet(p))
      adds ++= rels.map(TxLog.AddEntry(_))
      noteFrame(table, aligned.schema)
    }

    /** Stage a keyed MERGE: rows of `updates` replace same-key rows
      * (copy-on-write of only the files holding those keys) and
      * new keys append. Composes [[deleteWhere]] + [[append]] inside
      * the same atomic commit. The key set is driver-collected —
      * sized for command-batch upserts, and GUARDED: a batch beyond
      * `maxKeys` distinct keys refuses with [[UpsertTooLarge]] before
      * anything collects, naming the two safe paths — [[applyKeyed]]
      * (merge-on-read, keys never collected, works INSIDE this
      * transaction) or [[UpsertWhere.byKeysDistributed]] (outside
      * one). The default bound (1M keys ≈ 8–32 MB of driver heap) is
      * the command/data boundary the round-10 probe measured.
      */
    def upsert(table: String, keyCol: String, updates: DataFrame,
        maxKeys: Long = 1L << 20): Unit = {
      requireOpen()
      if (tableExists(table)) {
        val keys = updates.select(col(keyCol)).distinct()
        // bounded probe: one limit-scan, never a full count. A bound
        // at or past Int.MaxValue disables the guard (limit takes an
        // Int; the +1 must not overflow into limit(negative))
        if (maxKeys < Int.MaxValue &&
            keys.limit((maxKeys + 1).toInt).count() > maxKeys)
          throw new DbLog.UpsertTooLarge(
            s"upsert($table): more than $maxKeys distinct keys — a " +
              "data-sized batch must not collect to the driver. Use " +
              "txn.applyKeyed (merge-on-read, in-transaction) or " +
              "UpsertWhere.byKeysDistributed (single-table, outside " +
              "a transaction).")
        val keySet = keys.collect().map(_.get(0)).toSeq
        // row tracking: the copy-on-write form deletes matched rows
        // and re-inserts them — inherit their ids FIRST (against the
        // pre-delete entries) so an update keeps the row's identity,
        // exactly like the merge-on-read form
        val toAppend =
          if (!RowTracking.enabledTable(spark, db, table)) updates
          else RowTracking.inheritByKeysTable(spark, db, table, updates,
            Seq(keyCol), entriesOf(spark, db, table, baseVersion))
        deleteWhere(table, col(keyCol).isInCollection(keySet))
        append(table, toAppend)
      } else append(table, updates)
    }

    /** Publish every staged operation as one atomic version. `txn`
      * stamps the commit with a transaction id ([[TxLog.txnCommitted]]
      * answers replays — the streaming epoch contract).
      */
    def commit(op: String = "txn", txn: Option[String] = None): Int = {
      requireOpen()
      done = true
      TxLog.commitEntries(spark, db,
        adds = adds.result(), removes = removes.result(), txn = txn,
        seen = seen.result(), op = Some(op), cdc = cdcs.result(),
        frameSchemas = frames.map { case (t, sc) => Some(t) -> sc }.toMap)
    }
  }
}
