package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/** COLUMN MAPPING — the metadata indirection that makes
  * `ALTER TABLE … RENAME COLUMN` and a safe DROP + re-ADD possible on
  * parquet files that physically keep their column names forever
  * (Delta's `columnMapping.mode = name` / Iceberg's field-ID mapping,
  * re-derived on the log's versioned schema pins):
  *
  *   - every table column carries a PHYSICAL NAME in its pinned-schema
  *     field metadata (`graft.physical`). Data files store physical
  *     names; queries, predicates, constraints and partition columns
  *     speak LOGICAL names.
  *   - at enable time each existing column's physical name is frozen
  *     to its current name — every already-written file is therefore
  *     correct by construction, no rewrite.
  *   - RENAME changes only the logical name: one metadata-only commit
  *     plus a new schema pin; the physical name — and so every data
  *     file, every ADD-carried stat (keyed physical), every deletion
  *     vector — is untouched. Time travel before the rename reads the
  *     OLD logical name (each version's pin keeps its own names).
  *   - a column ADDED after enablement gets a FRESH physical name
  *     (`<name>__v<version>`), so dropping `x` and re-adding `x` later
  *     reads NULL for pre-drop rows instead of resurrecting the dead
  *     column's values out of old footers — the correctness hole
  *     name-based parquet evolution cannot close.
  *
  * Read path: [[TxLog.readEntries]] scans with the PHYSICAL schema
  * ([[physicalSchema]]) and aliases back to logical at the end
  * ([[toLogical]] — a pure projection, codegen'd, zero shuffle).
  * Write path: every staged write translates logical→physical
  * ([[toPhysical]] via [[TxLog.stagePhysical]]) just before the
  * parquet write. Unmapped tables hit the identity fast path — both
  * helpers return the frame untouched, so the pre-mapping plans are
  * byte-identical.
  *
  * Sidecar manifests ([[ZoneMap]], [[BloomFileIndex]]) key their stats
  * by the logical names current AT BUILD TIME: after a rename they
  * simply stop matching (unknown never prunes — reads stay correct,
  * just unpruned) until the manifest is rebuilt. The ADD-carried stats
  * do better: keyed physical, they keep pruning across any number of
  * renames ([[TxLog.candidateFilesFromLog]] translates the query
  * column through the version's pin).
  *
  * Scope guards: partition columns (hive or hidden-transform source
  * columns) and CHECK-constrained columns refuse to rename — their
  * names are baked into directory paths / constraint SQL. [[DbLog]]
  * databases rename PER TABLE ([[DbLog.renameColumn]] — the mapping
  * lives on the table's own pin namespace); the dir-wide [[enable]]
  * refuses there. 100 TB shape: enable/rename/drop are metadata-sized
  * (one pin file + one version file), never a data pass.
  *
  * Reference anchor: the reference renames 12 CSV headers in pandas
  * (`dags/emission-dag.py:89-92`) — a frame-at-a-time rename. This is
  * the TABLE-level rename a warehouse needs once data is at rest.
  */
object ColumnMapping {

  /** Field-metadata key holding a column's physical (on-disk) name. */
  val PhysKey = "graft.physical"

  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
    else f.name

  /** Is the mapping active on this pin? One mapped field is enough —
    * enablement stamps every field, so this is all-or-nothing in
    * practice.
    */
  def isMapped(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(PhysKey))

  private[ops] def withPhysical(f: StructField, phys: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysKey, phys).build())

  /** Freeze every field's physical name to its current spelling — the
    * enablement step as a pure schema transform ([[DbLog]]'s per-table
    * pins enable through this; the dir-wide [[enable]] wraps it with
    * the pin write). Idempotent on already-mapped schemas.
    */
  private[ops] def frozen(schema: StructType): StructType =
    StructType(schema.fields.map(f => withPhysical(f, physicalName(f))))

  /** The schema as the data files spell it: fields renamed to their
    * physical names (metadata kept — the round trip back to logical
    * needs it). Identity for unmapped pins.
    */
  def physicalSchema(schema: StructType): StructType =
    if (!isMapped(schema)) schema
    else StructType(schema.fields.map(f => f.copy(name = physicalName(f))))

  /** The physical name of logical column `name` under `pin` — `name`
    * itself when unmapped or not a pin column (partition path columns,
    * `__graft_*` metadata).
    */
  def physicalOf(pin: StructType, name: String): String =
    pin.fields.find(_.name == name).map(physicalName).getOrElse(name)

  /** Logical name for a physical column under `pin` (the display
    * direction — [[TxLog.filesMeta]]'s stats column); identity when
    * unknown.
    */
  def logicalOf(pin: StructType, phys: String): String =
    pin.fields.find(f => physicalName(f) == phys).map(_.name).getOrElse(phys)

  /** Alias a physically-named frame back to logical names. Columns the
    * pin doesn't claim (`__graft_file`/`__graft_pos`, partition path
    * columns already logical) pass through unchanged, after the table
    * columns. Pure projection — no-op object identity when unmapped.
    */
  def toLogical(df: DataFrame, pin: StructType): DataFrame = {
    if (!isMapped(pin)) return df
    val have = df.columns.toSet
    val mapped = pin.fields.filter(f => have(physicalName(f)))
    val physNames = mapped.map(physicalName).toSet
    val passthrough = df.columns.filterNot(physNames)
    df.select(mapped.map(f => col(physicalName(f)).as(f.name)) ++
      passthrough.map(col): _*)
  }

  /** Alias a logically-named frame to physical names for a staged
    * write. Columns outside the pin pass through (a frame evolving new
    * columns names them physically via the pin the CALLER evolved —
    * pass that pin). No-op when unmapped.
    */
  def toPhysical(df: DataFrame, pin: StructType): DataFrame = {
    if (!isMapped(pin)) return df
    val byName = pin.fields.map(f => f.name -> physicalName(f)).toMap
    df.select(df.columns.map(c =>
      byName.get(c).map(p => col(c).as(p)).getOrElse(col(c))).toIndexedSeq: _*)
  }

  /** Every physical and logical name any retained pin of `dir` ever
    * used — the collision set a fresh physical name must avoid (a
    * dropped column's physical name still lives in old files; reusing
    * it would resurrect them).
    */
  private def namesEverUsed(spark: SparkSession, dir: String): Set[String] = {
    val pins = TxLog.metaList(spark, dir, "s")
      .filter(_.matches("s\\d{8}\\.json")) ++
      TxLog.metaList(spark, dir, "b.")
        .filter(_.matches("b\\..+\\.s\\d{8}\\.json"))
    pins.flatMap { n =>
      TxLog.metaRead(spark, dir, n).toSeq.flatMap { body =>
        val sc = org.apache.spark.sql.types.DataType.fromJson(body)
          .asInstanceOf[StructType]
        sc.fields.flatMap(f => Seq(f.name, physicalName(f)))
      }
    }.toSet
  }

  /** A fresh physical name for a column added at pin-version `v`:
    * `<name>__v<v>`, underscore-extended past any historical clash.
    * Deterministic (replayable, oracle-stable) — no UUIDs.
    */
  private[ops] def freshPhysical(
      spark: SparkSession, dir: String, name: String, v: Int): String = {
    val taken = namesEverUsed(spark, dir)
    var cand = s"${name}__v$v"
    while (taken(cand)) cand += "_"
    cand
  }

  /** Stamp fresh fields of an evolving write (schema-evolution upsert,
    * RTAS carry-over): fields already mapped keep their physical name;
    * fields matching an old-pin logical name inherit its physical
    * name; genuinely new fields get [[freshPhysical]] at `v`.
    */
  private[graft] def carryOver(
      spark: SparkSession,
      dir: String,
      newSchema: StructType,
      oldPin: StructType,
      v: Int): StructType = {
    if (!isMapped(oldPin)) return newSchema
    val old = oldPin.fields.map(f => f.name -> physicalName(f)).toMap
    StructType(newSchema.fields.map { f =>
      if (f.metadata.contains(PhysKey)) f
      else old.get(f.name) match {
        case Some(p) => withPhysical(f, p)
        case None => withPhysical(f, freshPhysical(spark, dir, f.name, v))
      }
    })
  }

  /** Turn the mapping ON: freeze every current column's physical name
    * to its current name and pin. Metadata-only — no file is read or
    * rewritten, because the frozen names are exactly what every
    * existing file already spells. Idempotent. Refused on [[DbLog]]
    * databases (their per-table pins are a separate namespace this
    * mapping does not thread through yet).
    */
  def enable(spark: SparkSession, dir: String): StructType = {
    require(TxLog.exists(spark, dir),
      s"column mapping requires a TxLog-managed table: $dir")
    val dbShaped = TxLog.metaList(spark, dir, "schema.").nonEmpty ||
      TxLog.metaList(spark, dir, "constraints.")
        .exists(_ != "constraints.txt") ||
      TxLog.liveEntries(spark, dir).exists(e =>
        e.name.contains('/') && !e.name.split('/').head.contains('='))
    require(!dbShaped,
      s"column mapping: $dir looks like a DbLog database (table-prefixed " +
        "entries / per-table metadata) — the DIR-WIDE mapping would " +
        "claim every table's columns at once; rename per table with " +
        "DbLog.renameColumn(db, table, from, to) instead")
    // a table holding data pinned its schema when it was created
    val current = TxLog.tableSchema(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"column mapping: $dir has no pinned schema (an empty table pins " +
          "one through CREATE TABLE)"))
    if (isMapped(current)) return current
    val mapped = StructType(current.fields.map(f => withPhysical(f, f.name)))
    TxLog.setTableSchema(spark, dir, mapped)
    mapped
  }

  private def requireRenameable(
      spark: SparkSession, dir: String, name: String): Unit = {
    require(!TxLog.partitionColumns(spark, dir).contains(name),
      s"rename/drop $name: it is a declared partition column (its name " +
        "is baked into the directory layout)")
    val hidden = scala.util.Try(PartitionTransforms.spec(spark, dir))
      .getOrElse(Nil)
    require(!hidden.exists(t => t.column == name || t.partCol == name),
      s"rename/drop $name: a hidden-partitioning transform references it")
    val constrained = TxLog.checkConstraints(spark, dir)
      .filter(_.matches(s"(?i).*\\b${java.util.regex.Pattern.quote(name)}\\b.*"))
    require(constrained.isEmpty,
      s"rename/drop $name: CHECK constraint(s) reference it: $constrained — " +
        "drop or rewrite the constraint first (setCheckConstraints)")
    require(!GeneratedColumns.referencedColumns(spark, dir).contains(name),
      s"rename/drop $name: a GENERATED ALWAYS AS expression references " +
        "it — re-declare the generated column first")
  }

  /** RENAME COLUMN, metadata-only: one empty commit stamps the version,
    * the pin at that version carries the new logical name over the
    * UNCHANGED physical name. Auto-enables the mapping on first use
    * (enablement itself touches no data). Older snapshots keep the old
    * name; ADD-carried stats keep pruning (keyed physical); declared
    * stats columns follow the rename. Returns the committed version.
    */
  def renameColumn(
      spark: SparkSession, dir: String, from: String, to: String): Int = {
    val pin = enable(spark, dir)
    require(pin.fieldNames.contains(from), s"rename: no column $from in $dir")
    require(!pin.fieldNames.contains(to),
      s"rename: $to already exists in $dir")
    require(!to.startsWith("__graft_"),
      "rename: the __graft_ prefix is reserved for positional metadata")
    require(!GeneratedColumns.generatedNames(spark, dir).contains(from),
      s"rename $from: it is a generated column (the declaration keys " +
        "on its name — re-declare instead)")
    requireRenameable(spark, dir, from)
    val renamed = StructType(pin.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val v = TxLog.commit(spark, dir, adds = Nil, removes = Nil,
      op = Some(s"rename-column($from->$to)"))
    TxLog.setTableSchema(spark, dir, renamed, v)
    // the declared stats list speaks logical names — follow the rename
    // so files landing AFTER it keep carrying bounds for this column
    val stats = TxLog.statsColumns(spark, dir)
    if (stats.contains(from))
      TxLog.setStatsColumns(spark, dir, stats.map(c => if (c == from) to else c))
    // DEFAULT declarations reference no other column — they follow
    DefaultColumns.renamed(spark, dir, from, to)
    // the identity declaration keys on the column name; the ledger is
    // name-free — follow the rename (a stale declaration would re-fill
    // a ghost column under the OLD name on every later insert)
    IdentityColumns.renamed(spark, dir, from, to)
    v
  }

  /** ADD COLUMN with a fresh physical name (the drop-safe evolution) —
    * what [[graft.plans.GraftDdl]] routes `ALTER TABLE ADD COLUMNS`
    * through once a table is mapped. Nullable only (pre-evolution rows
    * read NULL). Returns the committed version.
    */
  def addColumn(
      spark: SparkSession, dir: String, field: StructField): Int = {
    val pin = enable(spark, dir)
    require(!pin.fieldNames.contains(field.name),
      s"add: ${field.name} already exists in $dir")
    require(field.nullable, "add: new columns must be nullable " +
      "(pre-evolution rows read NULL)")
    val v = TxLog.commit(spark, dir, adds = Nil, removes = Nil,
      op = Some(s"add-column(${field.name})"))
    val stamped = withPhysical(field,
      freshPhysical(spark, dir, field.name, v))
    TxLog.setTableSchema(spark, dir, StructType(pin.fields :+ stamped), v)
    v
  }

  /** DROP COLUMN under the mapping: the narrowed pin forgets the
    * logical name; the physical name stays burned in [[namesEverUsed]]
    * so a later re-ADD of the same logical name maps to fresh storage.
    * Returns the committed version.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Int = {
    val pin = enable(spark, dir)
    require(pin.fieldNames.contains(name), s"drop: no column $name in $dir")
    require(pin.fields.length > 1, "drop: cannot drop every column")
    requireRenameable(spark, dir, name)
    val v = TxLog.commit(spark, dir, adds = Nil, removes = Nil,
      op = Some(s"drop-column($name)"))
    TxLog.setTableSchema(spark, dir,
      StructType(pin.fields.filterNot(_.name == name)), v)
    val stats = TxLog.statsColumns(spark, dir)
    if (stats.contains(name))
      TxLog.setStatsColumns(spark, dir, stats.filterNot(_ == name))
    // dropping a generated/defaulted/identity column drops its
    // declaration (a stale one would re-fill — and so resurrect — it
    // on the next insert, the identity case additionally burning
    // ledger ranges into a phantom physical column)
    if (GeneratedColumns.generatedNames(spark, dir).contains(name))
      GeneratedColumns.undeclare(spark, dir, Set(name))
    if (DefaultColumns.defaultedNames(spark, dir).contains(name))
      DefaultColumns.undeclare(spark, dir, Set(name))
    if (IdentityColumns.spec(spark, dir).exists(_._1 == name))
      IdentityColumns.undeclare(spark, dir)
    v
  }
}
