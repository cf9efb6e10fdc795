package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE-ON-READ deletes for [[TxLog]]-managed tables: instead of
  * rewriting every candidate file (the [[DeleteWhere]] copy-on-write
  * path — data-read AND data-written per delete), a delete writes one
  * small DELETION-VECTOR sidecar listing the (file, row-position)
  * pairs it hides and re-commits the touched entries pointing at it.
  * Readers ([[TxLog.snapshot]] and everything built on it) anti-join
  * the positions back out; [[materialize]] folds the vectors into
  * rewritten files when read amplification has accrued enough to pay
  * for the copy.
  *
  * This is the economics that makes fine-grained deletes viable at
  * 100 TB: a GDPR purge hitting one row in each of 10k one-GB files
  * costs ~10 TB of rewrite under copy-on-write, but only a
  * metadata-sized sidecar + one log commit here — the write cost is
  * O(deleted rows), not O(bytes in candidate files). The read-side
  * tax is one broadcast anti-join on (file, pos) over only the
  * DV-carrying files, and [[materialize]] restores the zero-tax read
  * whenever the operator chooses. Same trade Delta's deletion vectors
  * and Iceberg's position deletes encode; re-derived here on Spark's
  * `_metadata.file_path`/`row_index` parquet columns (the positions
  * every scan can produce without a custom reader).
  *
  * Sidecar format: a parquet file under `_dv/` with columns
  * `file` (root-relative data-file name) and `pos` (physical row
  * index). Sidecars are IMMUTABLE; a re-delete on an already-vectored
  * file writes a NEW sidecar carrying the union of old + new
  * positions for the files it touches, and re-points those entries —
  * so an entry's single `dv` reference always holds that file's
  * complete deleted set, and concurrent deletes touching the same
  * file conflict exactly like concurrent rewrites ([[TxLog
  * .commitEntries]] validates the removes).
  *
  * Crash discipline: the sidecar lands (tmp + rename) BEFORE the
  * commit; a crash between leaves an unreferenced sidecar that
  * [[TxLog.vacuum]]'s age-gated DV sweep reclaims. Reference cited
  * for behavior shape only: the reference system has no deletes at
  * all (append-only pandas ETL, `dags/utils.py:21-40`) — this
  * operator is part of the scale surface the Spark re-expression
  * adds.
  *
  * Measured (3M rows / 256 key-sorted files, 24 scattered-key GDPR
  * purge through the bloom index, local[32]): copy-on-write rewrote
  * 24 files / 3.7 MB in 3.0 s; the vectored purge wrote a 1.3 KB
  * sidecar in 2.6 s (wall parity on local SSD — both pay the same
  * candidate position/filter scan; the 2800× write-byte gap is the
  * term that dominates on object-store bandwidth and at production
  * file sizes). Read tax until fold-in: full-snapshot aggregate
  * 1.74 s vectored vs 1.43 s plain; materialize (1.5 s) restored the
  * 0.83 s plain-scan read.
  */
object DeletionVectors {

  final case class Receipt(
      filesTotal: Long,
      touched: Long,
      deletedRows: Long,
      dvFile: Option[String])

  final case class MaterializeReceipt(
      rewritten: Long,
      rowsDropped: Long,
      untouched: Long)

  /** Logically delete every row matching `predicate` (SQL DELETE
    * semantics: NULL never matches — [[TxLog.readEntries]] feeds the
    * filter the snapshot, so three-valued logic is DuckDB's own).
    * Only files that actually contain a matching LIVE row get a new
    * vector; files whose rows all miss are untouched metadata-wise.
    * `candidates` (relative names) optionally bounds the scan — pass
    * [[TxLog.candidateFilesFromLog]]'s answer for a range predicate
    * on a stats-carrying table and only those files are read at all.
    */
  def delete(
      spark: SparkSession,
      dir: String,
      predicate: Column,
      candidates: Option[Seq[String]] = None): Receipt =
    deleteWith(spark, dir, _.filter(predicate), candidates)

  /** Vectored purge by a driver-sized key batch (the GDPR shape) with
    * [[BloomFileIndex]] candidate pruning: a handful of ids touches a
    * handful of files' POSITIONS — at 10k one-GB files with one
    * matching row each, copy-on-write rewrites ~10 TB; this writes a
    * kilobyte sidecar. `index` omitted = every live file is scanned
    * for positions (correct, unpruned).
    */
  def byKeys(
      spark: SparkSession,
      dir: String,
      column: String,
      keys: Seq[Any],
      index: Option[DataFrame] = None): Receipt = {
    val cand = index.map { ix =>
      val all = DeleteWhere.allFiles(spark, dir)
      val hit = BloomFileIndex.candidateFiles(ix, all, keys)
      TxLog.entriesForUris(spark, dir, hit, TxLog.liveEntries(spark, dir))
        .map(_.name)
    }
    delete(spark, dir, col(column).isin(keys: _*), cand)
  }

  /** Vectored purge by a DATA-SIZED key batch — [[DeleteWhere
    * .byKeysDistributed]]'s merge-on-read twin: candidates come from
    * the same executor-side two-stage probe (keys never reach the
    * driver), matches are a semi-join, and the write cost is the
    * sidecar. NULL batch keys never match (null-unsafe equality, SQL
    * DELETE semantics).
    */
  def byKeysDistributed(
      spark: SparkSession,
      dir: String,
      column: String,
      keys: DataFrame,
      manifest: Option[DataFrame] = None): Receipt = {
    val all = DeleteWhere.allFiles(spark, dir)
    if (all.isEmpty) return Receipt(0, 0, 0, None)
    val k = keys.select(col(keys.columns.head).as(column)).distinct()
    val touched = DeleteWhere.touchedFiles(spark, dir, all, column, k, manifest)
    val cand = TxLog
      .entriesForUris(spark, dir, touched, TxLog.liveEntries(spark, dir))
      .map(_.name)
    deleteWith(spark, dir, _.join(k, Seq(column), "left_semi"), Some(cand))
  }

  final case class UpsertReceipt(
      filesTotal: Long,
      touched: Long,
      replacedRows: Long,
      insertedFiles: Long,
      dvFile: Option[String])

  /** MERGE-ON-READ upsert — whole-row MERGE without rewriting a
    * single matched file: the batch's keys locate their current
    * positions (semi-join over the positioned snapshot of the
    * candidate files), those positions hide behind a new vector, the
    * batch itself lands as fresh appended files, and ONE commit swaps
    * the touched entries + adds the new files — so a reader sees the
    * old state or the new state, never both rows of a key. This is
    * the streaming-CDC shape at 100 TB: a steady trickle of updates
    * against a huge keyed table costs O(batch) writes per epoch, not
    * O(touched files' bytes) — [[UpsertWhere.byKeys]]' copy-on-write
    * economics inverted exactly like [[delete]] vs [[DeleteWhere]].
    *
    * Semantics: whole-row replace by `keyCols` equality; batch rows
    * whose keys miss are plain inserts; the batch must be key-unique
    * (net a CDC feed first — [[UpsertWhere.applyChanges]]' SEQUENCE-BY
    * contract). NULL batch keys never match an existing row (SQL
    * MERGE's null-unsafe ON) and land as inserts. `txn` gives
    * exactly-once replay for streaming epochs ([[TxLog.txnCommitted]]
    * probes it); without one, a replay hides the first run's rows and
    * appends duplicates — the same contract as any unstamped merge.
    * `candidates` bounds the position scan (pass the bloom/stats
    * answer); an unpruned scan is correct, just wider.
    */
  def upsert(
      spark: SparkSession,
      dir: String,
      updates0: DataFrame,
      keyCols: Seq[String],
      candidates: Option[Seq[String]] = None,
      txn: Option[String] = None,
      evolveSchema: Boolean = false): UpsertReceipt = {
    require(TxLog.exists(spark, dir),
      s"merge-on-read upsert requires a TxLog-managed table: $dir")
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    txn.foreach { t =>
      if (TxLog.txnCommitted(spark, dir, t))
        return UpsertReceipt(TxLog.liveFiles(spark, dir).size.toLong,
          0, 0, 0, None)
    }
    val entries = TxLog.liveEntries(spark, dir)
    val candEarly = candidates match {
      case Some(cs) => val c = cs.toSet; entries.filter(e => c(e.name))
      case None => entries
    }
    // IDENTITY upholds maybeAssign's contract on the MERGE path too:
    // a batch OMITTING the column preserves matched rows' ids (the
    // replacement row keeps the row it replaces' identity) and
    // allocates fresh ids for genuine inserts; a batch CARRYING it is
    // admitted only when the column IS the merge key against existing
    // rows (GENERATED ALWAYS: ids only ever come from the ledger) or
    // the declaration is BY DEFAULT (supplied wins, ledger re-syncs).
    val updatesId = IdentityColumns.fullSpec(spark, dir) match {
      case None => updates0
      case Some(sp) if !updates0.columns.contains(sp.column) =>
        require(!keyCols.contains(sp.column),
          s"upsert keyed on identity column ${sp.column}: the batch " +
            "must carry it")
        if (candEarly.isEmpty) IdentityColumns.maybeAssign(spark, dir, updates0)
        else {
          // matched keys inherit their current id (one id per key —
          // the upsert contract's key-unique table); misses read NULL
          // and fill fresh from the ledger
          val oldIds = TxLog.readEntries(spark, dir, candEarly)
            .groupBy(keyCols.map(col): _*)
            .agg(max(col(sp.column)).as(sp.column))
          IdentityColumns.fillNulls(spark, dir,
            updates0.join(oldIds, keyCols, "left_outer"))
        }
      case Some(sp) if sp.allowExplicit =>
        IdentityColumns.fillNulls(spark, dir, updates0)
      case Some(sp) =>
        require(keyCols.contains(sp.column),
          s"identity column ${sp.column} is GENERATED ALWAYS — a MERGE " +
            "batch may carry it only as the merge key (or omit it; " +
            "declare GENERATED BY DEFAULT to admit explicit values)")
        val misses =
          if (candEarly.isEmpty) updates0.limit(1).count()
          else updates0.select(keyCols.map(col): _*)
            .join(TxLog.readEntries(spark, dir, candEarly)
              .select(keyCols.map(col): _*), keyCols, "left_anti")
            .limit(1).count()
        require(misses == 0,
          s"identity column ${sp.column} is GENERATED ALWAYS — a batch " +
            "row whose key matches no existing row would land an " +
            "explicit id; omit the column for inserts (or declare " +
            "GENERATED BY DEFAULT)")
        updates0
    }
    // update-shaped write: generated columns RECOMPUTE (a changed
    // source column must move its derived value with it)
    val updates = GeneratedColumns.fill(spark, dir, updatesId,
      recompute = true)
    TxLog.enforceConstraints(spark, dir, updates)
    // schema discipline: an unannounced column drift would land files
    // a footer-sampled read resolves NONDETERMINISTICALLY. Width must
    // match the table exactly, or the caller opts into evolution and
    // the widened schema is PINNED in the log (versioned — older
    // snapshots keep their own width; files lacking a column read
    // NULL under the pin).
    var evolvedTo: Option[org.apache.spark.sql.types.StructType] = None
    val updatesAligned = {
      // a table holding data pinned its schema when it was created;
      // an empty one takes the batch's width
      val base = TxLog.tableSchema(spark, dir).getOrElse(updates.schema)
      val baseNames = base.fieldNames.toSet
      val batchNames = updates.columns.toSet
      val fresh = updates.schema.fields.filterNot(f => baseNames(f.name))
      if (fresh.isEmpty && batchNames == baseNames) {
        base.fields.foreach { f =>
          val bt = updates.schema(f.name).dataType
          require(bt == f.dataType,
            s"column ${f.name}: batch type $bt != table type ${f.dataType}")
        }
        updates.select(base.fieldNames.map(col): _*)
      } else {
        require(evolveSchema,
          s"batch schema differs from the table (missing: " +
            s"${(baseNames -- batchNames).mkString(",")}; new: " +
            s"${fresh.map(_.name).mkString(",")}) — pass " +
            "evolveSchema = true to widen, or align the batch")
        base.fields.filter(f => batchNames(f.name)).foreach { f =>
          val bt = updates.schema(f.name).dataType
          require(bt == f.dataType,
            s"column ${f.name}: batch type $bt != table type ${f.dataType}")
        }
        val merged0 = org.apache.spark.sql.types.StructType(
          base.fields ++ fresh)
        // under column mapping the evolved-in columns get FRESH
        // physical names (a re-add of a dropped name must not
        // resurrect the dead column's values out of old footers)
        val merged =
          if (ColumnMapping.isMapped(base))
            ColumnMapping.carryOver(spark, dir, merged0, base,
              TxLog.currentVersion(spark, dir) + 1)
          else merged0
        evolvedTo = Some(merged)
        val withMissing = base.fieldNames.filterNot(batchNames)
          .foldLeft(updates)((d, n) =>
            d.withColumn(n, lit(null).cast(base(n).dataType)))
        withMissing.select(merged.fieldNames.map(col): _*)
      }
    }
    val cand = candEarly
    val k = updates.select(keyCols.map(col): _*).distinct()
    // matched rows checkpointed WITH CONTENT (and `_row_id` on a
    // tracked table): positions, counts and the change-data sidecar
    // below share one candidate scan
    val (hit, replacedRows, touched, matchedRows) =
      if (cand.isEmpty) (None, 0L, Nil, None)
      else {
        val withPos =
          if (cand.forall(_.rowBase.isDefined))
            RowTracking.withIds(spark, dir, cand, keepPos = true)
          else TxLog.readEntries(spark, dir, cand, withPos = true)
        // the row count and the touched file names ride the
        // checkpoint job
        val (m, obs) = RelationalOps.pin(
          withPos.join(k, keyCols, "left_semi"),
          count(lit(1)), collect_set(col("__graft_file")))
        val h = m.select(col("__graft_file").as("file"),
          col("__graft_pos").as("pos"))
        val rels = obs.getSeq[String](1).toSet
        (Some(h), obs.getLong(0), entries.filter(e => rels(e.name)), Some(m))
      }
    // row tracking: the replacement row KEEPS the row it replaces' id
    // (materialized by key from the candidate files); genuine inserts
    // read NULL and resolve to the appended file's fresh position ids.
    // The matched-rows checkpoint above already carries every matched
    // key's id (the tracked positioned read attaches it), so the
    // inheritance aggregates THAT instead of re-scanning the candidate
    // files — one full candidate pass saved per tracked upsert, same
    // mapping (per-key max over rows whose key is in the batch ≡ the
    // whole-candidate aggregate restricted to batch keys).
    val updatesTracked =
      if (!RowTracking.enabled(spark, dir)) updatesAligned
      else matchedRows match {
        case Some(m) if m.columns.contains(RowTracking.Col) =>
          val oldIds = m.groupBy(keyCols.map(col): _*)
            .agg(max(col(RowTracking.Col)).as(RowTracking.MatCol))
          updatesAligned.join(oldIds, keyCols, "left_outer")
        case _ =>
          RowTracking.inheritByKeys(spark, dir, updatesAligned, keyCols,
            candEarly)
      }
    // stage the batch as fresh files FIRST (a crash before the commit
    // leaves only age-sweepable orphans), hive-partitioned when the
    // table is
    val pcols = DeleteWhere.partitionColsOf(entries.map(_.name))
    val newNames = stageAppend(spark, dir, updatesTracked, pcols, evolvedTo)
    val (dvName, cdcNames) =
      if (replacedRows == 0) (None, Nil)
      else {
        val prior = priorDvRows(spark, dir, touched)
        val allRows = prior.map(_.unionByName(hit.get)).getOrElse(hit.get)
        (Some(writeSidecar(spark, dir, allRows)),
          writeCdcSidecar(spark, dir, matchedRows.get, replacedRows,
            TxLog.tableSchema(spark, dir)))
      }
    val committedV = TxLog.commitEntries(spark, dir,
      // the merged sidecar is LOCAL (dvBase cleared) even when the
      // entry's data bytes are a shallow clone's (base kept)
      adds = touched.map(e => e.copy(dv = dvName,
        dvBase = if (dvName.isDefined) None else e.dvBase)).sortBy(_.name) ++
        newNames.map(TxLog.AddEntry(_)),
      removes = touched.map(_.name).sorted,
      txn = txn,
      seen = touched,
      op = Some("mor-merge"),
      cdc = cdcNames)
    // pin AFTER the commit succeeds, keyed to the version it actually
    // landed at: pinning currentVersion+1 up front would retroactively
    // widen intermediate snapshots when the commit retries past that
    // version, and an abandoned commit would orphan a phantom
    // all-NULL column into every later snapshot
    evolvedTo.foreach(sc =>
      TxLog.setTableSchema(spark, dir, sc, version = committedV))
    UpsertReceipt(entries.size.toLong, touched.size.toLong, replacedRows,
      newNames.size.toLong, dvName)
  }

  /** Land `updates` as data files under `dir` (partition tree when
    * `pcols` non-empty) via a dot-temp stage + move; returns the new
    * root-relative names. The commit that references them follows.
    */
  private def stageAppend(
      spark: SparkSession,
      dir: String,
      updates: DataFrame,
      pcols: Seq[String],
      pinOverride: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[String] = {
    val fs = Compact.fsOf(spark, dir)
    val stage = new Path(dir, s".mor_stage-${java.util.UUID.randomUUID}")
    val w = TxLog.stagePhysical(spark, dir, updates, pinOverride)
      .write.mode("overwrite")
    if (pcols.nonEmpty) w.partitionBy(pcols: _*).parquet(stage.toString)
    else w.parquet(stage.toString)
    val names = Compact.dataFilesRecursive(fs, stage.toString).sorted
    names.foreach { n =>
      val dest = new Path(dir, n)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(new Path(stage, n), dest))
        throw new java.io.IOException(s"mor upsert: cannot move $n into $dir")
    }
    fs.delete(stage, true)
    names
  }

  /** The positioned snapshot of `candidates` (entry names; None = all
    * live files): the table's rows plus `__graft_file`/`__graft_pos`
    * — what a row-precise writer (the general SQL MERGE) matches
    * against before handing exact positions to [[applyRowChanges]].
    */
  def positionedSnapshot(
      spark: SparkSession,
      dir: String,
      candidates: Option[Seq[String]] = None): DataFrame = {
    require(TxLog.exists(spark, dir),
      s"positionedSnapshot requires a TxLog-managed table: $dir")
    val entries = TxLog.liveEntries(spark, dir)
    val cand = candidates match {
      case Some(cs) => val c = cs.toSet; entries.filter(e => c(e.name))
      case None => entries
    }
    TxLog.readEntries(spark, dir, cand, withPos = true)
  }

  /** ROW-PRECISE MERGE COMMIT: hide the exact `(file, pos)` pairs in
    * `hides` behind a merged deletion vector AND land `appends`
    * (target-schema rows) as fresh files — one atomic commit, the
    * general executor every SQL MERGE shape (conditional clauses,
    * UPDATE+DELETE mixes, NOT MATCHED BY SOURCE) lowers onto: an
    * UPDATE is its old position in `hides` plus its new image in
    * `appends`; a DELETE is just the position; an INSERT just the
    * image. Write cost O(changed rows), the merge-on-read economics.
    * `hides` columns: `__graft_file`, `__graft_pos` (as
    * [[positionedSnapshot]] returns them).
    */
  def applyRowChanges(
      spark: SparkSession,
      dir: String,
      hides: DataFrame,
      appends0: DataFrame,
      txn: Option[String] = None,
      op: String = "merge"): UpsertReceipt = {
    require(TxLog.exists(spark, dir),
      s"applyRowChanges requires a TxLog-managed table: $dir")
    txn.foreach { t =>
      if (TxLog.txnCommitted(spark, dir, t))
        return UpsertReceipt(TxLog.liveFiles(spark, dir).size.toLong,
          0, 0, 0, None)
    }
    // identity on MERGE images: UPDATE images carry their row's
    // current id (the clause builder keeps unassigned columns — and
    // [[graft.plans.GraftDml]] refuses SET/INSERT naming an ALWAYS
    // identity), INSERT images carry NULL there — fill those from the
    // ledger, row-granular; a batch omitting the column entirely is
    // the plain insert shape and allocates throughout
    val appendsId = IdentityColumns.fullSpec(spark, dir) match {
      case None => appends0
      case Some(sp) if !appends0.columns.contains(sp.column) =>
        IdentityColumns.maybeAssign(spark, dir, appends0)
      case Some(sp) =>
        // trust boundary: the MERGE planner only builds images whose
        // non-null ids the table already issued (UPDATE images carry
        // the row's current id). For GENERATED ALWAYS, fence DIRECT
        // callers the same way — a supplied id beyond the ledger's
        // high water was never allocated, i.e. an explicit insert
        // smuggled past maybeAssign's refusal. One O(batch) agg.
        if (!sp.allowExplicit) {
          import org.apache.spark.sql.functions.{col, max, min}
          val ext = appends0
            .select(col(sp.column).cast("long").as("__graft_idchk"))
            .agg(if (sp.step > 0) max("__graft_idchk")
                 else min("__graft_idchk")).collect()(0)
          if (!ext.isNullAt(0)) {
            val hw = IdentityColumns.highWater(spark, dir)
            val v = ext.getLong(0)
            require(if (sp.step > 0) v <= hw else v >= hw,
              s"identity column ${sp.column} is GENERATED ALWAYS — " +
                s"supplied id $v was never allocated (high water $hw); " +
                "images must carry existing ids or NULL")
          }
        }
        IdentityColumns.fillNulls(spark, dir, appends0)
    }
    // MERGE-built images recompute generated columns: an UPDATE whose
    // SET touched a source column would otherwise carry a stale value
    val appends = GeneratedColumns.fill(spark, dir, appendsId,
      recompute = true)
    TxLog.enforceConstraints(spark, dir, appends)
    val entries = TxLog.liveEntries(spark, dir)
    val hide = hides
      .select(col("__graft_file").as("file"), col("__graft_pos").as("pos"))
      .distinct().localCheckpoint()
    val hiddenRows = hide.count()
    val touched =
      if (hiddenRows == 0) Nil
      else {
        val rels = hide.select("file").distinct()
          .collect().map(_.getString(0)).toSet // bounded by file count
        entries.filter(e => rels(e.name))
      }
    val pcols = DeleteWhere.partitionColsOf(entries.map(_.name))
    // snapshot columns include path-encoded partition columns a bare
    // pin lacks; empty tables fall back to the pin, then the batch
    val cols: Seq[String] =
      if (entries.nonEmpty) TxLog.read(spark, dir).columns.toSeq
      else TxLog.tableSchema(spark, dir).map(_.fieldNames.toSeq)
        .getOrElse(appends.columns.toSeq)
    // images built by a row-tracking-aware planner carry the
    // materialized id column — keep it through the alignment so the
    // staged files preserve the updated rows' ids
    val alignCols =
      if (appends.columns.contains(RowTracking.MatCol) &&
          !cols.contains(RowTracking.MatCol)) cols :+ RowTracking.MatCol
      else cols
    val aligned = appends.select(alignCols.map(col): _*)
    val newNames =
      if (aligned.isEmpty) Nil else stageAppend(spark, dir, aligned, pcols)
    if (hiddenRows == 0 && newNames.isEmpty)
      return UpsertReceipt(entries.size.toLong, 0, 0, 0, None)
    val dvName =
      if (hiddenRows == 0) None
      else {
        val prior = priorDvRows(spark, dir, touched)
        Some(writeSidecar(spark, dir,
          prior.map(_.unionByName(hide)).getOrElse(hide)))
      }
    TxLog.commitEntries(spark, dir,
      adds = touched.map(e => e.copy(dv = dvName, dvBase = None))
        .sortBy(_.name) ++ newNames.map(TxLog.AddEntry(_)),
      removes = touched.map(_.name).sorted,
      txn = txn,
      seen = touched,
      op = Some(op))
    UpsertReceipt(entries.size.toLong, touched.size.toLong, hiddenRows,
      newNames.size.toLong, dvName)
  }

  /** The general form: `matchRows` maps the positioned snapshot of
    * the candidate files to the rows to hide (it must preserve the
    * `__graft_file`/`__graft_pos` columns). Every public delete
    * composes onto this.
    */
  def deleteWith(
      spark: SparkSession,
      dir: String,
      matchRows: DataFrame => DataFrame,
      candidates: Option[Seq[String]] = None): Receipt = {
    require(TxLog.exists(spark, dir),
      s"deletion vectors require a TxLog-managed table: $dir")
    val entries = TxLog.liveEntries(spark, dir)
    if (entries.isEmpty) return Receipt(0, 0, 0, None)
    val cand = candidates match {
      case Some(cs) =>
        val c = cs.toSet; entries.filter(e => c(e.name))
      case None => entries
    }
    if (cand.isEmpty) return Receipt(entries.size.toLong, 0, 0, None)
    val st = stageDelete(spark, dir, cand, matchRows)
    if (st.deletedRows == 0) return Receipt(entries.size.toLong, 0, 0, None)
    // seen = the entries this scan was based on: a concurrent DV
    // attach (or rewrite) on a touched file conflicts instead of
    // losing its deletes to this commit's stale vector
    TxLog.commitEntries(spark, dir,
      adds = st.adds,
      removes = st.removes,
      seen = st.seen,
      op = Some("dv-delete"),
      cdc = st.cdcFiles)
    Receipt(entries.size.toLong, st.seen.size.toLong, st.deletedRows,
      st.dvFile)
  }

  /** The staged form of [[deleteWith]] — compute the touched entries'
    * replacement ADDs (each re-pointed at one merged sidecar), the
    * removes and the conflict-defence `seen` set WITHOUT committing.
    * [[DbLog.Txn]] folds these into a multi-table atomic commit; the
    * single-table paths commit them directly. The sidecar file is
    * written eagerly (it is invisible until an entry references it —
    * an abandoned transaction leaves only an orphan-sweepable file).
    */
  private[ops] case class StagedDv(
      adds: Seq[TxLog.AddEntry],
      removes: Seq[String],
      seen: Seq[TxLog.AddEntry],
      deletedRows: Long,
      dvFile: Option[String],
      cdcFiles: Seq[String] = Nil,
      // the checkpointed matched rows (content + `_row_id` when every
      // candidate read tracked) — callers that need the hidden rows
      // again (keyed id inheritance) read THIS instead of re-scanning
      // the table; None when nothing matched
      matched: Option[DataFrame] = None)

  private[ops] def stageDelete(
      spark: SparkSession,
      dir: String,
      cand: Seq[TxLog.AddEntry],
      matchRows: DataFrame => DataFrame,
      pinOverride: Option[org.apache.spark.sql.types.StructType] = None)
      : StagedDv = {
    if (cand.isEmpty) return StagedDv(Nil, Nil, Nil, 0, None)
    // the SNAPSHOT with positions: already-deleted rows are invisible,
    // so a replayed predicate deletes 0 and position sets never dup.
    // pinOverride carries a DbLog table's OWN pin (the dir-wide slot
    // is empty on databases): without it the footer-sampled read
    // breaks once row tracking leaves SOME files carrying the
    // materialized id column and others not.
    // Tracked tables (every entry claims a rowBase) read WITH the
    // stable `_row_id` attached, so the change-data sidecar below
    // records each hidden row's identity — the keyless feed's pairing
    // key — without a second resolution pass.
    val tracked = cand.forall(_.rowBase.isDefined)
    val withPos =
      if (tracked)
        RowTracking.withIds(spark, dir, cand, keepPos = true,
          pinOpt = pinOverride)
      else TxLog.readEntries(spark, dir, cand, withPos = true,
        pinOverride = pinOverride)
    // checkpoint the MATCHED ROWS (content, not just positions): the
    // sidecar write and the position projections share one candidate
    // scan, and the row count and touched file names (bounded by the
    // file count) ride the checkpoint job
    val (matched, obs) = RelationalOps.pin(matchRows(withPos),
      count(lit(1)), collect_set(col("__graft_file")))
    val newDel = matched
      .select(col("__graft_file").as("file"), col("__graft_pos").as("pos"))
    val deletedRows = obs.getLong(0)
    if (deletedRows == 0) return StagedDv(Nil, Nil, Nil, 0, None)
    val touchedRels = obs.getSeq[String](1).toSet
    val touched = cand.filter(e => touchedRels(e.name))
    // carry forward the touched files' EXISTING deleted positions —
    // the new sidecar holds each touched file's complete set
    val prior = priorDvRows(spark, dir, touched)
    val allRows = prior.map(_.unionByName(newDel)).getOrElse(newDel)
    val dvName = writeSidecar(spark, dir, allRows)
    // change-data sidecar: the hidden rows' CONTENT, so the feed's
    // removed side costs churn bytes, never a base-file re-scan —
    // written eagerly like the vector (invisible until the commit's
    // CDC line references it; orphans are vacuum-swept)
    val cdcNames = writeCdcSidecar(spark, dir, matched, deletedRows,
      pinOverride.orElse(TxLog.tableSchema(spark, dir)))
    StagedDv(
      // the merged sidecar is LOCAL (dvBase cleared); cloned data
      // bytes keep their base untouched
      adds = touched.map(_.copy(dv = Some(dvName), dvBase = None))
        .sortBy(_.name),
      removes = touched.map(_.name).sorted,
      seen = touched,
      deletedRows = deletedRows,
      dvFile = Some(dvName),
      cdcFiles = cdcNames,
      matched = Some(matched))
  }

  /** Range-delete with log-stats pruning: only files whose ADD-carried
    * [[TxLog.ColStats]] admit `column` ∈ [lo, hi] are scanned for
    * positions (the [[DeleteWhere.range]] pruning economics, now with
    * O(deleted rows) write cost on top).
    */
  def range(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double): Receipt =
    delete(spark, dir, col(column) >= lo && col(column) <= hi,
      Some(TxLog.candidateFilesFromLog(spark, dir, column, lo, hi)))

  /** Per-file deleted-row counts at the current version — the
    * observability surface a materialize policy reads ("fold when
    * >20% of a file is hidden"). One metadata-sized sidecar scan.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    require(TxLog.exists(spark, dir),
      s"deletion vectors require a TxLog-managed table: $dir")
    statsForEntries(spark, dir,
      TxLog.liveEntries(spark, dir).filter(_.dv.isDefined))
  }

  private[ops] def statsForEntries(
      spark: SparkSession,
      dir: String,
      dvd: Seq[TxLog.AddEntry]): DataFrame =
    priorDvRows(spark, dir, dvd) match {
      case None =>
        import spark.implicits._
        Seq.empty[(String, Long)].toDF("file", "deleted_rows")
      case Some(rows) =>
        rows.groupBy("file").agg(count(lit(1)).as("deleted_rows"))
    }

  /** Fold every deletion vector into its file: DV-carrying files are
    * re-read through the snapshot (positions applied) and rewritten
    * without the hidden rows, in ONE staged commit through [[Compact
    * .stageRewrite]]'s crash discipline; plain files are untouched.
    * The superseded sidecars become unreferenced and [[TxLog.vacuum]]
    * reclaims them. Restores the no-anti-join read plan.
    */
  def materialize(spark: SparkSession, dir: String): MaterializeReceipt = {
    require(TxLog.exists(spark, dir),
      s"deletion vectors require a TxLog-managed table: $dir")
    val entries = TxLog.liveEntries(spark, dir)
    materializeEntries(spark, dir, entries, entries.filter(_.dv.isDefined))
  }

  /** Fold only files where the hidden fraction has crossed
    * `minDeletedFraction` — the maintenance policy: read tax accrues
    * per row still shipped to the anti-join, so a file that is 40%
    * tombstones pays for its rewrite while a one-row GDPR hole in a
    * 1 GB file keeps its cheap vector. Row counts come from the
    * footers (metadata pages; distributed like the zone-map build).
    */
  def materializeWhere(
      spark: SparkSession,
      dir: String,
      minDeletedFraction: Double): MaterializeReceipt = {
    require(TxLog.exists(spark, dir),
      s"deletion vectors require a TxLog-managed table: $dir")
    require(minDeletedFraction > 0 && minDeletedFraction <= 1,
      s"minDeletedFraction must be in (0, 1]: $minDeletedFraction")
    val entries = TxLog.liveEntries(spark, dir)
    val dvd = entries.filter(_.dv.isDefined)
    if (dvd.isEmpty) return MaterializeReceipt(0, 0, entries.size.toLong)
    val deleted = stats(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val files = dvd.map(e => TxLog.dataPathOf(dir, e))
    val rowsOf = Compact.footerRowCounts(spark, files)
    val pick = dvd.filter { e =>
      val total = rowsOf.getOrElse(TxLog.dataPathOf(dir, e), Long.MaxValue)
      total > 0 &&
        deleted.getOrElse(e.name, 0L).toDouble / total >= minDeletedFraction
    }
    materializeEntries(spark, dir, entries, pick)
  }

  private def materializeEntries(
      spark: SparkSession,
      dir: String,
      entries: Seq[TxLog.AddEntry],
      dvd: Seq[TxLog.AddEntry]): MaterializeReceipt = {
    if (dvd.isEmpty)
      return MaterializeReceipt(0, 0, entries.size.toLong)
    // folding a vector shifts positions — a tracked table materializes
    // its row ids into the replacement files first
    val live = RowTracking.attachForRewrite(spark, dir, dvd)
      .getOrElse(TxLog.readEntries(spark, dir, dvd)).localCheckpoint()
    val liveRows = live.count()
    // raw (pre-vector) counts per data root — a clone's DV'd entries
    // can live under the source root and the clone root at once
    val rawRows = dvd.groupBy(e => TxLog.dataRootOf(dir, e)).map {
      case (root, es) =>
        spark.read.option("basePath", root)
          .parquet(es.map(e => TxLog.dataPathOf(dir, e)): _*).count()
    }.sum
    val rels = dvd.map(_.name)
    val pcols = DeleteWhere.partitionColsOf(rels)
    val livePhys = TxLog.stagePhysical(spark, dir, live)
    if (pcols.nonEmpty)
      Compact.stageRewriteHive(spark, dir, rels, stagePath =>
        livePhys.write.partitionBy(pcols: _*).mode("overwrite")
          .parquet(stagePath),
        allowDvOlds = true, op = Some("dv-materialize"))
    else
      Compact.stageRewrite(spark, dir, rels, stagePath =>
        livePhys.write.mode("overwrite").parquet(stagePath),
        allowDvOlds = true, op = Some("dv-materialize"))
    MaterializeReceipt(
      rewritten = dvd.size.toLong,
      rowsDropped = rawRows - liveRows,
      untouched = (entries.size - dvd.size).toLong)
  }

  /** The CURRENT deleted positions of `entries` that carry a vector —
    * each file's rows taken from its OWN sidecar (a sidecar may serve
    * many files and an old one may still be live for siblings).
    */
  private def priorDvRows(
      spark: SparkSession,
      dir: String,
      entries: Seq[TxLog.AddEntry]): Option[DataFrame] = {
    val dvd = entries.filter(_.dv.isDefined)
    if (dvd.isEmpty) return None
    // per-entry resolution: an inherited vector lives under the clone
    // SOURCE's `_dv/` (dvBase), one attached since under this table's
    val dvPaths = dvd.map(e => TxLog.dvPathOf(dir, e)).distinct
    val dvAbs = dvPaths.map(p => p -> TxLog.qualifyAbs(spark, p)).toMap
    import spark.implicits._
    val rows = spark.read
      .schema(TxLog.DvSidecarSchema) // fixed by the one writer below
      .parquet(dvPaths: _*)
      .select(col("_metadata.file_path").as("__dv_src"),
        col("file"), col("pos"))
    // scope each sidecar's rows to ITS entries' names — a driver-known
    // multimap filter (map literal: no broadcast-build job per action)
    Some(if (dvd.sizeIs <= TxLog.MapLitMax) {
      val m = typedLit(dvd.groupBy(e => dvAbs(TxLog.dvPathOf(dir, e)))
        .map { case (src, es) => src -> es.map(_.name) })
      rows.filter(array_contains(element_at(m, col("__dv_src")), col("file")))
        .select("file", "pos")
    } else {
      val assoc = dvd.map(e => (dvAbs(TxLog.dvPathOf(dir, e)), e.name))
        .toDF("__dv_src", "file")
      rows.join(broadcast(assoc), Seq("__dv_src", "file"))
        .select("file", "pos")
    })
  }

  /** Land `(file, pos)` rows as one immutable sidecar under `_dv/`:
    * single-file write into a dot-temp dir, then rename into place —
    * the commit that references it follows, so a crash in between
    * leaves only vacuum-sweepable garbage.
    */
  private def writeSidecar(
      spark: SparkSession,
      dir: String,
      rows: DataFrame): String = {
    val landed = landSidecars(spark, dir, TxLog.DvDirName, "dv",
      rows.select(col("file").cast("string"), col("pos").cast("long"))
        .coalesce(1))
    require(landed.size == 1,
      s"dv sidecar stage produced ${landed.size} files")
    landed.head
  }

  /** Rows beyond this many deleted rows skip the change-data sidecar:
    * a massive purge (retention sweeps hiding a large table fraction)
    * must not double its write bytes for a feed that would cost the
    * same to read positionally — the uncovered positions fall back to
    * [[TxLog.diffOfEntries]]'s raw positional read, still O(churn).
    */
  private[ops] val CdcMaxRows = 1L << 24

  /** Per-sidecar-file target: content sidecars write DISTRIBUTED
    * (several tasks for a wide churn), sized so a typical delete
    * still lands one file.
    */
  private val CdcRowsPerFile = 1L << 21

  /** Write a change-data sidecar: the hidden rows' content under the
    * table's PHYSICAL names (rename-stable, like data files), keeping
    * `__graft_file`/`__graft_pos` as the feed's join key and renaming
    * a tracked read's `_row_id` to `__graft_rid`. O(deleted rows) —
    * written distributed (row-count-sized file fan-out), skipped
    * entirely past [[CdcMaxRows]]. Returns the landed file names
    * (empty = no sidecar; the feed serves those positions raw).
    */
  private def writeCdcSidecar(
      spark: SparkSession,
      dir: String,
      rows: DataFrame,
      deletedRows: Long,
      pin: Option[org.apache.spark.sql.types.StructType]): Seq[String] = {
    if (deletedRows > CdcMaxRows) return Nil
    val withRid =
      if (rows.columns.contains(RowTracking.Col))
        rows.withColumnRenamed(RowTracking.Col, "__graft_rid")
      else rows
    val phys = pin.map(ColumnMapping.toPhysical(withRid, _))
      .getOrElse(withRid)
    val nFiles = math.max(1L, math.min(64L,
      (deletedRows + CdcRowsPerFile - 1) / CdcRowsPerFile)).toInt
    landSidecars(spark, dir, TxLog.CdcDirName, "cdc",
      phys.coalesce(nFiles))
  }

  private def landSidecars(
      spark: SparkSession,
      dir: String,
      sub: String,
      kind: String,
      rows: DataFrame): Seq[String] = {
    val fs = Compact.fsOf(spark, dir)
    val tmpDir = new Path(dir, s".${kind}_stage-${java.util.UUID.randomUUID}")
    rows.write.mode("overwrite").parquet(tmpDir.toString)
    val parts = fs.listStatus(tmpDir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    require(parts.nonEmpty, s"$kind sidecar stage produced no files")
    fs.mkdirs(new Path(dir, sub))
    val names = parts.map { p =>
      val name = s"$kind-${java.util.UUID.randomUUID}.parquet"
      val dest = new Path(s"$dir/$sub/$name")
      if (!fs.rename(p.getPath, dest))
        throw new java.io.IOException(s"cannot land $kind sidecar $dest")
      name
    }
    fs.delete(tmpDir, true)
    names
  }
}
