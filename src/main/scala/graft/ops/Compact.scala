package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets

/** Small-file compaction (bin-packing OPTIMIZE): rewrite a table's
  * under-sized files into ~target-sized ones, leaving every file that
  * is already big enough physically untouched. The maintenance half of
  * the streaming sinks: every foreachBatch epoch ([[graft.streaming
  * .RollupIngest]], [[graft.streaming.Scd2Ingest]], …) appends a few
  * small files, and 10⁴ epochs later the table is 10⁴ tiny files whose
  * per-file open/footer cost dominates every scan. Compaction reads
  * ONLY the small tail — cost O(small bytes), not O(table) — so it can
  * run continually against a 100 TB table whose live append surface is
  * megabytes.
  *
  * Crash safety is a two-phase commit, the same discipline as
  * [[graft.sources.ParquetUpsert]]'s staged swap:
  *   1. write the packed files to a hidden staging dir (invisible to
  *      readers — Spark's parquet listing skips dot-dirs);
  *   2. atomically publish a commit marker naming the files to add and
  *      the files to delete (the marker is written to a temp name and
  *      renamed in — readers ignore `_`-prefixed files);
  *   3. move the packed files in, delete the olds, drop the marker.
  * A crash before (2) leaves the table untouched (recover discards the
  * stage); a crash after (2) is finished by [[Compact.recover]], which
  * every binPack runs first — each step is an idempotent
  * rename-if-present / delete-if-present, so recovery replays safely
  * no matter where the writer died. Same single-writer assumption as
  * the RollupStore fence; readers are never blocked and never see a
  * half-state (the only reader-visible transition is the rename-in of
  * finished files followed by deletes of rows they duplicate — a
  * query racing the window can see a duplicate, the standard
  * snapshot-isolation gap a log-backed format closes).
  *
  * Sibling of [[graft.sources.ParquetStore.compactPartitions]]: that
  * one rewrites whole over-filed partitions of a hive-layout table
  * (the stores' shape), this one packs only the SMALL TAIL of a flat
  * directory — the unpartitioned landing zones the plain parquet
  * sinks write — and can recluster it on the way through.
  *
  * `sortCols` additionally range-clusters the packed output, so the
  * compacted tail lands with narrow per-file spans and joins the
  * [[ZoneMap]] / [[ZOrder]] skipping regime — incremental reclustering
  * of exactly the unclustered tail, without rewriting the clustered
  * bulk.
  */
object Compact {

  /** Cost receipt: `packed` small files totalling `packedBytes` were
    * rewritten into `written` outputs; `untouched` files kept their
    * bytes on disk unread.
    */
  final case class Receipt(
      filesBefore: Long,
      filesAfter: Long,
      packed: Long,
      packedBytes: Long,
      written: Long,
      untouched: Long)

  private val StageName = ".compact_stage"
  private val MarkerName = "_compact_commit"

  private[ops] def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The session's hadoop configuration as PLAIN serializable entries
    * — a Configuration is not serializable, and a writeObject wrapper
    * silently breaks under Kryo (which ignores Java serialization
    * hooks). Executor-side closures rebuild with [[confFrom]], so
    * credentials and fs bindings (s3a keys, endpoints, custom
    * schemes) survive the ship; a bare `new Configuration()` on the
    * executor would silently drop them and fail on any non-default
    * filesystem.
    */
  private[graft] def confEntries(
      spark: SparkSession): Array[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
    buf.toArray
  }

  private[graft] def confFrom(
      entries: Array[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    entries.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Per-file parquet footer ROW COUNTS — metadata pages only,
    * distributed over executors with the session conf shipped (the
    * one footer-probe loop every caller shares: commit row bases,
    * filesMeta, DV materialize picks, COPY INTO receipts). `lenient`
    * skips absent/unreadable paths instead of failing the job.
    */
  private[graft] def footerRowCounts(
      spark: SparkSession,
      paths: Seq[String],
      lenient: Boolean = false): Map[String, Long] =
    if (paths.isEmpty) Map.empty
    else {
      val ce = confEntries(spark)
      spark.sparkContext
        .parallelize(paths, math.max(1, math.min(paths.length, 64)))
        .mapPartitions { it =>
          val conf = confFrom(ce)
          it.flatMap { f =>
            try {
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new Path(f), conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try {
                var n = 0L
                r.getFooter.getBlocks.forEach(b => n += b.getRowCount)
                Seq((f, n))
              } finally r.close()
            } catch { case e: Exception => if (lenient) Nil else throw e }
          }
        }.collect().toMap
    }

  /** Visible data files of `dir`: what Spark's own listing would read
    * (top-level files not `_`/`.`-prefixed).
    */
  private[ops] def dataFiles(fs: FileSystem, dir: String): Seq[FileStatus] =
    fs.listStatus(new Path(dir)).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Recursive visible data files as (relative name, status) — the
    * listing a hive-partitioned [[TxLog]] table needs: `region=EU/
    * part-….parquet` is one entry. Hidden (`_`/`.`) files AND
    * directories are skipped at every level.
    */
  private[ops] def dataFileStatusesRecursive(
      fs: FileSystem,
      dir: String): Seq[(String, FileStatus)] = {
    def walk(p: Path, prefix: String): Seq[(String, FileStatus)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isFile) Seq((prefix + n, st))
        else walk(st.getPath, prefix + n + "/")
      }
    walk(new Path(dir), "")
  }

  private[ops] def dataFilesRecursive(fs: FileSystem, dir: String): Seq[String] =
    dataFileStatusesRecursive(fs, dir).map(_._1)

  /** Compact `dir`: files under `smallBytes` are read back and
    * rewritten as ⌈small-bytes / targetBytes⌉ packed files (range-
    * clustered on `sortCols` when given); everything else stays in
    * place. Runs [[recover]] first, so an interrupted predecessor is
    * finished before the new generation starts.
    */
  /** `partition` (TxLog-managed tables only) confines the pack to one
    * hive-style partition prefix (`"region=EU"`): only that
    * partition's small tail is read and rewritten, its replacement
    * files land under the same prefix, and every other partition's
    * entries ride through the commit untouched — per-partition
    * maintenance at per-partition cost.
    */
  def binPack(
      spark: SparkSession,
      dir: String,
      targetBytes: Long = 128L << 20,
      smallBytes: Long = 32L << 20,
      sortCols: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil,
      partition: Option[String] = None): Receipt = {
    // no explicit layout: the table's DECLARED clustering columns
    // (TxLog.setClusterColumns — liquid-style CLUSTER BY) decide, so
    // every maintenance pass (streaming sinks' compactEvery, OPTIMIZE,
    // a bare binPack) converges the small-file tail to the declared
    // layout with no column list at any call site
    val (sCols, zCols) =
      if (sortCols.nonEmpty || zorderCols.nonEmpty) (sortCols, zorderCols)
      else if (!TxLog.exists(spark, dir)) (Nil, Nil)
      else TxLog.clusterColumns(spark, dir) match {
        case Nil => (Nil, Nil)
        case one if one.sizeIs == 1 => (one, Nil) // range sort beats 1-col Morton
        case many => (Nil, many)
      }
    // a partitioned log table with no partition given: pack EACH
    // partition in place (one commit per partition — maintenance, not
    // a transaction). Packing across partitions would emit root-level
    // files and silently drop the path-encoded partition column.
    if (partition.isEmpty && TxLog.exists(spark, dir)) {
      val prefixes = TxLog.liveFiles(spark, dir)
        .filter(_.contains('/'))
        .map(n => n.substring(0, n.lastIndexOf('/'))).distinct.sorted
      if (prefixes.nonEmpty) {
        val receipts = prefixes.map(p =>
          binPack(spark, dir, targetBytes, smallBytes, sCols, zCols,
            partition = Some(p)))
        return receipts.reduce((a, b) => Receipt(
          a.filesBefore + b.filesBefore, a.filesAfter + b.filesAfter,
          a.packed + b.packed, a.packedBytes + b.packedBytes,
          a.written + b.written, a.untouched + b.untouched))
      }
    }
    val receipt =
      stage(spark, dir, targetBytes, smallBytes, sCols, zCols, partition)
    recover(spark, dir)
    receipt
  }

  /** Phase 1+2 only (stage the packed files, publish the marker) —
    * the state a crashed writer leaves behind; [[recover]] finishes
    * it. Package-visible so the crash path is testable.
    */
  private[graft] def stage(
      spark: SparkSession,
      dir: String,
      targetBytes: Long,
      smallBytes: Long,
      sortCols: Seq[String],
      zorderCols: Seq[String] = Nil,
      partition: Option[String] = None): Receipt = {
    recover(spark, dir)
    val files = liveStatuses(spark, dir, partition)
    // a DV-carrying file cannot pack from its raw bytes (it would
    // resurrect hidden rows) — SKIP it rather than fail the whole
    // maintenance pass: DeletionVectors.materialize folds it first,
    // after which the next pack picks it up
    val dvBy: Set[String] =
      if (TxLog.exists(spark, dir))
        TxLog.liveEntries(spark, dir)
          .filter(_.dv.isDefined).map(_.name).toSet
      else Set.empty
    val small = files.filter(f =>
      f._2.getLen < smallBytes && !dvBy(f._1))
    if (small.length < 2)
      return Receipt(files.length, files.length, 0, 0, 0, files.length)

    val packedBytes = small.map(_._2.getLen).sum
    val nOut = math.max(1L, (packedBytes + targetBytes - 1) / targetBytes).toInt
    // partition-prefixed packs write files whose partition values live
    // in the path, not the footer — strip those columns from the pin
    // so the read doesn't inject all-NULL path columns into data files
    val pcols: Set[String] = partition.toSeq
      .flatMap(_.split("/").toSeq.filter(_.contains("="))
        .map(_.split("=", 2)(0))).toSet
    // a tracked table's pack first materializes the packed rows' ids
    // (the pack shuffles positions — row ids must travel as data);
    // the id-attaching read is logical, so alias back to physical for
    // the bytes-out write. Untracked: the plain physical read.
    val smallNames = small.map(_._1).toSet
    val df = (if (TxLog.exists(spark, dir))
        RowTracking.attachForRewrite(spark, dir,
          TxLog.liveEntries(spark, dir).filter(e => smallNames(e.name)))
      else None) match {
      case Some(at) =>
        TxLog.stagePhysical(spark, dir,
          at.drop(pcols.toSeq: _*)) // partition values live in the path
      case None =>
        pinnedReader(spark, dir, dropCols = pcols)
          .parquet(small.map(_._2.getPath.toString): _*)
    }
    // the pack reads AND writes physical names (bytes in, bytes out —
    // no logical round trip); caller-supplied cluster columns are
    // logical, so translate them onto the physical frame
    def phys(c: String): String = TxLog.tableSchema(spark, dir)
      .map(ColumnMapping.physicalOf(_, c)).getOrElse(c)
    val packed =
      if (zorderCols.nonEmpty) ZOrder.cluster(df, zorderCols.map(phys), nOut)
      else if (sortCols.nonEmpty)
        df.repartitionByRange(nOut, sortCols.map(c => col(phys(c))): _*)
          .sortWithinPartitions(sortCols.map(c => col(phys(c))): _*)
      else df.repartition(nOut)
    val written = stageRewrite(spark, dir, small.map(_._1),
      stagePath => packed.write.mode("overwrite").parquet(stagePath),
      prefix = partition, op = Some("compact")).length
    Receipt(
      filesBefore = files.length,
      filesAfter = files.length - small.length + written,
      packed = small.length,
      packedBytes = packedBytes,
      written = written,
      untouched = files.length - small.length)
  }

  /** Reader for every rewrite path that re-reads an explicit file
    * list (pack, delete, merge): the table's pinned schema when the
    * log holds one — after schema evolution a mixed-era file list
    * must NOT let a pre-evolution footer decide the schema, or the
    * evolved column's values are silently dropped from the rewritten
    * files. No pin → the plain read [[TxLog.readEntries]] also uses
    * (NOT mergeSchema: benign per-file footer drift like
    * TIMESTAMP vs TIMESTAMP_NTZ reads fine under one footer's schema
    * but makes StructType.merge throw). Partition columns absent
    * from the pin are appended by Spark's basePath discovery, so the
    * hive rewrite paths keep their path-encoded columns.
    */
  private[ops] def pinnedReader(
      spark: SparkSession,
      dir: String,
      dropCols: Set[String] = Set.empty): org.apache.spark.sql.DataFrameReader =
    TxLog.tableSchema(spark, dir) match {
      case Some(sc) =>
        // the files spell PHYSICAL names (identical to logical when
        // the table is unmapped) — the raw rewrite reads want exactly
        // that spelling; [[pinnedRead]] aliases back for callers that
        // apply logical predicates
        val kept = org.apache.spark.sql.types.StructType(
          ColumnMapping.physicalSchema(sc).filterNot(f => dropCols(f.name)))
        spark.read.schema(kept)
      case None => spark.read
    }

  /** [[pinnedReader]] + the physical→logical aliasing — the candidate
    * read for paths that evaluate LOGICAL predicates/keys against raw
    * file lists (probe scans in [[DeleteWhere]]). Identity projection
    * when the table is unmapped.
    */
  private[ops] def pinnedRead(
      spark: SparkSession,
      dir: String,
      paths: Seq[String]): org.apache.spark.sql.DataFrame = {
    TxLog.tableSchema(spark, dir) match {
      case Some(sc) =>
        ColumnMapping.toLogical(
          pinnedReader(spark, dir).parquet(paths: _*), sc)
      case None =>
        // a directory without a log: memoized footer schema — the
        // sampling job runs once per (immutable) probed file
        spark.read.schema(TxLog.inferSchemaCached(spark, paths))
          .parquet(paths: _*)
    }
  }

  /** The table's live data files as (relative name, status): the
    * current [[TxLog]] snapshot when the directory is log-managed —
    * optionally confined to one partition prefix — the plain visible
    * listing otherwise (flat; partitions need the log to track
    * prefixed names through a rewrite).
    *
    * SHALLOW-CLONED (based) entries are NOT listed: their bytes live
    * under the source root, which maintenance on the clone must never
    * rewrite wholesale — so [[binPack]] packs only the clone's own
    * small-file tail. A clone's inherited files localize one by one
    * as DML touches them, after which packing picks them up.
    */
  private[ops] def liveStatuses(
      spark: SparkSession,
      dir: String,
      partition: Option[String] = None): Seq[(String, FileStatus)] = {
    val fs = fsOf(spark, dir)
    if (TxLog.exists(spark, dir)) {
      // one recursive listing filtered by the snapshot — not a
      // per-file getFileStatus round-trip (10^5 live files = 10^5 RPCs)
      val live = TxLog.liveFiles(spark, dir).toSet
      dataFileStatusesRecursive(fs, dir).filter { case (n, _) =>
        live(n) && partition.forall(p => n.startsWith(p + "/"))
      }
    } else {
      require(partition.isEmpty,
        "partition-confined compaction requires a TxLog-managed directory")
      dataFiles(fs, dir).map(f => (f.getPath.getName, f))
    }
  }

  /** The shared staged-rewrite commit: run `writeStage` against the
    * hidden staging dir, then commit — olds out, staged files in.
    * Reused by every file-surgery operator ([[Compact.binPack]],
    * [[DeleteWhere]], [[UpsertWhere]]) so they all share one crash
    * discipline. Returns the new file names.
    *
    * Two commit modes:
    *   - plain directory: rename-publish a marker listing olds (to
    *     delete) and news (to move in); [[recover]] — which the public
    *     entry points run next, and every later call runs first —
    *     completes it from any interruption.
    *   - [[TxLog]]-managed directory: move the staged files in, then
    *     atomically commit a new log version (ADD news / REMOVE olds).
    *     Old files STAY on disk for older snapshots ([[TxLog.vacuum]]
    *     reclaims them); a crash before the version commit leaves
    *     orphan data files no snapshot references — invisible to log
    *     readers, RETAINED by a default vacuum (the sweep can't tell
    *     them from an in-flight writer's just-moved files) and
    *     reclaimed only by vacuum's opt-in age-gated orphan sweep
    *     (`sweepOrphansOlderThanMs`).
    */
  private[ops] def stageRewrite(
      spark: SparkSession,
      dir: String,
      olds: Seq[String],
      writeStage: String => Unit,
      prefix: Option[String] = None,
      allowDvOlds: Boolean = false,
      op: Option[String] = None,
      frameSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[String] = {
    if (!allowDvOlds) TxLog.requireNoDvs(spark, dir, olds, "rewrite")
    // the (name → dv) pairs this rewrite's reads are based on,
    // captured BEFORE writeStage scans a byte: a concurrent DV attach
    // on any old lands a changed pair and the commit below conflicts
    // instead of resurrecting its deleted rows
    val seen =
      if (TxLog.exists(spark, dir)) {
        val o = olds.toSet
        TxLog.liveEntries(spark, dir).filter(e => o(e.name))
      } else Nil
    val fs = fsOf(spark, dir)
    // log-managed: a PRIVATE stage dir per writer, so concurrent
    // writers to one table stage side by side and serialize only at
    // the commit claim (a shared dir would let one writer delete the
    // other's in-flight stage). The log IS the recovery — an orphaned
    // stage from a crashed writer is invisible (dot-prefixed, never
    // referenced) and vacuum's age-gated sweep reclaims it. The
    // unmanaged marker mode keeps the FIXED name recover() replays.
    val stagePath =
      if (TxLog.exists(spark, dir))
        new Path(dir, s"$StageName-${java.util.UUID.randomUUID}")
      else new Path(dir, StageName)
    fs.delete(stagePath, true)
    writeStage(stagePath.toString)
    val newNames = fs.listStatus(stagePath).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).sorted
    if (TxLog.exists(spark, dir)) {
      // staged files land under the partition prefix (if any) and the
      // commit records the prefixed relative names — other partitions'
      // entries ride through untouched
      val sub = prefix.map(_ + "/").getOrElse("")
      prefix.foreach(p => fs.mkdirs(new Path(dir, p)))
      newNames.foreach { n =>
        if (!fs.rename(new Path(stagePath, n), new Path(dir, sub + n)))
          throw new java.io.IOException(s"compact: cannot move $sub$n into $dir")
      }
      fs.delete(stagePath, true)
      TxLog.commit(spark, dir, adds = newNames.map(sub + _), removes = olds,
        seen = seen, op = op, frameSchema = frameSchema)
      return newNames.map(sub + _)
    }
    require(prefix.isEmpty,
      "partition-confined rewrites require a TxLog-managed directory")
    // Marker: rename-published so readers/recovery only ever see a
    // complete one (a torn temp write is `.`-prefixed and ignored).
    val body = (Seq("V1") ++ Seq("OLDS") ++ olds.sorted ++
      Seq("NEWS") ++ newNames ++ Seq("END")).mkString("\n")
    val tmpMarker = new Path(dir, "." + MarkerName + ".tmp")
    val out = fs.create(tmpMarker, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val marker = new Path(dir, MarkerName)
    fs.delete(marker, false)
    if (!fs.rename(tmpMarker, marker))
      throw new java.io.IOException(s"compact: cannot publish marker in $dir")
    newNames
  }

  /** Staged rewrite of a HIVE-PARTITIONED log-managed table: the
    * writer emits a partition TREE into the staging dir (a
    * `.write.partitionBy(...)` — replacement files for however many
    * partitions the operation touches), the tree moves in under the
    * table root with prefixes intact, and ONE log commit swaps all
    * partitions' entries atomically — a delete spanning three
    * partitions is still a single version, not three. TxLog-managed
    * dirs only (a plain directory has no way to name prefixed files
    * through the flat marker). Crash before the commit leaves
    * orphans no snapshot references (vacuum's age-gated sweep
    * reclaims them) — same discipline as the flat txlog branch.
    */
  private[ops] def stageRewriteHive(
      spark: SparkSession,
      dir: String,
      olds: Seq[String],
      writeStage: String => Unit,
      allowDvOlds: Boolean = false,
      op: Option[String] = None,
      frameSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[String] = {
    require(TxLog.exists(spark, dir),
      "hive-partitioned rewrites require a TxLog-managed directory")
    if (!allowDvOlds) TxLog.requireNoDvs(spark, dir, olds, "rewrite")
    val seenH = { // see stageRewrite: pre-read capture for DV conflicts
      val o = olds.toSet
      TxLog.liveEntries(spark, dir).filter(e => o(e.name))
    }
    val fs = fsOf(spark, dir)
    // always log-managed here: private per-writer stage (see
    // stageRewrite — concurrent writers must not clobber each other)
    val stagePath = new Path(dir, s"$StageName-${java.util.UUID.randomUUID}")
    writeStage(stagePath.toString)
    val newNames = dataFilesRecursive(fs, stagePath.toString).sorted
    newNames.foreach { n =>
      val dest = new Path(dir, n)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(new Path(stagePath, n), dest))
        throw new java.io.IOException(s"compact: cannot move $n into $dir")
    }
    fs.delete(stagePath, true)
    TxLog.commit(spark, dir, adds = newNames, removes = olds, seen = seenH,
      op = op, frameSchema = frameSchema)
    newNames
  }

  /** Finish (or discard) an interrupted compaction. With a complete
    * marker: move each staged file in (skip those already moved),
    * delete each listed old (skip those already gone), then drop the
    * marker + stage — every step idempotent, so recover-after-recover
    * and recover-after-partial-recover are no-ops. Without a marker:
    * the compaction never committed — discard the stage, the table
    * was never touched.
    */
  /** Reclaim crashed writers' private stage dirs
    * (`.compact_stage-<uuid>`): never referenced by any version, so
    * only an age gate is needed to keep an in-flight writer's
    * minutes-old stage safe. Called from [[TxLog.vacuum]].
    */
  private[ops] def sweepStaleStages(
      spark: SparkSession, dir: String, ageMs: Long): Unit = {
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) return
    val cutoff = System.currentTimeMillis() - ageMs
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(StageName + "-") &&
        s.getModificationTime < cutoff)
      .foreach(s => fs.delete(s.getPath, true))
  }

  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val marker = new Path(dir, MarkerName)
    val stagePath = new Path(dir, StageName)
    fs.delete(new Path(dir, "." + MarkerName + ".tmp"), false)
    if (!fs.exists(marker)) { fs.delete(stagePath, true); return }
    val lines = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    if (lines.headOption != Some("V1") || lines.lastOption != Some("END")) {
      // torn marker: never renamed-in by a healthy writer; treat as
      // uncommitted
      fs.delete(marker, false); fs.delete(stagePath, true); return
    }
    val newsAt = lines.indexOf("NEWS")
    val olds = lines.slice(lines.indexOf("OLDS") + 1, newsAt)
    val news = lines.slice(newsAt + 1, lines.length - 1)
    news.foreach { n =>
      val src = new Path(stagePath, n)
      val dst = new Path(dir, n)
      if (fs.exists(src)) {
        if (fs.exists(dst)) fs.delete(src, false) // already published
        else if (!fs.rename(src, dst))
          throw new java.io.IOException(s"compact recover: cannot move $n into $dir")
      }
    }
    olds.foreach(n => fs.delete(new Path(dir, n), false))
    fs.delete(stagePath, true)
    fs.delete(marker, false)
  }
}
