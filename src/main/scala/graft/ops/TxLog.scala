package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets

/** A minimal transaction log over a parquet directory: each commit is
  * one version file `_txlog/vNNNNNNNN.txt` listing the data files the
  * commit ADDs and REMOVEs (by name). The committed state at version V
  * is the fold of v0..vV — so readers get SNAPSHOT ISOLATION (a query
  * pins a version and never sees a concurrent rewrite's half-state, or
  * its duplicates) and TIME TRAVEL (any retained version reconstructs
  * exactly), the two properties the plain-directory mode's
  * reader-races documentation concedes. The model every log-backed
  * table format shares (Delta's JSON actions, Iceberg's manifests),
  * cut to its load-bearing core.
  *
  * Commit protocol: write the version body to a dot-temp, then
  * atomically CLAIM the final `vNNNNNNNN.txt` name — `link(2)` on
  * local filesystems (EEXIST is kernel-atomic), `FileContext.rename`
  * with `Options.Rename.NONE` elsewhere (the no-overwrite rename HDFS
  * guarantees at the NameNode) — so two racing writers cannot both
  * land the same version: the loser retries against the next number
  * (bounded optimistic retry). A plain `FileSystem.rename` would NOT
  * do: on the local filesystem it is POSIX rename, which silently
  * overwrites. A crash before the claim leaves only an ignored temp; a
  * crash after is a completed commit. Data files referenced by
  * older versions stay on disk until [[vacuum]], which drops files
  * no retained version references — reads older than the retention
  * horizon then fail, the standard lakehouse trade.
  *
  * 100 TB shape: the log is metadata-sized (file NAMES, not data), a
  * snapshot read lists one small directory + reads the versions since
  * the last [[checkpoint]] (measured: a 500-version fold plans in
  * ~143 ms; checkpoint + a 10-commit tail in ~29 ms — the checkpoint
  * keeps planning O(tail) as history grows), and every data-file
  * write still goes through the operators' staged jobs. The file-surgery triad ([[Compact]], [[DeleteWhere]],
  * [[UpsertWhere]]) detects a log-managed directory and routes its
  * commit through [[commit]] automatically — same operator API, ACID
  * upgraded.
  *
  * Readers of a log-managed directory must go through [[snapshot]];
  * a raw `spark.read.parquet(dir)` sees superseded files (exactly as
  * it would under any log-backed format).
  *
  * PARTITIONS: entry names are paths relative to the table root, so a
  * hive-layout table (`region=EU/part-….parquet`) converts, snapshots,
  * time-travels, vacuums and compacts per partition ([[Compact
  * .binPack]]'s `partition`) with the prefixes intact. The keyed DML
  * pair ([[DeleteWhere]]/[[UpsertWhere]]) detects the layout from the
  * live names: hive tables read candidates with `basePath` (partition
  * columns stay queryable), restage as a partition tree, and swap
  * every touched partition's entries in one commit ([[Compact
  * .stageRewriteHive]]).
  */
object TxLog {

  private val LogDir = "_txlog"

  private def logPath(dir: String) = new Path(dir, LogDir)

  private def versionName(v: Int) = f"v$v%08d.txt"
  private def checkpointName(v: Int) = f"c$v%08d.txt"

  /** Named metadata files in the log dir — the shared primitive the
    * per-table (DbLog) metadata namespaces build on
    * (`constraints.<table>.txt`, `stats_cols.<table>.txt`,
    * `schema.<table>.<v>.json`). Safe to add freely: every strict
    * pattern elsewhere (versions `v\d{8}`, checkpoints `c\d{8}`,
    * schema pins `s\d{8}`) ignores unknown names by construction.
    */
  private[ops] def metaWrite(
      spark: SparkSession, dir: String, name: String, body: String): Unit = {
    val fs = Compact.fsOf(spark, dir)
    require(fs.exists(logPath(dir)), s"$dir is not TxLog-managed")
    val out = fs.create(new Path(logPath(dir), name), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private[ops] def metaRead(
      spark: SparkSession, dir: String, name: String): Option[String] = {
    val fs = Compact.fsOf(spark, dir)
    val p = new Path(logPath(dir), name)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  private[ops] def metaList(
      spark: SparkSession, dir: String, prefix: String): Seq[String] = {
    val fs = Compact.fsOf(spark, dir)
    if (!fs.exists(logPath(dir))) return Nil
    fs.listStatus(logPath(dir)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).sorted
  }

  /** Per-column min/max carried ON an ADD entry — the Delta/Iceberg
    * move of embedding file statistics in the commit itself, so a
    * selective read plans (snapshot + prune) from ONE metadata read
    * with no sidecar manifest to build or refresh. Bounds are doubles
    * widened outward exactly like [[ZoneMap]]'s ([[ZoneMap
    * .boundToDouble]] does the conversion), so pruning on them is
    * sound at any magnitude.
    */
  final case class ColStats(column: String, min: Double, max: Double)

  /** One ADD record: a data-file name — RELATIVE to its data root,
    * possibly carrying hive-style partition prefixes
    * (`region=EU/part-….parquet`) — plus optional per-column stats
    * and an optional DELETION VECTOR sidecar name (a parquet file
    * under `_dv/` listing this file's logically-deleted row
    * positions; see [[DeletionVectors]]).
    *
    * The data root is the TABLE ROOT unless `base` names a FOREIGN
    * root — the zero-copy SHALLOW-CLONE case ([[cloneTo]]): a cloned
    * table's first commit re-ADDs the source snapshot's entries with
    * `base` = the source root, so the clone reads the source's bytes
    * without copying them; any rewrite of a based entry localizes it
    * (replacement files land under the clone root with no base), the
    * Delta shallow-clone contract. `dvBase` is the same seam for the
    * sidecar: a cloned DV still lives under the SOURCE's `_dv/`,
    * while a vector attached after the clone is local. Entry NAMES
    * stay the identity the live-set fold and the remove/conflict
    * checks key on — unique within a table (a clone inherits one
    * snapshot's names, which are unique by construction; fresh local
    * writes mint UUID names).
    *
    * Serialized as up to seven `|`-separated segments —
    * `name|stats|dv|base|dvBase|rowBase|addedV` — with trailing empties
    * dropped, so older logs (1-6 segments) parse unchanged (stats columns
    * must avoid `|,:` — enforced at [[setStatsColumns]]; file names
    * and roots never contain `|`).
    */
  final case class AddEntry(
      name: String,
      stats: Seq[ColStats] = Nil,
      dv: Option[String] = None,
      base: Option[String] = None,
      dvBase: Option[String] = None,
      rowBase: Option[Long] = None,
      addedV: Option[Int] = None) {
    private[ops] def serialized: String = {
      val statsPart = stats.map(s =>
        s"${s.column}:${s.min}:${s.max}").mkString(",")
      val segs = Seq(name, statsPart, dv.getOrElse(""),
        base.getOrElse(""), dvBase.getOrElse(""),
        rowBase.map(_.toString).getOrElse(""),
        addedV.map(_.toString).getOrElse(""))
      segs.take(segs.lastIndexWhere(_.nonEmpty) + 1).mkString("|")
    }
  }

  private def parseEntry(s: String): AddEntry = {
    // -1 keeps interior empty segments (`a||d` = no stats, a dv)
    val parts = s.split("\\|", -1)
    def opt(i: Int): Option[String] =
      if (parts.length <= i || parts(i).isEmpty) None else Some(parts(i))
    val stats =
      if (parts.length < 2 || parts(1).isEmpty) Nil
      else parts(1).split(',').toSeq.map { part =>
        val Array(c, mn, mx) = part.split(':')
        ColStats(c, mn.toDouble, mx.toDouble)
      }
    AddEntry(parts(0), stats, opt(2), opt(3), opt(4), opt(5).map(_.toLong),
      opt(6).map(_.toInt))
  }

  /** The root an entry's DATA bytes live under — the table root, or
    * the clone-source root a based entry carries.
    */
  private[ops] def dataRootOf(dir: String, e: AddEntry): String =
    e.base.getOrElse(dir)

  /** The full path of an entry's data file. Every reader and every
    * per-file metadata probe must resolve through this (a bare
    * `$dir/$name` reads a hole where a shallow clone's bytes are).
    */
  private[ops] def dataPathOf(dir: String, e: AddEntry): String =
    s"${dataRootOf(dir, e)}/${e.name}"

  /** The full path of an entry's deletion-vector sidecar (defined
    * only when `e.dv` is set): under the root that WROTE it — the
    * clone source for vectors the clone inherited, the table root
    * for vectors attached since.
    */
  private[ops] def dvPathOf(dir: String, e: AddEntry): String =
    dvFilePath(e.dvBase.getOrElse(dir), e.dv.getOrElse(
      throw new IllegalArgumentException(s"entry ${e.name} carries no dv")))

  /** Map inputFiles-form URIs back to the live entries they read —
    * the base-aware replacement for prefix-stripping a URI down to a
    * relative name: a shallow clone's candidate URIs point at the
    * SOURCE root, which no string surgery against the clone root can
    * invert. Keys are bare URI paths (scheme/authority stripped),
    * matching `input_file_name()` and `inputFiles` output on any one
    * filesystem.
    */
  private[ops] def entriesForUris(
      spark: SparkSession,
      dir: String,
      uris: Seq[String],
      entries: Seq[AddEntry]): Seq[AddEntry] = {
    def bare(p: String) = new Path(p).toUri.getPath
    val byPath = entries.map(e => bare(dataPathOf(dir, e)) -> e).toMap
    uris.map { u =>
      byPath.getOrElse(bare(u),
        throw new IllegalArgumentException(
          s"$u is not a live data file of $dir"))
    }
  }

  def exists(spark: SparkSession, dir: String): Boolean = {
    val fs = Compact.fsOf(spark, dir)
    fs.exists(logPath(dir))
  }

  /** Reject a COPY-ON-WRITE rewrite of files that carry deletion
    * vectors: the rewrite reads the raw file bytes, so it would
    * resurrect every DV-hidden row. [[DeletionVectors.materialize]]
    * folds the DVs in first; only it may rewrite DV-carrying files.
    */
  private[ops] def requireNoDvs(
      spark: SparkSession, dir: String, rels: Seq[String], op: String): Unit = {
    if (!exists(spark, dir)) return
    val dvBy = liveEntries(spark, dir)
      .filter(_.dv.isDefined).map(_.name).toSet
    val hit = rels.filter(dvBy)
    require(hit.isEmpty,
      s"$op would rewrite ${hit.size} file(s) carrying deletion vectors " +
        s"(${hit.take(3).mkString(", ")}…) from their RAW bytes, " +
        "resurrecting deleted rows — run DeletionVectors.materialize " +
        s"on $dir first")
  }

  private val StatsColsName = "stats_cols.txt"

  /** Declare which columns every LATER commit carries [[ColStats]]
    * for (the `dataSkippingNumIndexedCols`-style table property, as an
    * explicit column list). From then on [[commit]] footer-reads its
    * added files — O(adds), metadata pages only — and embeds their
    * min/max in the version body, so [[snapshotPruned]] plans a
    * selective read from the log alone. Files committed BEFORE the
    * declaration (including convert's v0) carry no stats and are
    * never pruned — compaction refreshes them into stats-carrying
    * entries. Idempotent overwrite; pass Nil to stop collecting.
    */
  def setStatsColumns(spark: SparkSession, dir: String, cols: Seq[String]): Unit = {
    require(cols.forall(c => !c.exists("|,:".contains(_))),
      s"stats columns must avoid '|', ',' and ':' — got $cols")
    val fs = Compact.fsOf(spark, dir)
    require(fs.exists(logPath(dir)), s"$dir is not TxLog-managed")
    val out = fs.create(new Path(logPath(dir), StatsColsName), true)
    try out.write(cols.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def statsColumns(spark: SparkSession, dir: String): Seq[String] = {
    val fs = Compact.fsOf(spark, dir)
    val p = new Path(logPath(dir), StatsColsName)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    body.filter(_.nonEmpty)
  }

  private[ops] val ClusterColsName = "cluster_cols.txt"

  /** Declare the table's CLUSTERING COLUMNS (Delta liquid clustering's
    * `CLUSTER BY`, as a table property): ingest writes nothing
    * special, and every [[Compact.binPack]] / OPTIMIZE pass with no
    * explicit sort/z-order list range-clusters exactly the
    * unclustered small-file tail on these columns (one column →
    * range sort, several → Z-order) — so the table CONVERGES to
    * clustered under its normal maintenance cadence, no call site
    * carries a column list, and re-declaring re-clusters
    * incrementally as files churn (already-packed files are never
    * rewritten just to re-sort; the tail picks up the new layout).
    * Pair with [[setStatsColumns]] on the same columns so the
    * clustered layout actually prunes. Pass Nil to stop.
    */
  def setClusterColumns(
      spark: SparkSession, dir: String, cols: Seq[String]): Unit = {
    require(cols.forall(c => !c.exists("|,:".contains(_))),
      s"cluster columns must avoid '|', ',' and ':' — got $cols")
    tableSchema(spark, dir).foreach { pin =>
      val have = pin.fieldNames.toSet
      val missing = cols.filterNot(have)
      require(missing.isEmpty,
        s"cluster columns not in $dir's schema: ${missing.mkString(", ")}")
    }
    metaWrite(spark, dir, ClusterColsName, cols.mkString("\n"))
  }

  def clusterColumns(spark: SparkSession, dir: String): Seq[String] =
    metaRead(spark, dir, ClusterColsName).toSeq
      .flatMap(_.linesIterator).filter(_.nonEmpty)

  private[ops] val CheckpointEveryName = "checkpoint_every.txt"

  /** AUTO-CHECKPOINT policy: every N-th main commit writes a log
    * checkpoint in-line (the Delta `checkpointInterval` table
    * property), so a high-churn table — a streaming sink landing
    * thousands of epochs — keeps snapshot planning at O(N + one
    * checkpoint read) with no external maintenance loop remembering
    * to call [[checkpoint]]. `n = 0` clears the policy. Cost per
    * commit: one tiny metadata read; every N-th commit additionally
    * pays the checkpoint fold it would otherwise defer.
    */
  def setCheckpointEvery(spark: SparkSession, dir: String, n: Int): Unit = {
    require(n >= 0, s"checkpointEvery: n must be >= 0, got $n")
    if (n == 0)
      Compact.fsOf(spark, dir)
        .delete(new Path(logPath(dir), CheckpointEveryName), false)
    else metaWrite(spark, dir, CheckpointEveryName, n.toString)
  }

  def checkpointEvery(spark: SparkSession, dir: String): Option[Int] =
    metaRead(spark, dir, CheckpointEveryName)
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).filter(_ > 0)

  private val TagPrefix = "tag."

  /** Pin a NAME to a version (default: current) — Iceberg-style tags:
    * `snapshotTag` reads it by name, and [[vacuum]] keeps a tagged
    * version reconstructable (its files AND the log entries to fold
    * it) regardless of the retention count, so a `quarterly-audit` tag
    * survives years of daily vacuums. Re-tagging moves the name.
    * Returns the pinned version.
    */
  def setTag(spark: SparkSession, dir: String, name: String,
      version: Int = -1): Int = {
    require(name.matches("[A-Za-z0-9_.-]+"),
      s"tag name '$name' must be [A-Za-z0-9_.-]+")
    require(branchOf(dir).isEmpty,
      "setTag: run from main scope (a tag names a MAIN version; a " +
        "branch version's number is only meaningful inside its branch)")
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(versions(spark, dir).contains(v),
      s"tag $name: version $v does not exist in $dir")
    val fs = Compact.fsOf(spark, dir)
    val out = fs.create(new Path(logPath(dir), s"$TagPrefix$name.txt"), true)
    try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    v
  }

  def tags(spark: SparkSession, dir: String): Map[String, Int] = {
    val fs = Compact.fsOf(spark, dir)
    if (!fs.exists(logPath(dir))) return Map.empty
    fs.listStatus(logPath(dir)).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith(TagPrefix) && n.endsWith(".txt"))
      .map { n =>
        val in = fs.open(new Path(logPath(dir), n))
        val body =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        n.substring(TagPrefix.length, n.length - 4) -> body.toInt
      }.toMap
  }

  def deleteTag(spark: SparkSession, dir: String, name: String): Unit = {
    val fs = Compact.fsOf(spark, dir)
    fs.delete(new Path(logPath(dir), s"$TagPrefix$name.txt"), false)
  }

  /** The newest version committed at or before `tsMillis` — Delta's
    * `TIMESTAMP AS OF`. Ordered by [[commitTimeMillis]]: the
    * IN-COMMIT stamp (monotonic by construction, immune to the log
    * directory being copied) when present, the commit file's mtime
    * for pre-stamp history. A timestamp older than the retention
    * horizon (or before the table existed) is an error naming the
    * earliest available commit time. Metadata-only: one head-read
    * per retained version.
    */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Int = {
    val vs = versions(spark, dir).sorted
    require(vs.nonEmpty, s"$dir is not TxLog-managed")
    val floor = floorByTime(spark, dir, vs, tsMillis)
    require(floor >= 0,
      s"no version of $dir at or before $tsMillis — earliest retained " +
        s"commit is v${vs.head} at ${commitTimeMillis(spark, dir, vs.head)}")
    floor
  }

  /** Snapshot as of a wall-clock time ([[versionAsOf]]). */
  def snapshotAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    snapshot(spark, dir, versionAsOf(spark, dir, tsMillis))

  /** [[versionAsOf]] that answers -1 instead of erroring when the
    * whole retained history is younger than `tsMillis` — the
    * timestamp→version FLOOR the time-bounded CDF uses: a commit-time
    * window (a, b] maps to versions (floor(a), floor(b)], and a floor
    * of -1 replays the initial snapshot as inserts ([[changes]]'
    * exclusive-from convention).
    */
  def versionFloorAt(spark: SparkSession, dir: String, tsMillis: Long): Int = {
    val vs = versions(spark, dir).sorted
    require(vs.nonEmpty, s"$dir is not TxLog-managed")
    val floor = floorByTime(spark, dir, vs, tsMillis)
    if (floor >= 0) floor
    else {
      // nothing retained at-or-before ts: only a table BORN after ts
      // may replay its initial snapshot as inserts (-1). A PRUNED
      // history (oldest retained > 0) must error — treating the
      // horizon snapshot as "inserts since ts" would hand a CDF
      // consumer every pre-ts row as if it changed inside the window.
      require(vs.head == 0,
        s"no commit of $dir at or before $tsMillis is retained — the " +
          s"log is pruned to v${vs.head} " +
          s"(${commitTimeMillis(spark, dir, vs.head)}); the change " +
          "window predates the retention horizon")
      -1
    }
  }

  /** Largest retained version with commit time ≤ `tsMillis`, or -1.
    * Binary search over the in-commit stamps (monotonic by
    * construction; pre-stamp mtimes on a never-copied log are too) —
    * O(log n) head-reads instead of one per retained version, which
    * matters on exactly the high-churn tables AS OF serves.
    */
  private def floorByTime(
      spark: SparkSession, dir: String, sorted: Seq[Int],
      tsMillis: Long): Int = {
    // the search needs MONOTONIC commit times. In-commit stamps are
    // monotonic by construction; pre-stamp commits fall back to file
    // mtimes, and a copied/rsync'd log resets those to the copy time
    // — LATER than subsequent in-commit stamps, so a mixed range is
    // not sorted and a binary search over it silently answers a wrong
    // floor. Stamping is a cut: once the first stamped commit lands,
    // every later one is stamped — so the oldest retained commit
    // lacking a stamp is the one head-read that tells us pre-stamp
    // history survives. When it does, degrade to the order-insensitive
    // linear scan (largest version with time ≤ ts under ANY mtime
    // shuffling); O(n) head-reads, the pre-optimization cost, and only
    // on logs whose retention still spans the stamp cut.
    if (sorted.nonEmpty && !commitHasStamp(spark, dir, sorted.head)) {
      var ans = -1
      sorted.foreach { v =>
        if (commitTimeMillis(spark, dir, v) <= tsMillis) ans = v
      }
      return ans
    }
    var lo = 0
    var hi = sorted.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (commitTimeMillis(spark, dir, sorted(mid)) <= tsMillis) {
        ans = sorted(mid); lo = mid + 1
      } else hi = mid - 1
    }
    ans
  }

  /** Whether commit `v` carries an in-commit `TS` stamp (head-read,
    * two lines) — the monotonicity witness [[floorByTime]] gates its
    * binary search on.
    */
  private def commitHasStamp(
      spark: SparkSession, dir: String, v: Int): Boolean = {
    val fs = Compact.fsOf(spark, dir)
    val in = fs.open(versionFilePath(dir, v))
    val head =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .take(2).toList
      finally in.close()
    head.exists(_.startsWith("TS "))
  }

  /** Commit `v`'s wall-clock time: the in-commit `TS` stamp when the
    * commit carries one (every commit written since stamping landed),
    * else the commit file's modification time (pre-stamp history —
    * valid only while the log files were never copied or touched).
    * Head-read: the stamp is the second line, so this never parses
    * the entry body of a large commit.
    */
  def commitTimeMillis(spark: SparkSession, dir: String, v: Int): Long = {
    val fs = Compact.fsOf(spark, dir)
    val p = versionFilePath(dir, v)
    val in = fs.open(p)
    val head =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .take(2).toList
      finally in.close()
    head.collectFirst { case l if l.startsWith("TS ") =>
      l.substring(3).toLong
    }.getOrElse(fs.getFileStatus(p).getModificationTime)
  }

  /** Snapshot read by tag name — time travel with a stable name. */
  def snapshotTag(spark: SparkSession, dir: String, name: String): DataFrame = {
    val v = tags(spark, dir).getOrElse(name,
      throw new IllegalArgumentException(
        s"no tag '$name' in $dir (tags: ${tags(spark, dir).keys.mkString(", ")})"))
    snapshot(spark, dir, v)
  }

  // ---- branches ---------------------------------------------------

  private val BranchPrefix = "b."

  /** Per-thread branch scope: inside [[withBranch]], every log
    * accessor for `dir` — versions, live entries, commits, schema
    * pins, checkpoint seeds — resolves against the branch's own
    * version files (`b.<name>.vNNNNNNNN.txt` in the same log dir),
    * folded on top of the main log AT THE BRANCH BASE. Data files
    * stage into the same table directory either way, so a branch
    * commit is bit-identical machinery to a main commit — only the
    * version-file name differs — and every existing writer
    * (append, MERGE, DELETE, deletion vectors, streaming sinks)
    * is branch-capable without change. Driver-side state only: log
    * bookkeeping never runs on executors.
    */
  private val activeBranch =
    new scala.util.DynamicVariable[Map[String, (String, Int)]](Map.empty)

  private def branchOf(dir: String): Option[(String, Int)] =
    activeBranch.value.get(dir)

  private def branchBasePath(dir: String, name: String) =
    new Path(logPath(dir), s"$BranchPrefix$name.base.txt")

  private def requireBranchName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_-]+"),
      s"branch name '$name' must be [A-Za-z0-9_-]+")

  def branchExists(spark: SparkSession, dir: String, name: String): Boolean =
    Compact.fsOf(spark, dir).exists(branchBasePath(dir, name))

  /** Create branch `name` forked at `fromVersion` (default: current).
    * The branch starts as an exact alias of that version; writes to it
    * are invisible to main readers until [[publishBranch]]. Returns
    * the base version. The write-audit-publish pattern: write to the
    * branch, run expectations against [[withBranch]]'s snapshot,
    * publish only if they pass.
    */
  def createBranch(
      spark: SparkSession, dir: String, name: String,
      fromVersion: Int = -1): Int = {
    requireBranchName(name)
    require(branchOf(dir).isEmpty, "createBranch: already inside a branch scope")
    require(!branchExists(spark, dir, name),
      s"branch '$name' already exists in $dir")
    val v = if (fromVersion >= 0) fromVersion else currentVersion(spark, dir)
    require(versions(spark, dir).contains(v),
      s"createBranch: version $v does not exist in $dir")
    val fs = Compact.fsOf(spark, dir)
    val out = fs.create(branchBasePath(dir, name), false)
    try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    v
  }

  /** Existing branches: name → base version. */
  def branches(spark: SparkSession, dir: String): Map[String, Int] = {
    val fs = Compact.fsOf(spark, dir)
    if (!fs.exists(logPath(dir))) return Map.empty
    fs.listStatus(logPath(dir)).toSeq
      .map(_.getPath.getName)
      .filter(_.matches(s"b\\.[A-Za-z0-9_-]+\\.base\\.txt"))
      .map { n =>
        val name = n.substring(BranchPrefix.length, n.length - ".base.txt".length)
        name -> branchBase(spark, dir, name)
      }.toMap
  }

  private def branchBase(spark: SparkSession, dir: String, name: String): Int = {
    val fs = Compact.fsOf(spark, dir)
    val p = branchBasePath(dir, name)
    require(fs.exists(p), s"no branch '$name' in $dir " +
      s"(branches: ${branches(spark, dir).keys.mkString(", ")})")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  /** Branch version numbers (absolute: base+1, base+2, …), from the
    * branch's own files — independent of any active scope, so
    * [[vacuum]] and [[publishBranch]] can enumerate without entering
    * the branch.
    */
  private def branchVersions(
      spark: SparkSession, dir: String, name: String): Seq[Int] = {
    val fs = Compact.fsOf(spark, dir)
    if (!fs.exists(logPath(dir))) return Nil
    val pre = s"$BranchPrefix$name.v"
    fs.listStatus(logPath(dir)).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith(pre) &&
        n.substring(pre.length).matches("\\d{8}\\.txt"))
      .map(n => n.substring(pre.length, n.length - 4).toInt)
      .sorted
  }

  /** Run `body` with every TxLog accessor for `dir` resolving against
    * branch `name` — reads see base-plus-branch-commits, writes land
    * as branch versions. Composable across dirs (a replication between
    * two tables can scope each side independently); re-entry on the
    * SAME dir with a different branch is an error.
    */
  def withBranch[T](spark: SparkSession, dir: String, name: String)(
      body: => T): T = {
    requireBranchName(name)
    branchOf(dir).foreach { case (cur, _) =>
      require(cur == name,
        s"withBranch: already scoped to branch '$cur' of $dir") }
    val base = branchBase(spark, dir, name)
    activeBranch.withValue(activeBranch.value + (dir -> (name, base)))(body)
  }

  /** Drop branch `name`: its version files, schema pins and base
    * marker vanish; data files only it referenced become orphans the
    * next [[vacuum]] sweep reclaims (they were never in the main log).
    */
  def deleteBranch(spark: SparkSession, dir: String, name: String): Unit = {
    val fs = Compact.fsOf(spark, dir)
    if (!fs.exists(logPath(dir))) return
    fs.listStatus(logPath(dir)).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith(s"$BranchPrefix$name."))
      .foreach(fs.delete(_, false))
  }

  /** Fast-forward/merge the branch into main as ONE commit: the
    * branch's net file-level changes versus its base (new files, DV
    * moves, removed files) land atomically, composing with whatever
    * main did meanwhile — concurrent main APPENDS merge cleanly
    * (disjoint file sets); a main commit that rewrote or re-vectored
    * a file the branch also changed is a detected conflict (the
    * publish passes the base entries as its read-set, the same
    * entry-aware validation every writer uses). Publish is
    * metadata-only: no data file moves or rewrites — the branch
    * staged its files into the table directory from the start.
    * Returns the published main version; the branch is deleted
    * afterwards (`keepBranch` to retain it).
    */
  /** What [[publishBranch]] WOULD commit, nothing touched: (entries
    * added, base entries replaced/removed, conflicted names — base
    * entries a concurrent main commit already changed; non-empty
    * means the publish will throw). The pre-publish audit probe;
    * metadata-only, two log folds.
    */
  def publishPreview(
      spark: SparkSession, dir: String,
      name: String): (Int, Int, Seq[String]) = {
    require(branchOf(dir).isEmpty, "publishPreview: run from main scope")
    val base = branchBase(spark, dir, name)
    val branchLive = withBranch(spark, dir, name)(liveEntries(spark, dir))
    val baseLive = liveEntries(spark, dir, base)
    val basePairs = baseLive.map(e => (e.name, e.dv)).toSet
    val branchPairs = branchLive.map(e => (e.name, e.dv)).toSet
    val adds = branchLive.count(e => !basePairs((e.name, e.dv)))
    val changedBase = baseLive.filterNot(e => branchPairs((e.name, e.dv)))
    val live = liveEntries(spark, dir)
    val liveNames = live.map(_.name).toSet
    val liveDv = live.map(e => e.name -> e.dv).toMap
    val conflicted = (changedBase.map(_.name).filterNot(liveNames) ++
      changedBase.filter(s => liveDv.get(s.name).exists(_ != s.dv))
        .map(_.name)).distinct.sorted
    (adds, changedBase.size, conflicted)
  }

  def publishBranch(
      spark: SparkSession, dir: String, name: String,
      keepBranch: Boolean = false): Int = {
    require(branchOf(dir).isEmpty, "publishBranch: run from main scope")
    val base = branchBase(spark, dir, name)
    require(versions(spark, dir).contains(base),
      s"publishBranch: base v$base was vacuumed — branch '$name' is stale")
    val branchLive = withBranch(spark, dir, name)(liveEntries(spark, dir))
    val baseLive = liveEntries(spark, dir, base)
    val basePairs = baseLive.map(e => (e.name, e.dv)).toSet
    val branchPairs = branchLive.map(e => (e.name, e.dv)).toSet
    val adds = branchLive.filterNot(e => basePairs((e.name, e.dv)))
      .sortBy(_.name)
      // branch-landed entries carry BRANCH version numbers, which main
      // reuses for different commits: re-stamp at the publish commit
      // (the version these rows became visible on main)
      .map(e => if (e.addedV.exists(_ > base)) e.copy(addedV = None) else e)
    // base entries the branch CHANGED (removed, rewrote, or
    // re-vectored) — the publish's read-set. Only these conflict with
    // concurrent main commits: a main append, or a main rewrite of a
    // file the branch never touched, merges cleanly.
    val changedBase = baseLive.filterNot(e => branchPairs((e.name, e.dv)))
    val removes = changedBase.map(_.name).sorted
    val v =
      if (adds.isEmpty && removes.isEmpty) currentVersion(spark, dir)
      else commitEntries(spark, dir, adds, removes, seen = changedBase,
        op = Some(s"publish($name)"))
    // schema evolution on the branch moves the pin to main at the
    // published version (old main snapshots keep their width)
    val branchPin = withBranch(spark, dir, name)(tableSchema(spark, dir))
    if (branchPin.isDefined && branchPin != tableSchema(spark, dir, base))
      setTableSchema(spark, dir, branchPin.get, v)
    if (!keepBranch) deleteBranch(spark, dir, name)
    v
  }

  private val PartitionColsName = "partition_cols.txt"

  /** Declare the table's hive partition columns — what `CREATE TABLE
    * … PARTITIONED BY` pins before any file exists. [[append]] /
    * [[overwriteAll]] lay batches out by these even on an EMPTY table
    * (the file-derived fallback can't see a layout with no files yet).
    */
  def setPartitionColumns(
      spark: SparkSession, dir: String, cols: Seq[String]): Unit = {
    val fs = Compact.fsOf(spark, dir)
    require(fs.exists(logPath(dir)), s"$dir is not TxLog-managed")
    val out = fs.create(new Path(logPath(dir), PartitionColsName), true)
    try out.write(cols.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def partitionColumns(spark: SparkSession, dir: String): Seq[String] = {
    val fs = Compact.fsOf(spark, dir)
    val p = new Path(logPath(dir), PartitionColsName)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    body.filter(_.nonEmpty)
  }

  private val ConstraintsName = "constraints.txt"

  /** Declare CHECK constraints (SQL boolean expressions, one per
    * line) every write path must uphold — the Delta CHECK-constraint
    * surface: [[UpsertWhere]] merges, [[UpsertWhere.applyChanges]]
    * feeds and [[graft.streaming.TxLogIngest]] epochs validate their
    * STAGED rows (delta-sized — never a table scan) before anything
    * commits; a violating batch raises [[ConstraintViolation]] and
    * the table is untouched. Deletes and compactions write subsets of
    * already-validated rows and skip the check. NULL follows SQL
    * CHECK semantics: a row violates only when the expression is
    * FALSE (unknown passes). Overwrite with Nil to drop enforcement.
    */
  def setCheckConstraints(
      spark: SparkSession, dir: String, exprs: Seq[String]): Unit = {
    val fs = Compact.fsOf(spark, dir)
    require(fs.exists(logPath(dir)), s"$dir is not TxLog-managed")
    val out = fs.create(new Path(logPath(dir), ConstraintsName), true)
    try out.write(exprs.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def checkConstraints(spark: SparkSession, dir: String): Seq[String] =
    namedCheckConstraints(spark, dir).map(_._2)

  /** Constraints with their optional user names (`name<TAB>condition`
    * lines; legacy bare-condition lines parse as unnamed) — the form
    * SQL `ALTER TABLE … ADD/DROP CONSTRAINT` needs.
    */
  def namedCheckConstraints(
      spark: SparkSession, dir: String): Seq[(Option[String], String)] = {
    val fs = Compact.fsOf(spark, dir)
    val p = new Path(logPath(dir), ConstraintsName)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    body.filter(_.nonEmpty).map { l =>
      l.split('\t') match {
        case Array(n, c) => (Some(n), c)
        case _ => (None, l)
      }
    }
  }

  private def writeNamedConstraints(
      spark: SparkSession, dir: String,
      cs: Seq[(Option[String], String)]): Unit =
    setCheckConstraints(spark, dir, cs.map {
      case (Some(n), c) => s"$n\t$c"
      case (None, c) => c
    })

  /** `ALTER TABLE … ADD CONSTRAINT name CHECK (condition)`: validate
    * every EXISTING row first (one probe scan over the snapshot — a
    * constraint the data already violates must not land, the Delta
    * contract), then append to the enforcement set every write path
    * already checks on its staged delta.
    */
  def addCheckConstraint(
      spark: SparkSession, dir: String, name: String,
      condition: String): Unit = {
    val existing = namedCheckConstraints(spark, dir)
    require(!existing.exists(_._1.contains(name)),
      s"constraint $name already exists on $dir")
    if (liveFiles(spark, dir).nonEmpty) {
      import org.apache.spark.sql.functions.{expr, not}
      val bad = snapshot(spark, dir).filter(not(expr(condition)))
        .limit(1).count()
      if (bad > 0)
        throw new ConstraintViolation(
          s"cannot add CHECK constraint $name ($condition) to $dir: " +
            "existing rows violate it")
    }
    writeNamedConstraints(spark, dir, existing :+ (Some(name), condition))
  }

  /** `ALTER TABLE … DROP CONSTRAINT name` — by user name; unnamed
    * (API-set) constraints are managed with [[setCheckConstraints]].
    */
  def dropCheckConstraint(
      spark: SparkSession, dir: String, name: String,
      ifExists: Boolean = false): Unit = {
    val existing = namedCheckConstraints(spark, dir)
    if (!existing.exists(_._1.contains(name))) {
      if (ifExists) return
      throw new IllegalArgumentException(
        s"DROP CONSTRAINT: no constraint named $name on $dir")
    }
    writeNamedConstraints(spark, dir,
      existing.filterNot(_._1.contains(name)))
  }

  final class ConstraintViolation(msg: String)
      extends IllegalArgumentException(msg)

  /** A replica that can no longer follow its source incrementally
    * (rename cycle, drop + re-add inside one window, misaligned
    * post-cliff resync) — typed so [[replicateByRowId]]'s
    * `autoRecreate` heal dispatches on the CLASS, never on message
    * wording (the heal deletes the replica). Extends
    * IllegalArgumentException so manual callers' handling is
    * unchanged.
    */
  final class ReplicaDiverged(msg: String)
      extends IllegalArgumentException(msg)

  /** Enforce the table's constraints on `staged` (the rows a write is
    * about to land). One `filter(NOT expr)` probe per constraint over
    * the delta only.
    */
  private[graft] def enforceConstraints(
      spark: SparkSession, dir: String, staged: DataFrame): Unit = {
    if (!exists(spark, dir)) return
    import org.apache.spark.sql.functions.{expr, not}
    checkConstraints(spark, dir).foreach { c =>
      val bad = staged.filter(not(expr(c))).limit(1).count()
      if (bad > 0)
        throw new ConstraintViolation(
          s"write to $dir violates CHECK constraint ($c); nothing committed")
    }
  }

  /** Alias a logically-named frame to the table's PHYSICAL column
    * names just before a staged write ([[ColumnMapping]]): under
    * column mapping data files spell physical names; everywhere else
    * this is the identity. Every write seam (append, overwrite, CoW
    * rewrite, MOR stage, streaming sink, clone localize) routes its
    * frame through here so renamed tables keep one on-disk spelling.
    * `pinOverride` carries an EVOLVED pin (schema-evolution upsert /
    * RTAS) that the log hasn't committed yet.
    */
  private[graft] def stagePhysical(
      spark: SparkSession,
      dir: String,
      df: DataFrame,
      pinOverride: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    pinOverride.orElse(tableSchema(spark, dir)) match {
      case Some(pin) if ColumnMapping.isMapped(pin) =>
        ColumnMapping.toPhysical(df, pin)
      case _ => df
    }

  /** Bring a directory under log management: v0 ADDs every currently
    * visible data file (none for a brand-new table — the streaming
    * append case). Finishes any in-flight marker-mode rewrite first,
    * so the converted state is consistent. Returns the initial version
    * (0). No-op (returning the current version) if already managed.
    */
  def convert(spark: SparkSession, dir: String): Int = {
    if (exists(spark, dir)) return currentVersion(spark, dir)
    val fs = Compact.fsOf(spark, dir)
    val files =
      if (!fs.exists(new Path(dir))) { fs.mkdirs(new Path(dir)); Nil }
      else {
        Compact.recover(spark, dir)
        // recursive: a hive-partitioned layout converts with its
        // partition prefixes as part of each entry's relative name
        Compact.dataFilesRecursive(fs, dir)
      }
    fs.mkdirs(logPath(dir))
    writeVersion(spark, dir, 0, files.map(AddEntry(_)), Nil,
      op = Some("convert"))
    // a convert that finds files creates the table: pin its schema
    pinAfterCommit(spark, dir, 0, files.map(AddEntry(_)), Map.empty)
    0
  }

  /** Committed versions, ascending. Inside [[withBranch]]: the main
    * versions up to the branch base, then the branch's own commits —
    * one contiguous history, so every fold/time-travel/diff consumer
    * works on a branch unchanged.
    */
  private def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val fs = Compact.fsOf(spark, dir)
    if (!fs.exists(logPath(dir))) return Nil
    val main = fs.listStatus(logPath(dir)).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("v\\d{8}\\.txt"))
      .map(n => n.substring(1, n.length - 4).toInt)
      .sorted
    branchOf(dir) match {
      case Some((name, base)) =>
        main.filter(_ <= base) ++ branchVersions(spark, dir, name)
      case None => main
    }
  }

  /** The file holding version `v`'s commit — the ONE seam branch
    * redirection needs: inside [[withBranch]], versions past the
    * branch base live in `b.<name>.vNNNNNNNN.txt`; everything else
    * (and everything in main scope) in `vNNNNNNNN.txt`. Every
    * reader/writer of commit files resolves through here, so append,
    * MERGE, deletion vectors, restore and diff are branch-capable
    * with no further changes.
    */
  private def versionFilePath(dir: String, v: Int): Path =
    branchOf(dir) match {
      case Some((name, base)) if v > base =>
        new Path(logPath(dir), f"$BranchPrefix$name.v$v%08d.txt")
      case _ => new Path(logPath(dir), versionName(v))
    }

  def currentVersion(spark: SparkSession, dir: String): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"$dir is not TxLog-managed")
    vs.max
  }

  /** Live data-file NAMES at `version` (default: current): fold of
    * ADD/REMOVE up to and including it, seeded from the newest
    * checkpoint at or before it — so planning cost is O(versions since
    * the last checkpoint), not O(table history).
    */
  def liveFiles(
      spark: SparkSession,
      dir: String,
      version: Int = Int.MaxValue): Seq[String] =
    liveEntries(spark, dir, version).map(_.name)

  /** Append `df` to a log-managed table as ONE commit: staged write,
    * entries added, nothing rewritten. Respects the table's layout —
    * a hive-partitioned table's batch lands as a partition tree
    * (root-level files would dodge partition pruning) — and
    * validates CHECK constraints against the staged rows. The
    * routing `INSERT INTO parquet.`dir`` takes ([[graft.plans
    * .GraftDml]]): a plain SQL insert would write files the log
    * never references — invisible to every snapshot reader and
    * reclaimed by the orphan sweep.
    */
  def append(spark: SparkSession, dir: String, df0: DataFrame): Int = {
    require(exists(spark, dir), s"$dir is not TxLog-managed")
    // auto columns fill here: identity, then DEFAULTs, then generated
    // columns (a generation expression may reference the others);
    // constraints then see the computed values
    val df = GeneratedColumns.fill(spark, dir,
      DefaultColumns.fill(spark, dir,
        IdentityColumns.maybeAssign(spark, dir, df0)))
    enforceConstraints(spark, dir, df)
    val declared = partitionColumns(spark, dir)
    val pcols = if (declared.nonEmpty) declared
      else graft.ops.DeleteWhere.partitionColsOf(liveFiles(spark, dir))
    val phys = stagePhysical(spark, dir, df)
    // the batch's own schema pins a table this append creates, and
    // widens the pin when the batch brings new columns
    if (pcols.nonEmpty)
      Compact.stageRewriteHive(spark, dir, olds = Nil, writeStage = p =>
        phys.write.partitionBy(pcols: _*).mode("overwrite").parquet(p),
        op = Some("insert"), frameSchema = Some(df.schema))
    else
      Compact.stageRewrite(spark, dir, olds = Nil, writeStage = p =>
        phys.write.mode("overwrite").parquet(p), op = Some("insert"),
        frameSchema = Some(df.schema))
    currentVersion(spark, dir)
  }

  /** Replace the table's contents with `df` in ONE commit
    * (INSERT OVERWRITE): olds drop by not being re-added — never
    * read, so DV-carrying olds retire with their vectors.
    */
  def overwriteAll(spark: SparkSession, dir: String, df0: DataFrame): Int = {
    require(exists(spark, dir), s"$dir is not TxLog-managed")
    val df = GeneratedColumns.fill(spark, dir,
      DefaultColumns.fill(spark, dir,
        IdentityColumns.maybeAssign(spark, dir, df0)))
    enforceConstraints(spark, dir, df)
    val olds = liveFiles(spark, dir)
    val declared = partitionColumns(spark, dir)
    val pcols = if (declared.nonEmpty) declared
      else graft.ops.DeleteWhere.partitionColsOf(olds)
    val phys = stagePhysical(spark, dir, df)
    if (pcols.nonEmpty)
      Compact.stageRewriteHive(spark, dir, olds = olds, writeStage = p =>
        phys.write.partitionBy(pcols: _*).mode("overwrite").parquet(p),
        allowDvOlds = true, op = Some("insert-overwrite"))
    else
      Compact.stageRewrite(spark, dir, olds = olds, writeStage = p =>
        phys.write.mode("overwrite").parquet(p),
        allowDvOlds = true, op = Some("insert-overwrite"))
    currentVersion(spark, dir)
  }

  /** The live ADD entries (names + any carried stats) at `version` —
    * what [[snapshotPruned]] plans from. Same fold as [[liveFiles]].
    */
  def liveEntries(
      spark: SparkSession,
      dir: String,
      version: Int = Int.MaxValue): Seq[AddEntry] = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"$dir is not TxLog-managed")
    require(version == Int.MaxValue || vs.contains(version),
      s"version $version not in log (have ${vs.min}..${vs.max} minus vacuumed)")
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddEntry]
    val cp = checkpoints(spark, dir).filter(_ <= version).lastOption
    cp.foreach(c => readCheckpoint(spark, dir, c)._1
      .foreach(e => live(e.name) = e))
    vs.filter(v => v <= version && cp.forall(v > _)).foreach { v =>
      val (adds, removes, _) = readVersionEntries(spark, dir, v)
      removes.foreach(live -= _)
      adds.foreach(e => live(e.name) = e)
    }
    live.values.toSeq
  }

  private def checkpoints(spark: SparkSession, dir: String): Seq[Int] = {
    val fs = Compact.fsOf(spark, dir)
    if (!fs.exists(logPath(dir))) return Nil
    val main = fs.listStatus(logPath(dir)).toSeq
      .map(_.getPath.getName)
      // strict: config files (constraints.txt, stats_cols.txt) share
      // the log dir and must never parse as checkpoint numbers
      .filter(_.matches("c\\d{8}\\.txt"))
      .map(n => n.substring(1, n.length - 4).toInt)
      .sorted
    // a main checkpoint written AFTER the fork summarizes main
    // commits the branch never saw — a branch fold must not seed
    // from it (branches themselves are short-lived and uncheckpointed)
    branchOf(dir) match {
      case Some((_, base)) => main.filter(_ <= base)
      case None            => main
    }
  }

  /** Materialize the current live set as a checkpoint, bounding every
    * later snapshot's planning to the versions after it. The
    * checkpoint also carries the CUMULATIVE transaction-id set, so
    * exactly-once probes survive [[vacuum]]'s log pruning. Idempotent;
    * run every N commits (a maintenance call, like vacuum).
    */
  def checkpoint(spark: SparkSession, dir: String): Int = {
    require(branchOf(dir).isEmpty,
      "checkpoint: run from main scope (branches are short-lived and " +
        "fold from the base's checkpoints)")
    val v = currentVersion(spark, dir)
    writeCheckpointAt(spark, dir, v)
    v
  }

  private def writeCheckpointAt(
      spark: SparkSession,
      dir: String,
      v: Int): Unit = {
    val fs = Compact.fsOf(spark, dir)
    val dest = new Path(logPath(dir), checkpointName(v))
    if (fs.exists(dest)) return
    val prev = checkpoints(spark, dir).filter(_ < v).lastOption
    val prevTxns = prev.toSeq.flatMap(c => readCheckpoint(spark, dir, c)._2)
    val newTxns = versions(spark, dir)
      .filter(x => x <= v && prev.forall(x > _))
      .flatMap(x => readVersion(spark, dir, x)._3)
    val body = (Seq("V1") ++
      (prevTxns ++ newTxns).distinct.sorted.map("TXN " + _) ++
      liveEntries(spark, dir, v).sortBy(_.name)
        .map("FILE " + _.serialized) ++
      Seq("END")).mkString("\n")
    val tmp = new Path(logPath(dir), s".${checkpointName(v)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
  }

  private def readCheckpoint(
      spark: SparkSession,
      dir: String,
      v: Int): (Seq[AddEntry], Seq[String]) = {
    val fs = Compact.fsOf(spark, dir)
    val in = fs.open(new Path(logPath(dir), checkpointName(v)))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    require(lines.headOption == Some("V1") && lines.lastOption == Some("END"),
      s"torn txlog checkpoint $v in $dir")
    (lines.collect { case l if l.startsWith("FILE ") =>
      parseEntry(l.substring(5)) },
      lines.collect { case l if l.startsWith("TXN ") => l.substring(4) })
  }

  /** Has a commit carrying transaction id `txn` already landed? The
    * exactly-once probe for replayed streaming epochs ([[graft
    * .streaming.TxLogIngest]]). Consults the newest checkpoint's
    * cumulative set plus every version after it, so log pruning never
    * forgets a committed epoch.
    */
  def txnCommitted(spark: SparkSession, dir: String, txn: String): Boolean = {
    val cp = checkpoints(spark, dir).lastOption
    cp.exists(c => readCheckpoint(spark, dir, c)._2.contains(txn)) ||
      versions(spark, dir).filter(v => cp.forall(v > _)).exists { v =>
        readVersion(spark, dir, v)._3.contains(txn)
      }
  }

  /** Snapshot read: exactly the files version `version` (default
    * current) references — immune to concurrent commits and to the
    * superseded files still on disk. The schema is the log's pin in
    * effect at the version: files lacking a pinned column read NULL,
    * so an appended stream whose batches widen the pin reads every
    * version at its own width.
    */
  def snapshot(
      spark: SparkSession,
      dir: String,
      version: Int = Int.MaxValue,
      schemaVersion: Int = -1): DataFrame = {
    // data at `version`, names/width at `schemaVersion` when a caller
    // needs a historical cut under a LATER pin (the streaming source's
    // rate-limited replay across a mid-history evolution)
    val schemaV = if (schemaVersion >= 0) schemaVersion else version
    val entries = liveEntries(spark, dir, version)
    if (entries.isEmpty) {
      // a created-empty or truncated table still READS — as the empty
      // relation with its pinned schema (CREATE TABLE pins one; a
      // bare convert of an empty dir has nothing to describe rows by)
      val pin = tableSchema(spark, dir, schemaV)
      require(pin.isDefined,
        s"version $version of $dir holds no files and no pinned schema")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pin.get)
    }
    readEntries(spark, dir, entries, schemaVersion = schemaV)
  }

  private def schemaFileName(v: Int) = f"s$v%08d.json"

  /** Pin the TABLE SCHEMA in the log from `version` onward — Delta's
    * metadata-action move: once pinned, every snapshot read supplies
    * this schema to the scan instead of letting a sampled footer
    * decide, so a table whose files were written under DIFFERENT
    * schemas (evolution through [[DeletionVectors.upsert]]'s
    * `evolveSchema`, or any out-of-band column add) reads
    * deterministically — files lacking a column yield NULL, no
    * planning-time footer race, no per-file mergeSchema cost. Schema
    * files are VERSIONED (`sNNNNNNNN.json`): a time-travel read at v
    * uses the newest schema pinned at or before v, so pre-evolution
    * snapshots keep their own width. Hive tables include their
    * partition columns in the pinned schema.
    */
  def setTableSchema(
      spark: SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType,
      version: Int = -1): Unit = {
    val fs = Compact.fsOf(spark, dir)
    require(fs.exists(logPath(dir)), s"$dir is not TxLog-managed")
    val v = if (version >= 0) version else currentVersion(spark, dir)
    // a pin at a branch version is the BRANCH's schema evolution —
    // invisible to main until publishBranch moves it over
    val dest = branchOf(dir) match {
      case Some((name, base)) if v > base =>
        new Path(logPath(dir), s"$BranchPrefix$name.${schemaFileName(v)}")
      case _ => new Path(logPath(dir), schemaFileName(v))
    }
    val out = fs.create(dest, true)
    try out.write(schema.json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Remove the schema pin at exactly `version` (no-op when absent) —
    * the cleanup half of write-pin-THEN-commit: a writer that pins
    * its evolution at the version it is about to land can retract the
    * pin when the commit fails, instead of leaving a pre-widened
    * schema on a version it never created.
    */
  /** Retract the pin at `version` — with `expected`, ONLY if the slot
    * still holds that exact schema: a failure-path retraction (COPY
    * INTO's evolve rollback) must not delete a pin a concurrent DDL
    * landed in the same slot after this writer's commit lost.
    */
  private[graft] def unsetTableSchema(
      spark: SparkSession, dir: String, version: Int,
      expected: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val fs = Compact.fsOf(spark, dir)
    val dest = branchOf(dir) match {
      case Some((name, base)) if version > base =>
        new Path(logPath(dir), s"$BranchPrefix$name.${schemaFileName(version)}")
      case _ => new Path(logPath(dir), schemaFileName(version))
    }
    val mine = expected.forall { sc =>
      try {
        val in = fs.open(dest)
        val body =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        body == sc.json
      } catch { case _: java.io.IOException => false }
    }
    if (mine) fs.delete(dest, false)
  }

  /** The pinned schema in effect at `version` (newest pin ≤ version);
    * None before the table held data (the commit that creates a table
    * pins it — [[pinAfterCommit]]), or for a log written before that
    * rule (footers decide).
    */
  def tableSchema(
      spark: SparkSession,
      dir: String,
      version: Int = Int.MaxValue):
      Option[org.apache.spark.sql.types.StructType] = {
    val fs = Compact.fsOf(spark, dir)
    if (!fs.exists(logPath(dir))) return None
    val names = fs.listStatus(logPath(dir)).toSeq.map(_.getPath.getName)
    // in a branch scope: main pins up to the base, plus the branch's
    // own pins — a main pin written after the fork must not leak in
    val candidates: Seq[(Int, String)] = branchOf(dir) match {
      case Some((name, base)) =>
        val pre = s"$BranchPrefix$name.s"
        names.filter(_.matches("s\\d{8}\\.json"))
          .map(n => n.substring(1, 9).toInt -> n)
          .filter(_._1 <= math.min(version, base)) ++
          names.filter(n => n.startsWith(pre) &&
            n.substring(pre.length).matches("\\d{8}\\.json"))
            .map(n => n.substring(pre.length, pre.length + 8).toInt -> n)
            .filter(_._1 <= version)
      case None =>
        names.filter(_.matches("s\\d{8}\\.json"))
          .map(n => n.substring(1, 9).toInt -> n)
          .filter(_._1 <= version)
    }
    if (candidates.isEmpty) return None
    val in = fs.open(new Path(logPath(dir), candidates.maxBy(_._1)._2))
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    Some(org.apache.spark.sql.types.DataType.fromJson(body)
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  private[ops] val DvDirName = "_dv"
  private[ops] def dvFilePath(dir: String, name: String) =
    s"$dir/$DvDirName/$name"

  /** Change-data sidecars (`_cdc/`): the full content of the rows a
    * merge-on-read delete hid, written by the DELETING commit and
    * referenced by its `CDC` log lines — so a change feed serves the
    * removed side from churn-sized sidecar bytes instead of
    * re-scanning the base files (Delta's `_change_data` economics).
    * Columns: the table's PHYSICAL data columns (rename-stable, like
    * data files) + `__graft_file`/`__graft_pos` (the hidden position,
    * the feed's join key) + `__graft_rid` (the row's stable id when
    * the table was row-tracked at delete time; NULL otherwise).
    */
  private[ops] val CdcDirName = "_cdc"
  private[ops] def cdcFilePath(dir: String, name: String) =
    s"$dir/$CdcDirName/$name"

  private[ops] def qualifyAbs(spark: SparkSession, p: String): String = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(path).toString
  }

  /** Size bound for driver-known MAP LITERALS standing in for
    * broadcast joins. Every broadcast exchange submits its own Spark
    * build job per action, and a keyed advance evaluates several
    * actions over plans carrying 2-3 such attach/filter joins — pure
    * fixed job count (guide §1.2). A map literal evaluates inline
    * (zero jobs); past this bound the literal (shipped per task with
    * the plan) would outgrow a broadcast, so callers fall back to the
    * join. Churn-sized candidate sets sit far below it; only
    * table-wide snapshot reads cross it.
    */
  private[ops] val MapLitMax = 4096

  /** The deletion-vector sidecar's schema, fixed by its ONE writer
    * ([[DeletionVectors]] lands `(file string, pos long)` — casts
    * enforced at the write). Pinning it at every sidecar read removes
    * the plan-time footer-inference job a FRESH sidecar set pays per
    * advance (the schema memo can never hit: each commit lands new
    * uuid-named sidecars).
    */
  private[ops] val DvSidecarSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType)))

  /** Footer-schema memo for explicit-path reads of directories with NO
    * log — a log-managed table resolves its schema from the pin it
    * wrote when it was created, never from a footer. Every
    * `spark.read.parquet(paths…)` without a user schema runs a footer-
    * sampling Spark JOB at plan time; memoized, the job runs once per
    * file. Non-merge inference reads ONE footer (Spark's fast path
    * converts a single data file's schema), so the memo keys on the
    * set's MIN path, plus that file's length and modification time: a
    * file rewritten in place under the same name re-infers instead of
    * serving the old schema. Hive-partitioned sets (any `=` past the
    * base) read the full set unmemoized — partition-column TYPES are
    * inferred across ALL directory values, which one file cannot
    * reproduce. Schemas only (bytes-tiny), bounded LRU. NOT result
    * caching: every read still scans the files; only plan-time schema
    * discovery is reused.
    */
  private val inferredSchemas =
    new java.util.LinkedHashMap[String, org.apache.spark.sql.types.StructType](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, org.apache.spark.sql.types.StructType])
          : Boolean = size > 512
    }
  private[ops] def inferSchemaCached(
      spark: SparkSession,
      paths: Seq[String],
      basePath: Option[String] = None): org.apache.spark.sql.types.StructType = {
    val reader = basePath.fold(spark.read)(b => spark.read.option("basePath", b))
    val flat = !paths.exists(p =>
      basePath.fold(p)(b => p.stripPrefix(b)).contains("="))
    if (!flat || paths.isEmpty) return reader.parquet(paths: _*).schema
    val minPath = paths.min
    val st = Compact.fsOf(spark, minPath).getFileStatus(new Path(minPath))
    val key = basePath.getOrElse("") + "\n" + minPath + "\n" + st.getLen +
      "\n" + st.getModificationTime
    inferredSchemas.synchronized {
      val got = inferredSchemas.get(key)
      if (got != null) return got
    }
    val sc = reader.parquet(minPath).schema
    inferredSchemas.synchronized { inferredSchemas.put(key, sc) }
    sc
  }

  /** Read exactly `entries`, applying each entry's deletion vector —
    * the one reader [[snapshot]], [[snapshotPruned]] and [[diff]]
    * share, so every path agrees on what a DV-carrying file's rows
    * are. Files WITHOUT a DV take the plain-scan fast path (no
    * metadata columns, no join — identical plan to the pre-DV
    * snapshot); files WITH one read their `_metadata.file_path` /
    * `row_index` and anti-join the (file, pos) pairs their OWN
    * sidecar holds for them (a sidecar is immutable and may serve
    * many files; an entry is bound to one sidecar, so the
    * association join carries the sidecar's qualified path). The
    * deleted-positions side is broadcast when the referenced
    * sidecars are under 128 MB on disk — the overwhelmingly common
    * case; a larger DV load degrades to a shuffled anti-join rather
    * than failing.
    *
    * `withPos` keeps `__graft_file` (root-relative name) and
    * `__graft_pos` (physical row index) on the output — what
    * [[DeletionVectors]] needs to turn a predicate into positions.
    * The `__graft_` column prefix is reserved: data columns must not
    * use it.
    *
    * 100 TB shape: the anti-join is position-equi on broadcast
    * metadata-sized state — no shuffle of the data side, and only
    * DV-carrying files pay the metadata-column read at all.
    */
  private[ops] def readEntries(
      spark: SparkSession,
      dir: String,
      entries: Seq[AddEntry],
      withPos: Boolean = false,
      schemaVersion: Int = Int.MaxValue,
      pinOverride: Option[org.apache.spark.sql.types.StructType] = None,
      atPositions: Option[DataFrame] = None)
      : DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    require(entries.nonEmpty, s"readEntries: empty entry set for $dir")
    // pinOverride carries a PER-TABLE pin (DbLog) past the dir-wide
    // lookup. Resolved ONCE: the scan below reads the pin's PHYSICAL
    // names (what the files spell under column mapping — identical to
    // the logical names when unmapped), and the return aliases back.
    // Every table that holds data pinned its schema when it was
    // created ([[pinAfterCommit]]); only a log written before that
    // rule leaves the footers to decide.
    val pin = pinOverride.orElse(tableSchema(spark, dir, schemaVersion))
    // basePath keeps hive-partition columns alive when reading an
    // explicit file list out of a partitioned layout; no-op when flat.
    // The log says what the table is: files lacking a column read NULL
    def rdPaths(root: String, paths: Seq[String]): DataFrame = {
      val r = spark.read.option("basePath", root)
      pin.fold(r)(sc => r.schema(ColumnMapping.physicalSchema(sc)))
        .parquet(paths: _*)
    }
    def readGroup(root: String, ge: Seq[AddEntry]): DataFrame = {
      def metaRead(es: Seq[AddEntry]): DataFrame = {
        // path → name is a pure attach over a driver-known map: a map
        // LITERAL evaluates it inline, where the former broadcast join
        // paid one broadcast-build Spark job per action over this plan
        if (es.sizeIs <= MapLitMax) {
          import org.apache.spark.sql.functions.{element_at, typedLit}
          val m = typedLit(es.map(e =>
            qualifyAbs(spark, dataPathOf(dir, e)) -> e.name).toMap)
          return rdPaths(root, es.map(e => dataPathOf(dir, e)))
            .withColumn("__graft_pos", col("_metadata.row_index"))
            .withColumn("__graft_file",
              element_at(m, col("_metadata.file_path")))
        }
        val mapping = es
          .map(e => (qualifyAbs(spark, dataPathOf(dir, e)), e.name))
          .toDF("__graft_abs", "__graft_file")
        rdPaths(root, es.map(e => dataPathOf(dir, e)))
          .withColumn("__graft_abs", col("_metadata.file_path"))
          .withColumn("__graft_pos", col("_metadata.row_index"))
          .join(broadcast(mapping), Seq("__graft_abs"))
          .drop("__graft_abs")
      }
      // RAW positional read: the caller names the exact physical row
      // positions it wants (a DV-delta consumer — [[diffOfEntries]]'s
      // grown-vector path), so sidecars are NOT applied: the position
      // set already encodes the delta the caller is after
      if (atPositions.isDefined) {
        val j = metaRead(ge).join(broadcast(atPositions.get),
          Seq("__graft_file", "__graft_pos"))
        return if (withPos) j else j.drop("__graft_file", "__graft_pos")
      }
      val dvd = ge.filter(_.dv.isDefined)
      if (dvd.isEmpty && !withPos)
        return rdPaths(root, ge.map(e => dataPathOf(dir, e)))
      val plain = ge.filter(_.dv.isEmpty)
      val dvdDf =
        if (dvd.isEmpty) None
        else {
          val fs = Compact.fsOf(spark, dir)
          // per-entry resolution: a cloned entry's sidecar lives
          // under the SOURCE's `_dv/` (dvBase), one attached since
          // under the table's own — both can appear in one snapshot
          val dvPaths = dvd.map(e => dvPathOf(dir, e)).distinct
          val dvAbs = dvPaths.map(p => p -> qualifyAbs(spark, p)).toMap
          val dvBytes = dvPaths
            .map(p => fs.getFileStatus(new Path(p)).getLen).sum
          val dvRows = spark.read
            .schema(DvSidecarSchema)
            .parquet(dvPaths: _*)
            .select(col("_metadata.file_path").as("__graft_dv_src"),
              col("file").as("__graft_file"), col("pos").as("__graft_pos"))
          // sidecar rows name files data-root-relative — identical to
          // the entry NAME whether the vector is local or inherited
          // (a clone keeps the source's names). A sidecar may carry
          // OTHER files' positions, so this is a FILTER on the
          // driver-known (sidecar → its entries' names) multimap —
          // inline past a map literal, a broadcast join beyond it
          val deletes =
            if (dvd.sizeIs <= MapLitMax) {
              import org.apache.spark.sql.functions.{array_contains, element_at, typedLit}
              val m = typedLit(dvd.groupBy(e => dvAbs(dvPathOf(dir, e)))
                .map { case (src, es) => src -> es.map(_.name) })
              dvRows.filter(array_contains(
                  element_at(m, col("__graft_dv_src")), col("__graft_file")))
                .drop("__graft_dv_src")
            } else {
              val assoc = dvd.map(e => (dvAbs(dvPathOf(dir, e)), e.name))
                .toDF("__graft_dv_src", "__graft_file")
              dvRows
                .join(broadcast(assoc), Seq("__graft_dv_src", "__graft_file"))
                .drop("__graft_dv_src")
            }
          val d = if (dvBytes <= 128L * 1024 * 1024) broadcast(deletes)
                  else deletes
          Some(metaRead(dvd)
            .join(d, Seq("__graft_file", "__graft_pos"), "left_anti"))
        }
      val plainDf =
        if (plain.isEmpty) None
        else if (withPos) Some(metaRead(plain))
        else Some(rdPaths(root, plain.map(e => dataPathOf(dir, e))))
      (plainDf, dvdDf) match {
        case (Some(p), Some(d)) =>
          // align: the plain fast path has no positional columns
          val dd = if (withPos) d else d.drop("__graft_file", "__graft_pos")
          p.unionByName(dd)
        case (Some(p), None) => p
        case (None, Some(d)) =>
          if (withPos) d else d.drop("__graft_file", "__graft_pos")
        case (None, None) =>
          throw new IllegalStateException("readEntries: no entries")
      }
    }
    // ONE SCAN GROUP PER DATA ROOT: Spark's single-basePath rule
    // forbids mixing a shallow clone's local files and its source's
    // files in one partition-discovering read — group, scan, union.
    // Almost always exactly one group; a clone converges back to one
    // as rewrites localize its entries.
    val out = entries.groupBy(e => dataRootOf(dir, e)).toSeq.sortBy(_._1)
      .map { case (root, ge) => readGroup(root, ge) }
      .reduce(_ unionByName _)
    // physical → logical aliasing (pure projection; identity when the
    // pin is unmapped). __graft_file/__graft_pos pass through.
    pin.map(ColumnMapping.toLogical(out, _)).getOrElse(out)
  }

  /** The candidate file names a range query on `column` must read at
    * `version`, decided from the LOG ALONE — the ADD-carried
    * [[ColStats]], no sidecar manifest, no footer reads at plan time.
    * An entry without stats for `column` (pre-declaration files,
    * non-data adds) is always a candidate; unknown never prunes.
    */
  def candidateFilesFromLog(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double,
      version: Int = Int.MaxValue): Seq[String] = {
    // stats are keyed PHYSICAL (rename-stable); the caller's column is
    // logical — translate through the version's pin (identity unmapped)
    val pc = tableSchema(spark, dir, version)
      .map(ColumnMapping.physicalOf(_, column)).getOrElse(column)
    liveEntries(spark, dir, version).collect {
      case e if e.stats.find(_.column == pc)
        .forall(s => s.max >= lo && s.min <= hi) => e.name
    }
  }

  /** Selective snapshot read: only the files whose log-carried stats
    * admit `column` ∈ [lo, hi] are opened, and the residual predicate
    * finishes the job — result identical to
    * `snapshot(...).filter(column between lo and hi)`. ONE metadata
    * read (the log tail) does both snapshot isolation AND pruning —
    * the reason Delta/Iceberg embed stats in the commit, reproduced
    * here. Requires [[setStatsColumns]] to have been set before the
    * data landed (or a compaction to have refreshed old files).
    */
  def snapshotPruned(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double,
      version: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.col
    val all = liveEntries(spark, dir, version)
    require(all.nonEmpty, s"version $version of $dir holds no files")
    val cand = candidateFilesFromLog(spark, dir, column, lo, hi, version).toSet
    val candEntries = all.filter(e => cand(e.name))
    val src =
      if (candEntries.isEmpty)
        readEntries(spark, dir, all, schemaVersion = version).limit(0)
      else readEntries(spark, dir, candEntries, schemaVersion = version)
    src.filter(col(column) >= lo && col(column) <= hi)
  }

  /** Files at `version` whose lexicographic [min, max] on STRING
    * `column` can intersect [lo, hi] — decided in unsigned UTF-8 byte
    * order (parquet's binary-stats order, which is also Spark's
    * string order), from footer METADATA PAGES only, distributed with
    * the session conf shipped ([[ZoneMap.stringStatsRows]]). The log
    * carries no string stats (entry stats are numeric), so the footer
    * manifest is the file-level authority; a file whose stats were
    * omitted never prunes. Column mapping: the probe speaks logical,
    * footers spell physical. Returns RELATIVE names — the plan
    * receipt file-skipping tests assert on.
    */
  def candidateFilesStringRange(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: String,
      hi: String,
      version: Int = Int.MaxValue): Seq[String] = {
    val all = liveEntries(spark, dir, version)
    if (all.isEmpty) return Nil
    val phys = tableSchema(spark, dir, version)
      .map(ColumnMapping.physicalOf(_, column)).getOrElse(column)
    val stats = ZoneMap.stringStatsRows(spark,
        all.map(e => dataPathOf(dir, e)), Seq(phys))
      .select("file", "min_str", "max_str").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    all.filter { e =>
      stats.get(dataPathOf(dir, e)) match {
        case Some((mn, mx)) =>
          ZoneMap.leUtf8(mn, hi) && ZoneMap.leUtf8(lo, mx)
        case None => true // unknown never prunes
      }
    }.map(_.name)
  }

  /** [[snapshotPruned]]'s STRING form: read only the files whose
    * lexicographic span can intersect [lo, hi], then the residual
    * range predicate (row-group stats serve it inside the survivors).
    * Result identical to the unpruned filtered snapshot; planning
    * cost is the footers the unpruned read would touch anyway, and
    * skipped files never read a data page.
    */
  def snapshotPrunedString(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: String,
      hi: String,
      version: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.col
    val all = liveEntries(spark, dir, version)
    require(all.nonEmpty, s"version $version of $dir holds no files")
    val cand = candidateFilesStringRange(spark, dir, column, lo, hi,
      version).toSet
    val candEntries = all.filter(e => cand(e.name))
    val src =
      if (candEntries.isEmpty)
        readEntries(spark, dir, all, schemaVersion = version).limit(0)
      else readEntries(spark, dir, candEntries, schemaVersion = version)
    src.filter(col(column) >= lo && col(column) <= hi)
  }

  /** The table an entry name belongs to, for its schema pin: `Some(t)`
    * for a DbLog table's `t/…` files, None for the directory's own
    * table (root-level or hive `k=v/…` names).
    */
  private[ops] def pinScopeOf(name: String): Option[String] = {
    val i = name.indexOf('/')
    if (i > 0 && DbLog.isTableName(name.substring(0, i)))
      Some(name.substring(0, i))
    else None
  }

  /** Keep the schema rule: every table holding data has a pin in its
    * log, written by the commit that created it. After a commit lands
    * at `v`, per pin scope its `adds` touch: an unpinned table is
    * pinned from the staged frame (flat tables) or from ONE footer
    * inference over the added files; a pinned, unmapped table widens
    * by the frame's new columns (a mapped one evolves through DDL). A
    * pin matches the plain read: fields nullable, metadata stripped
    * (footers written from a MAPPED source carry its `physical name`
    * annotations), hive partition columns last with inferred types.
    */
  private def pinAfterCommit(
      spark: SparkSession,
      dir: String,
      v: Int,
      adds: Seq[AddEntry],
      frames: Map[Option[String], org.apache.spark.sql.types.StructType])
      : Unit =
    adds.groupBy(e => pinScopeOf(e.name)).foreach { case (scope, es) =>
      val pin = scope.fold(tableSchema(spark, dir))(DbLog.tableSchema(spark, dir, _))
      val frame = frames.get(scope).map(pinnable)
      val next = pin match {
        case None =>
          // a nested (hive) layout types its partition columns from the
          // directory values, which the frame does not carry
          val nested = es.exists(e =>
            e.name.stripPrefix(scope.fold("")(_ + "/")).contains('/'))
          frame.filterNot(_ => nested).orElse(inferPin(spark, dir, es, nested))
        case Some(p) if !ColumnMapping.isMapped(p) =>
          val have = p.fieldNames.map(_.toLowerCase).toSet
          val fresh = frame.toSeq.flatMap(_.fields).filterNot(f =>
            have(f.name.toLowerCase) || f.name.startsWith("__graft_"))
          if (fresh.isEmpty) None
          else Some(org.apache.spark.sql.types.StructType(p.fields ++ fresh))
        case Some(_) => None
      }
      next.foreach(sc => scope match {
        case None    => setTableSchema(spark, dir, sc, v)
        case Some(t) => DbLog.setTableSchema(spark, dir, t, sc, v)
      })
    }

  private def pinnable(sc: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def nullable(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), true)
      case m: MapType =>
        MapType(nullable(m.keyType), nullable(m.valueType), true)
      case other => other
    }
    StructType(sc.fields.map(f => f.copy(dataType = nullable(f.dataType),
      nullable = true, metadata = Metadata.empty)))
  }

  /** The pin of a table created by files alone: the schema the plain
    * read of `es` resolves — one footer (the MIN path's) for a flat
    * table, the full set for a nested one (partition-column types are
    * inferred across every directory value). None when the probed
    * files are absent (a commit may name files that land later).
    */
  private def inferPin(
      spark: SparkSession, dir: String, es: Seq[AddEntry], nested: Boolean)
      : Option[org.apache.spark.sql.types.StructType] = {
    val root = dataRootOf(dir, es.head)
    val fs = Compact.fsOf(spark, dir)
    val paths = es.filter(dataRootOf(dir, _) == root)
      .map(e => dataPathOf(dir, e)).filter(p => fs.exists(new Path(p)))
    if (paths.isEmpty) return None
    val probe = if (nested) paths else Seq(paths.min)
    Some(pinnable(spark.read.option("basePath", root)
      .parquet(probe: _*).schema))
  }

  /** Append a commit (called by the file-surgery operators after their
    * staged files are in place). Optimistic: claims `current + 1`,
    * retrying past a racing committer — and on every (re)attempt
    * VALIDATES that the files this commit removes are still live at
    * the parent version. Without that check, two writers rewriting the
    * same file would silently produce a lost update (the second
    * commit's replacement file resurrects rows the first one deleted);
    * with it, the second writer gets a [[java.util
    * .ConcurrentModificationException]] and must recompute against the
    * new state — Delta's conflict-detection rule at its core.
    */
  private[graft] def commit(
      spark: SparkSession,
      dir: String,
      adds: Seq[String],
      removes: Seq[String],
      txn: Option[String] = None,
      seen: Seq[AddEntry] = Nil,
      op: Option[String] = None,
      frameSchema: Option[org.apache.spark.sql.types.StructType] = None): Int =
    commitEntries(spark, dir, adds.map(AddEntry(_)), removes, txn, seen, op,
      frameSchemas = frameSchema.map(None -> _).toMap)

  /** [[commit]] with pre-built entries — the path DV attachment uses
    * (a re-ADD carrying its existing stats plus the new sidecar name,
    * with the file itself in `removes` so the conflict check still
    * rejects a concurrent rewrite of the same file). `frameSchemas`:
    * the schema of the frame a writer staged, per pin scope
    * ([[pinScopeOf]]) — it pins a table this commit creates without a
    * footer read, and widens an existing pin by its new columns.
    */
  private[graft] def commitEntries(
      spark: SparkSession,
      dir: String,
      adds: Seq[AddEntry],
      removes: Seq[String],
      txn: Option[String] = None,
      seen: Seq[AddEntry] = Nil,
      op: Option[String] = None,
      cdc: Seq[String] = Nil,
      frameSchemas: Map[Option[String], org.apache.spark.sql.types.StructType] =
        Map.empty): Int = {
    // when the table declares stats columns, footer-read the added
    // files ONCE (outside the retry loop — stats don't change across
    // attempts) and embed their bounds in the ADD entries. Lenient:
    // an add naming a not-yet-present file simply carries no stats.
    // Entries that already carry stats (DV re-adds) keep theirs.
    val cols = statsColumns(spark, dir)
    // based (shallow-cloned) adds never footer-read here: the clone
    // commit carries the source's stats verbatim, and a foreign root
    // is not this writer's to probe
    val bare = adds.filter(e => e.stats.isEmpty && e.base.isEmpty).map(_.name)
    val entries =
      if (bare.isEmpty) adds
      else {
        // a per-table declaration (DbLog: stats_cols.<table>.txt)
        // overrides the dir-wide list for adds under its prefix, so
        // two tables of one database can index different columns
        val prefixes = bare.collect {
          case n if n.indexOf('/') > 0 => n.substring(0, n.indexOf('/'))
        }.distinct
        val perTable: Map[String, Seq[String]] = prefixes.flatMap(t =>
          metaRead(spark, dir, s"stats_cols.$t.txt")
            .map(b => t -> b.linesIterator.filter(_.nonEmpty).toList)).toMap
        def colsFor(n: String): Seq[String] = {
          val i = n.indexOf('/')
          if (i > 0) perTable.getOrElse(n.substring(0, i), cols) else cols
        }
        val groups = bare.groupBy(n => (colsFor(n), pinScopeOf(n)))
          .filter(_._1._1.nonEmpty)
        if (groups.isEmpty) adds
        else {
          // under column mapping the staged files spell PHYSICAL
          // names; the declared list is logical. Stats are KEYED
          // PHYSICAL so they stay valid across any number of renames
          // (candidateFilesFromLog translates the query column back).
          // A DbLog table translates through ITS OWN pin
          // (DbLog.renameColumn's per-table namespace).
          val pinNow = tableSchema(spark, dir)
          val byFile = groups.flatMap { case ((cs, tbl), names) =>
            val pinT = tbl.flatMap(t =>
              DbLog.tableSchema(spark, dir, t)).orElse(pinNow)
            def phys(c: String): String =
              pinT.map(ColumnMapping.physicalOf(_, c)).getOrElse(c)
            ZoneMap.statsForFiles(
              spark, names.map(n => s"$dir/$n"), cs.map(phys),
              lenient = true)
          }
          adds.map { e =>
            if (e.stats.nonEmpty) e
            else e.copy(stats = byFile.getOrElse(s"$dir/${e.name}", Nil)
              .map(s => ColStats(s._1, s._2, s._3)))
          }
        }
      }
    // row tracking: every new ADD claims a rowBase covering its rows
    // (one footer count per new file + one ledger claim; no-op when
    // untracked). Outside the retry loop — bases don't change across
    // attempts, and a lost race must not double-claim.
    val entriesRb = RowTracking.assignBases(spark, dir, entries)
    var committed = -1
    var tries = 0
    while (committed < 0) {
      tries += 1
      require(tries <= 100, s"txlog commit: 100 contended attempts in $dir")
      val parent = currentVersion(spark, dir)
      if (removes.nonEmpty || seen.nonEmpty) {
        val live = liveEntries(spark, dir, parent)
        val liveNames = live.map(_.name).toSet
        val gone = removes.filterNot(liveNames)
        // a removed NAME can stay live while its entry changes — a
        // concurrent DV attach re-points the same file name at a new
        // vector. This writer's reads were based on `seen`'s (name →
        // dv) pairs; committing over a changed pair would silently
        // drop the other writer's deletes (the lost update name-level
        // validation cannot see), so it conflicts too.
        val liveDv = live.map(e => e.name -> e.dv).toMap
        // forall: a seen name that VANISHED (a concurrent compaction
        // packed it away) conflicts too — committing a re-ADD of it
        // would resurrect the packed rows alongside their copies
        val moved = seen.filter(s => liveDv.get(s.name).forall(_ != s.dv))
        if (gone.nonEmpty || moved.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"txlog commit conflict in $dir: ${gone.size} of this commit's " +
              s"removed files were already replaced and ${moved.size} had " +
              s"their deletion vector changed by a concurrent commit " +
              s"(${(gone ++ moved.map(_.name)).take(3).mkString(", ")}…) — " +
              s"recompute against v$parent")
      }
      // stamp first-landing entries with THIS attempt's version —
      // re-adds (DV attach, restore, clone, publish carry-over) keep
      // the version their data file originally landed at, which is
      // what `_row_commit_version` derives unmaterialized rows from
      val stamped = entriesRb.map(e =>
        if (e.addedV.isEmpty) e.copy(addedV = Some(parent + 1)) else e)
      if (writeVersion(spark, dir, parent + 1, stamped, removes, txn, op, cdc))
        committed = parent + 1
      // lost the race: loop re-reads the parent and re-validates
    }
    pinAfterCommit(spark, dir, committed, adds, frameSchemas)
    // auto-checkpoint policy ([[setCheckpointEvery]]): every N-th
    // main commit folds the log in-line. Branch commits skip (their
    // folds ride the base's checkpoints); a racing writer may have
    // advanced past `committed` — checkpointing at the CURRENT head
    // is just as valid, writeCheckpointAt is idempotent per version.
    // BEST-EFFORT: the commit above already landed, so a checkpoint
    // failure must not make this write look failed (a caller retrying
    // an un-txn'd append would double its rows); the next N-th commit
    // retries the fold.
    if (branchOf(dir).isEmpty)
      try checkpointEvery(spark, dir)
        .foreach(n => if (committed % n == 0) checkpoint(spark, dir))
      catch { case scala.util.control.NonFatal(_) => () }
    committed
  }

  /** The table as a DataFrame whether or not it is log-managed: the
    * current snapshot when a log exists, the plain directory read
    * otherwise. The read entry point every stats/manifest operator
    * uses, so zone maps, bloom indexes and the DML triad all agree on
    * what "the table" is.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    if (exists(spark, dir)) snapshot(spark, dir)
    else spark.read.parquet(dir)

  /** [[read]]'s `inputFiles` restricted to DATA files: a DV-carrying
    * snapshot's plan also scans `_dv/` sidecars, which are metadata —
    * manifest builders ([[ZoneMap]], [[BloomFileIndex]]) and
    * candidate-pruning paths must key their stats by data file only.
    */
  def dataInputFiles(spark: SparkSession, dir: String): Seq[String] =
    dataInputFilesOf(read(spark, dir))

  private[ops] def dataInputFilesOf(df: DataFrame): Seq[String] =
    df.inputFiles.toSeq.filterNot(_.contains(s"/$DvDirName/"))

  /** The metadata "files table" (DESCRIBE DETAIL / `.files`): one row
    * per live entry at `version` with on-disk size, footer row count,
    * the attached deletion vector (and how many of the file's rows it
    * hides), and the log-carried column stats — the observability
    * surface a maintenance policy reads, exposed in SQL as
    * `graft_files(dir[, version])`. Cost: the log fold + one fs
    * status + footer read per file (metadata pages only) + a sidecar
    * scan when vectors exist.
    */
  def filesMeta(
      spark: SparkSession,
      dir: String,
      version: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val entries = liveEntries(spark, dir, version)
    val fs = Compact.fsOf(spark, dir)
    val paths = entries.map(e => dataPathOf(dir, e))
    val footer = Compact.footerRowCounts(spark, paths)
    // stats are keyed physical in the log — surface them under the
    // version's LOGICAL names (what the user's queries speak)
    val pinV = tableSchema(spark, dir, version)
    def logi(c: String): String =
      pinV.map(ColumnMapping.logicalOf(_, c)).getOrElse(c)
    val base = entries.map { e =>
      (e.name,
        fs.getFileStatus(new Path(dataPathOf(dir, e))).getLen,
        footer.getOrElse(dataPathOf(dir, e), -1L),
        e.dv.orNull,
        e.stats.map(s => (logi(s.column), s.min, s.max)))
    }.toDF("file", "bytes", "rows", "dv", "stats")
    val dvd = entries.filter(_.dv.isDefined)
    if (dvd.isEmpty) base.withColumn("dv_rows", lit(0L))
    else {
      val counts = DeletionVectors.statsForEntries(spark, dir, dvd)
        .withColumnRenamed("deleted_rows", "dv_rows")
      base.join(counts, Seq("file"), "left_outer")
        .na.fill(0L, Seq("dv_rows"))
    }
  }

  /** Read an inputFiles-form candidate URI list the way the table
    * itself would: log-managed dirs resolve the URIs to live entries
    * and go through [[readEntries]] (pinned schema, deletion vectors,
    * per-root clone scan groups, partition columns); unmanaged dirs
    * take the pinned raw read with `basePath`. The candidate-read
    * entry point for the copy-on-write DML pair.
    */
  private[ops] def readUris(
      spark: SparkSession,
      dir: String,
      uris: Seq[String]): DataFrame =
    if (exists(spark, dir))
      readEntries(spark, dir,
        entriesForUris(spark, dir, uris, liveEntries(spark, dir)))
    else if (tableSchema(spark, dir).isDefined)
      Compact.pinnedReader(spark, dir)
        .option("basePath", dir).parquet(uris: _*)
    else spark.read.option("basePath", dir)
      .schema(inferSchemaCached(spark, uris, Some(dir)))
      .parquet(uris: _*)

  /** Read a pruned candidate subset given by inputFiles-form URIs —
    * applying deletion vectors where the candidates carry them. The
    * one reader every stats-pruned path ([[ZoneMap]]'s range/equality
    * reads, [[BloomFileIndex]]'s point reads) must go through: a raw
    * `spark.read.parquet(cand)` on a DV'd table resurrects hidden
    * rows. Unmanaged dirs and DV-free candidate sets keep the exact
    * raw-read plan (schema pinned by the caller's table read).
    */
  private[ops] def readPrunedUris(
      spark: SparkSession,
      dir: String,
      candUris: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    if (candUris.isEmpty)
      return spark.read.schema(schema).parquet()
    if (!exists(spark, dir))
      return spark.read.schema(schema).parquet(candUris: _*)
    val entries = entriesForUris(spark, dir, candUris, liveEntries(spark, dir))
    if (entries.forall(_.dv.isEmpty))
      spark.read.schema(schema).parquet(candUris: _*)
    else readEntries(spark, dir, entries)
  }

  /** Row-level change feed between two retained versions: what a
    * consumer must apply to move a downstream copy from `fromVersion`
    * to `toVersion` — `_change_type` = 'insert' for rows present only
    * after, 'delete' for rows present only before (an upsert appears
    * as its delete + insert pair; rows that merely moved files during
    * compaction cancel out).
    *
    * Cost is O(CHANGED files), not O(snapshot): files live in BOTH
    * versions contribute identical rows to both sides and cannot
    * appear in the multiset difference, so only the files added or
    * removed across the range are read. Measured at a 3M-row /
    * 256-file table after a 3-key purge (2 files changed): pruned
    * diff 1.2 s vs the naive both-snapshots exceptAll 5.4 s — and the
    * gap is the table size, since the pruned side's work stays
    * O(changed files) as the table grows.
    */
  def diff(
      spark: SparkSession,
      dir: String,
      fromVersion: Int,
      toVersion: Int,
      schemaVersion: Int = -1): DataFrame = {
    require(fromVersion <= toVersion,
      s"diff: fromVersion $fromVersion > toVersion $toVersion")
    diffOfEntries(spark, dir,
      liveEntries(spark, dir, fromVersion),
      liveEntries(spark, dir, toVersion), toVersion,
      schemaV = schemaVersion,
      cdcNames = cdcNamesInRange(spark, dir, fromVersion, toVersion))
  }

  /** The change-data sidecars recorded by the retained commits in
    * `(from, to]` — one metadata-sized log read per commit in range.
    */
  private[ops] def cdcNamesInRange(
      spark: SparkSession, dir: String, from: Int, to: Int): Seq[String] =
    versions(spark, dir).filter(v => v > from && v <= to)
      .flatMap(v => readVersionCdc(spark, dir, v))

  /** The (file, position) rows one side's deletion vectors hide,
    * scoped per entry to ITS file name — a sidecar may carry other
    * files' positions (one purge touches many files), and only the
    * given entries' own rows count. Churn-sized: sidecars list
    * deleted positions, never data.
    */
  private[ops] def dvPositionsOf(
      spark: SparkSession,
      dir: String,
      entries: Seq[AddEntry]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col}
    val dvd = entries.filter(_.dv.isDefined)
    if (dvd.isEmpty)
      return Seq.empty[(String, Long)].toDF("__graft_file", "__graft_pos")
    val dvPaths = dvd.map(e => dvPathOf(dir, e)).distinct
    val dvAbs = dvPaths.map(p => p -> qualifyAbs(spark, p)).toMap
    val rows = spark.read.schema(DvSidecarSchema)
      .parquet(dvPaths: _*)
      .select(col("_metadata.file_path").as("__graft_dv_src"),
        col("file").as("__graft_file"),
        col("pos").cast("long").as("__graft_pos"))
    // scope each sidecar's rows to ITS entries' file names — a filter
    // on a driver-known multimap (map literal: no broadcast-build job
    // per action; join past the literal bound)
    if (dvd.sizeIs <= MapLitMax) {
      import org.apache.spark.sql.functions.{array_contains, element_at, typedLit}
      val m = typedLit(dvd.groupBy(e => dvAbs(dvPathOf(dir, e)))
        .map { case (src, es) => src -> es.map(_.name) })
      rows.filter(array_contains(
          element_at(m, col("__graft_dv_src")), col("__graft_file")))
        .drop("__graft_dv_src")
    } else {
      val assoc = dvd.map(e => (dvAbs(dvPathOf(dir, e)), e.name))
        .toDF("__graft_dv_src", "__graft_file")
      rows.join(broadcast(assoc), Seq("__graft_dv_src", "__graft_file"))
        .drop("__graft_dv_src")
    }
  }

  /** ONE probe of the range's change-data sidecars: which files each
    * sidecar carries positions for, scoped to `scopeNames` (the file
    * names that could pair on any side — names live in both entry
    * sets). A multi-table consumer ([[DbMv.refreshStar]] — one
    * transaction, N per-table diffs) builds this ONCE and shares it,
    * where each [[diffOfEntries]] call used to re-scan the same
    * sidecar files for its own table's pair names. Churn-sized: a
    * sidecar lists deleted positions' file names, never data, and the
    * collected (sidecar, file) pairs are bounded by the range's
    * touched-file count.
    */
  private[ops] def cdcFileIndex(
      spark: SparkSession,
      dir: String,
      cdcNames: Seq[String],
      scopeNames: Set[String]): Map[String, Set[String]] = {
    if (cdcNames.isEmpty || scopeNames.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{broadcast, col}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import spark.implicits._
    val allPaths = cdcNames.distinct.map(n => cdcFilePath(dir, n))
    val scopeDf = scopeNames.toSeq.toDF("__graft_file")
    val pairs = spark.read
      .schema(StructType(Seq(StructField("__graft_file", StringType))))
      .parquet(allPaths: _*)
      .select(col("_metadata.file_path").as("__graft_cdc_src"),
        col("__graft_file"))
      .join(broadcast(scopeDf), Seq("__graft_file"), "left_semi")
      .select("__graft_cdc_src", "__graft_file") // fix positions by name
      .distinct()
      .collect()
    pairs
      .groupBy(_.getString(0))
      .map { case (src, rows) => src -> rows.map(_.getString(1)).toSet }
  }

  /** [[diff]]'s core over explicit before/after entry sets — shared
    * with [[DbLog.diff]], which restricts both sides to one table's
    * prefix before the same changed-files-only arithmetic.
    * `cdcIndex`: a shared sidecar→files coverage index (one thunk per
    * multi-table advance, built lazily on first need) replacing the
    * per-call sidecar probe scan.
    */
  private[ops] def diffOfEntries(
      spark: SparkSession,
      dir: String,
      beforeE: Seq[AddEntry],
      afterE: Seq[AddEntry],
      toVersion: Int,
      schemaV: Int = -1,
      withRowIds: Boolean = false,
      pinOverride: Option[org.apache.spark.sql.types.StructType] = None,
      cdcNames: Seq[String] = Nil,
      cdcIndex: Option[() => Map[String, Set[String]]] = None)
      : DataFrame = {
    // per-commit consumers ([[changesOfEntries]]) read EVERY commit of
    // a range at the RANGE END's pin, so a mid-range rename/evolution
    // yields one uniform feed schema (Delta CDF's contract) instead of
    // a per-commit name clash at the union
    val schemaVersion = if (schemaV >= 0) schemaV else toVersion
    // the unit of change is (file, deletion vector): a DV attach/merge
    // changes a file's pair without changing its name, and the file
    // must then be read ON BOTH SIDES (each side applying its own DV)
    // so exactly the newly-hidden rows surface as deletes
    val beforeK = beforeE.map(e => (e.name, e.dv)).toSet
    val afterK = afterE.map(e => (e.name, e.dv)).toSet
    val removedAll = beforeE.filterNot(e => afterK((e.name, e.dv)))
      .sortBy(_.name)
    val addedAll = afterE.filterNot(e => beforeK((e.name, e.dv)))
      .sortBy(_.name)
    // entries live on BOTH sides under the same name whose only
    // change is the deletion vector: their contribution to the
    // multiset difference is EXACTLY the sidecars' position delta
    // (the file's surviving rows appear identical on both sides and
    // cancel), so serve those rows positionally instead of re-reading
    // the file whole on both sides. This is what keeps a SCATTERED
    // merge-on-read churn O(churn): when every file gains a vector,
    // the whole-read shape re-reads 2× the table per advance; here
    // each touched file is read once, raw, with only the delta
    // positions surviving the join.
    val beforeByName = beforeE.map(e => e.name -> e).toMap
    // content-identity fields only: base (where the bytes live) and
    // rowBase (what ids derive from). addedV is provenance, not
    // content — and a DV re-add of a pre-stamp entry gets freshly
    // stamped, so comparing it would silently reject the pair
    def dvOnly(b: AddEntry, a: AddEntry): Boolean =
      b.base == a.base && b.rowBase == a.rowBase
    val dvPairs = addedAll.flatMap { a =>
      beforeByName.get(a.name).filter(b => dvOnly(b, a)).map(b => (b, a))
    }
    val pairNames = dvPairs.map(_._2.name).toSet
    val removed = removedAll.filterNot(e => pairNames(e.name))
    val added = addedAll.filterNot(e => pairNames(e.name))
    import org.apache.spark.sql.functions.lit
    // withRowIds: read both sides with the stable `_row_id` attached
    // so the keyless pairing (and exceptAll) see it — a pure
    // compaction's rows then cancel EXACTLY (ids identical both sides)
    def rdSide(es: Seq[AddEntry]): DataFrame =
      if (withRowIds)
        // pinOverride doubles as the per-table pin for a DbLog table's
        // keyless feed (the dir-wide pin slot is empty on databases)
        RowTracking.withIds(spark, dir, es, schemaVersion = schemaVersion,
          pinOpt = pinOverride)
      else readEntries(spark, dir, es, schemaVersion = schemaVersion,
        pinOverride = pinOverride)
    def readOrEmpty(es: Seq[AddEntry], schemaOf: Seq[AddEntry]): DataFrame =
      if (es.nonEmpty) rdSide(es)
      else spark.read.schema(rdSide(schemaOf).schema)
        .parquet() // zero paths: empty relation with the sibling schema
    if (removedAll.isEmpty && addedAll.isEmpty) {
      val any = afterE
      require(any.nonEmpty, s"diff: version $toVersion of $dir holds no files")
      return rdSide(any).limit(0)
        .withColumn("_change_type", lit("insert"))
    }
    // position sets per side of the DV-only pairs: newly HIDDEN
    // positions (grown vector → delete rows) and newly VISIBLE ones
    // (a RESTORE shrank a vector → insert rows) — FUSED with the
    // change-data coverage split into ONE churn-sized checkpoint whose
    // own job observes the emptiness counts ([[RelationalOps.pin]]):
    // a star advance runs one per DV-grown table, and its cost is its
    // fixed job count (guide §1.2).
    // covered = hidden positions a sidecar recorded content for
    // (served zero base-file bytes); uncovered falls back to the raw
    // positional read.
    val (coveredRows, hiddenUncovPos, revivedPos) =
      if (dvPairs.isEmpty) (None, None, None)
      else {
        import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit, when}
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val posK = Seq("__graft_file", "__graft_pos")
        // ONE full-outer pass computes both direction deltas (grown =
        // after-only, revived = before-only)
        val afterPos = dvPositionsOf(spark, dir, dvPairs.map(_._2))
          .withColumn("__in_after", lit(1))
        val beforePos = dvPositionsOf(spark, dir, dvPairs.map(_._1))
          .withColumn("__in_before", lit(1))
        val delta0 = afterPos.join(beforePos, posK, "full_outer")
          .filter(col("__in_after").isNull || col("__in_before").isNull)
        // change-data sidecars that can serve this side's files —
        // scoped driver-side through the shared coverage index when
        // the caller built one, else by one explicit-schema probe of
        // the `__graft_file` column (sibling tables' sidecars carry
        // same-named columns with DIFFERENT physical types:
        // unreadable in one scan, never joinable anyway)
        // the sidecar read takes its explicit schema from the table's
        // pin; a log written before tables pinned at creation serves
        // every hidden position from the raw positional read instead
        val pin = pinOverride.orElse(tableSchema(spark, dir, schemaVersion))
        val cdcOk = cdcNames.nonEmpty && pin.isDefined
        val paths: Seq[String] =
          if (!cdcOk) Nil
          else {
            val allPaths = cdcNames.distinct.map(n => cdcFilePath(dir, n))
            val pairNameSet = dvPairs.map(_._2.name).toSet
            cdcIndex match {
              case Some(ix) =>
                val idx = ix()
                allPaths.filter(p => idx.getOrElse(qualifyAbs(spark, p),
                  Set.empty[String]).exists(pairNameSet))
              case None =>
                import spark.implicits._
                val pairNamesDf = dvPairs.map(_._2.name).toDF("__graft_file")
                val probe = spark.read
                  .schema(StructType(Seq(
                    StructField("__graft_file", StringType))))
                  .parquet(allPaths: _*)
                  .select(col("_metadata.file_path").as("__graft_cdc_src"),
                    col("__graft_file"))
                  .join(broadcast(pairNamesDf), Seq("__graft_file"),
                    "left_semi")
                  .select("__graft_cdc_src").distinct()
                  .collect().map(_.getString(0)).toSet
                allPaths.filter(p => probe(qualifyAbs(spark, p)))
            }
          }
        if (paths.isEmpty) {
          // no sidecar can serve: the delta checkpoint alone, its two
          // counts observed in the same job, every hidden position
          // uncovered
          val (delta, cnt) = RelationalOps.pin(delta0,
            count(when(col("__in_before").isNull, 1)),
            count(when(col("__in_after").isNull, 1)))
          val h = delta.filter(col("__in_before").isNull)
            .select(posK.map(col): _*)
          val r = delta.filter(col("__in_after").isNull)
            .select(posK.map(col): _*)
          (None,
            if (cnt.getLong(0) == 0) None else Some(h),
            if (cnt.getLong(1) == 0) None else Some(r))
        } else {
          // the pin's PHYSICAL names + the sidecar plumbing columns: a
          // sidecar written before a column ADD reads NULL there, a
          // foreign table's sidecar columns are ignored — the
          // data-file contract exactly
          val phys = ColumnMapping.physicalSchema(pin.get)
          val extras = Seq(
            StructField("__graft_file", StringType),
            StructField("__graft_pos", LongType),
            StructField("__graft_rid", LongType))
            .filterNot(f => phys.fieldNames.contains(f.name))
          val raw = spark.read.schema(StructType(phys.fields ++ extras))
            .parquet(paths: _*)
          // a restore + re-delete can record one position twice across
          // the range; content is identical (a (file, pos) names fixed
          // bytes) — the dedup makes the left join 1:1, so the fused
          // frame keeps the delta's exact multiset
          val cdc = raw.dropDuplicates(posK).withColumn("__cdc_hit", lit(1))
          // the three emptiness probes ride the checkpoint job
          val hiddenC = col("__in_before").isNull
          val (fused, cnt) = RelationalOps.pin(
            delta0.join(cdc, posK, "left_outer"),
            count(when(hiddenC && col("__cdc_hit").isNotNull, 1)),
            count(when(hiddenC && col("__cdc_hit").isNull, 1)),
            count(when(col("__in_after").isNull, 1)))
          val covered = fused.filter(hiddenC && col("__cdc_hit").isNotNull)
            .drop("__in_after", "__in_before", "__cdc_hit")
          val uncov = fused.filter(hiddenC && col("__cdc_hit").isNull)
            .select(posK.map(col): _*)
          val revived = fused.filter(col("__in_after").isNull)
            .select(posK.map(col): _*)
          val covOut =
            if (cnt.getLong(0) == 0) None
            else {
              val logical = pin.map(ColumnMapping.toLogical(covered, _))
                .getOrElse(covered)
              val withId =
                if (!withRowIds) logical
                else if (dvPairs.sizeIs <= MapLitMax) {
                  // stored rid when tracked at delete time;
                  // pre-tracking sidecars derive from the BEFORE
                  // entry's rowBase — a driver-known attach (map
                  // literal: no broadcast-build job per action;
                  // absent keys read NULL like the left join did)
                  import org.apache.spark.sql.functions.{element_at, typedLit}
                  val m = typedLit(dvPairs.collect {
                    case (b, _) if b.rowBase.isDefined =>
                      b.name -> b.rowBase.get
                  }.toMap)
                  logical.withColumn(RowTracking.Col,
                    coalesce(col("__graft_rid"),
                      element_at(m, col("__graft_file")) +
                        col("__graft_pos")))
                } else {
                  import spark.implicits._
                  val baseDf = dvPairs.map(p => (p._1.name, p._1.rowBase))
                    .toDF("__graft_file", "__graft_rowbase")
                  logical.join(broadcast(baseDf), Seq("__graft_file"),
                    "left")
                    .withColumn(RowTracking.Col,
                      coalesce(col("__graft_rid"),
                        col("__graft_rowbase") + col("__graft_pos")))
                    .drop("__graft_rowbase")
                }
              Some(withId.drop("__graft_rid", "__graft_file", "__graft_pos"))
            }
          (covOut,
            if (cnt.getLong(1) == 0) None else Some(uncov),
            if (cnt.getLong(2) == 0) None else Some(revived))
        }
      }
    // raw read of ONLY the files the position set touches (a pair
    // whose delta is one-sided never scans for the other side); the
    // file-name collect is touched-files-sized, like the entries
    def rdSideAt(pos: DataFrame): DataFrame = {
      val names = pos.select("__graft_file").distinct()
        .collect().map(_.getString(0)).toSet
      val es = dvPairs.map(_._2).filter(e => names(e.name))
      val r =
        if (withRowIds)
          RowTracking.withIds(spark, dir, es, schemaVersion = schemaVersion,
            pinOpt = pinOverride, atPositions = Some(pos))
        else readEntries(spark, dir, es, schemaVersion = schemaVersion,
          pinOverride = pinOverride, atPositions = Some(pos))
      // churn-sized by construction (the position set bounds it):
      // checkpoint so the two exceptAll branches below share ONE
      // scan of the touched files instead of re-running it
      r.localCheckpoint()
    }
    def withPiece(whole: DataFrame, pos: Option[DataFrame]): DataFrame =
      pos.map(p => whole.unionByName(rdSideAt(p))).getOrElse(whole)
    val schemaDonor =
      if (added.nonEmpty) added
      else if (removed.nonEmpty) removed
      else dvPairs.map(_._2)
    val addedDf = withPiece(readOrEmpty(added, schemaDonor), revivedPos)
    // covered positions serve from the sidecars (zero base-file
    // bytes); only the uncovered remainder (pre-CDC commits,
    // MERGE-planner hides, oversize purges) pays the positional read
    val removedDf = {
      val base = coveredRows
        .map(readOrEmpty(removed, schemaDonor).unionByName(_))
        .getOrElse(readOrEmpty(removed, schemaDonor))
      withPiece(base, hiddenUncovPos)
    }
    // (withRowIds: rewritten files carry MATERIALIZED ids; removed-side
    // rows re-derive the same values from their entry's rowBase, so
    // exceptAll matches rows across the representation change)
    addedDf.exceptAll(removedDf).withColumn("_change_type", lit("insert"))
      .unionByName(
        removedDf.exceptAll(addedDf).withColumn("_change_type", lit("delete")))
  }

  /** Cursor-style change feed: everything committed AFTER
    * `sinceVersion`, up to the current version — returned with that
    * version so the consumer can persist it as its next cursor. The
    * incremental-consumer entry point ([[MvStore.followTxLog]] wires
    * it to a materialized view): a downstream copy calls this with its
    * last applied version instead of hand-listing version pairs, and
    * the cost stays O(files changed since the cursor). An empty
    * advance (cursor already current) returns the empty feed.
    */
  def diffSince(
      spark: SparkSession,
      dir: String,
      sinceVersion: Int): (DataFrame, Int) = {
    val cur = currentVersion(spark, dir)
    (diff(spark, dir, sinceVersion, cur), cur)
  }

  /** The versions still reconstructable from the log (vacuum's log
    * pruning drops older ones) — what a change-feed consumer checks
    * before advancing from a cursor: a cursor older than the horizon
    * means the feed is gone and the consumer must reseed from a
    * snapshot (the standard CDF-retention contract).
    */
  def retainedVersions(spark: SparkSession, dir: String): Seq[Int] =
    versions(spark, dir)

  /** Keep a DOWNSTREAM keyed table in sync with this log — table
    * replication over the change feed: each call advances the
    * destination from its persisted cursor by applying
    * [[diffSince]]'s net feed through [[UpsertWhere.applyChanges]]
    * (one commit per advance, candidates located by the distributed
    * key probe, so steady-state cost is O(changed files on BOTH
    * sides)). Returns (fromVersion, toVersion) of the advance.
    *
    * The first call — and a cursor that fell past the source's
    * retention horizon — takes a FULL resync expressed as one net
    * feed (source rows as inserts, destination-only keys as deletes),
    * so even the reseed is a single atomic commit. Crash between the
    * apply and the cursor re-pin replays the same feed; keyed
    * application is idempotent by construction, so no stamp is
    * needed. One source per destination (the cursor is a single
    * file in the destination's log dir); single-replicator
    * assumption, like every maintenance writer here.
    */
  def replicateTo(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      keyCol: String): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    val cur = currentVersion(spark, srcDir)
    if (!exists(spark, dstDir)) convert(spark, dstDir)
    val fs = Compact.fsOf(spark, dstDir)
    val cpath = new Path(logPath(dstDir), "replsrc_cursor.txt")
    val from: Option[Int] =
      if (!fs.exists(cpath)) None
      else {
        val in = fs.open(cpath)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
        finally in.close()
      }
    def pin(v: Int): Unit = {
      val out = fs.create(cpath, true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    from match {
      case Some(f) if f == cur => (f, cur)
      case Some(f) if retainedVersions(spark, srcDir).contains(f) =>
        val (d, to) = diffSince(spark, srcDir, f)
        UpsertWhere.applyChanges(spark, dstDir, keyCol, asChangeFeed(d),
          materializeFeed = true)
        pin(to)
        (f, to)
      case _ =>
        // first sync / retention cliff: full resync as ONE net feed
        val src = snapshot(spark, srcDir, cur)
          .withColumn("change_type", lit("insert"))
        val feed =
          if (liveFiles(spark, dstDir).isEmpty) src
          else src.unionByName(
            snapshot(spark, dstDir)
              .join(snapshot(spark, srcDir, cur).select(col(keyCol)).distinct(),
                Seq(keyCol), "left_anti")
              .withColumn("change_type", lit("delete")))
        UpsertWhere.applyChanges(spark, dstDir, keyCol, feed)
        pin(cur)
        (from.getOrElse(-1), cur)
    }
  }

  /** [[replicateTo]] keyed on the engine's own stable `_row_id`
    * instead of a user column — KEYLESS replication for row-tracked
    * sources ([[RowTracking]]). What the id key buys over a user key:
    *  - no key column to choose or get wrong (composite keys, NULLs,
    *    non-unique "keys" all disappear — the id is unique by
    *    construction);
    *  - RENAME-PROOF: a mapped rename of any source column cannot
    *    break the key (the id is not a user column), and the replica
    *    FOLLOWS the rename — the physical-identity diff of the
    *    source's pins over the advanced range re-spells the replica's
    *    matching logical names before the feed applies;
    *  - compaction movement replicates as NOTHING: a bin-pack's
    *    delete+insert of identical (row, id) pairs nets to an empty
    *    multiset diff, so the keyless feed is empty and the advance
    *    is a cursor hop — a keyed replicate re-applies moved rows.
    * The replica stores `_row_id` as a plain data column (it is not
    * itself row-tracked — its rows' identity IS the source's).
    * Cursor/retention semantics match [[replicateTo]]: a cursor
    * behind the horizon falls back to one full resync, which here
    * requires the replica to be empty or column-aligned (schema
    * drift across a LOST range has no rename record to follow —
    * recreate the replica instead of guessing).
    *
    * `autoRecreate = true` performs that documented recreate ITSELF
    * when a refusal path fires (swap/cycle renames, drop + re-add
    * inside one window, misaligned resync): the replica is DELETED
    * and rebuilt from the source's current id-attached snapshot — a
    * deterministic, hash-stable outcome, opt-in because it discards
    * the replica's on-disk history (the data is re-derived whole).
    */
  def replicateByRowId(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      autoRecreate: Boolean = false): (Int, Int) = {
    require(RowTracking.enabled(spark, srcDir),
      s"replicateByRowId: row tracking is not enabled on $srcDir " +
        "(RowTracking.enable / graft_enable_rowtracking) — use " +
        "replicateTo(keyCol) for untracked sources")
    val cur = currentVersion(spark, srcDir)
    replicateRowIdScaffold(spark, dstDir, "replsrc_rowid_cursor.txt",
      "replicateByRowId", cur,
      retainedAt = f => retainedVersions(spark, srcDir).contains(f),
      srcAtCur = () => RowTracking.readAt(spark, srcDir, cur)
        .drop(RowTracking.VerCol),
      feedOver = f => changes(spark, srcDir, f, cur, Nil),
      // replica follows the source's renames FIRST (the feed speaks
      // the range-END logical names); the id key itself never renames
      followRenames = f => followSourceRenames(spark, srcDir, dstDir, f),
      autoRecreate = autoRecreate)
  }

  /** The keyless-replication scaffold [[replicateByRowId]] and
    * [[DbLog.replicateTableByRowId]] share: cursor file IO in the
    * REPLICA's log dir, the rename-follow + feed advance, the
    * resync's insert + left-anti-delete feed with the typed
    * [[ReplicaDiverged]] alignment refusal, and the deterministic
    * `autoRecreate` heal (delete the replica whole, rebuild from the
    * source's current id-attached snapshot, re-pin). The two callers
    * differ only in WHERE the source lives — lambdas carry that.
    */
  private[ops] def replicateRowIdScaffold(
      spark: SparkSession,
      dstDir: String,
      cursorFile: String,
      opName: String,
      cur: Int,
      retainedAt: Int => Boolean,
      srcAtCur: () => DataFrame,
      feedOver: Int => DataFrame,
      followRenames: Int => Unit,
      autoRecreate: Boolean): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    if (!exists(spark, dstDir)) convert(spark, dstDir)
    val fs = Compact.fsOf(spark, dstDir)
    val cpath = new Path(logPath(dstDir), cursorFile)
    val from: Option[Int] =
      if (!fs.exists(cpath)) None
      else {
        val in = fs.open(cpath)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.toInt)
        finally in.close()
      }
    def pin(v: Int): Unit = {
      val out = fs.create(cpath, true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    // first sync / retention cliff: one id-attached full resync
    def resync(): Unit = {
      val src = srcAtCur()
      val dstEmpty = liveEntries(spark, dstDir).isEmpty
      if (!dstEmpty) {
        val have = snapshot(spark, dstDir).columns.toSet
        if (have != src.columns.toSet)
          throw new ReplicaDiverged(
            s"$opName: resync into a non-empty replica needs " +
              s"aligned columns — replica has ${have.toSeq.sorted
                .mkString(", ")}, source feeds ${src.columns.sorted
                .mkString(", ")}; the lost range carries no rename " +
              "record, recreate the replica (autoRecreate = true)")
      }
      val insert = src.withColumn("change_type", lit("insert"))
      val feed =
        if (dstEmpty) insert
        else insert.unionByName(
          snapshot(spark, dstDir)
            .join(src.select(col(RowTracking.Col)).distinct(),
              Seq(RowTracking.Col), "left_anti")
            .withColumn("change_type", lit("delete")))
      UpsertWhere.applyChanges(spark, dstDir, RowTracking.Col, feed)
      pin(cur)
    }
    // the documented heal: drop the replica whole, rebuild from the
    // source's current id-attached snapshot, re-pin. Deterministic —
    // the result equals a first sync into an empty replica.
    def recreate(): (Int, Int) = {
      fs.delete(new Path(dstDir), true)
      convert(spark, dstDir)
      resync()
      (from.getOrElse(-1), cur)
    }
    // refusals are TYPED ([[ReplicaDiverged]]) — a destructive
    // full-replica delete must never dispatch on message wording
    def orRecreate(body: => (Int, Int)): (Int, Int) =
      try body
      catch {
        case _: ReplicaDiverged if autoRecreate => recreate()
      }
    from match {
      case Some(f) if f == cur => (f, cur)
      case Some(f) if retainedAt(f) =>
        orRecreate {
          followRenames(f)
          val feed = feedOver(f)
            .drop(RowTracking.VerCol)
            .withColumnRenamed("_change_type", "change_type")
            .withColumnRenamed("_commit_version", "commit_version")
          UpsertWhere.applyChanges(spark, dstDir, RowTracking.Col, feed,
            materializeFeed = true)
          pin(cur)
          (f, cur)
        }
      case _ =>
        orRecreate { resync(); (from.getOrElse(-1), cur) }
    }
  }

  /** Re-spell the replica's logical names to match renames the SOURCE
    * performed over `(fromVersion, now]` — matched by PHYSICAL
    * identity across the source's version-keyed pins: a physical name
    * present in both pins under different logical spellings is a
    * rename, and the replica (its own table, its own mapping) renames
    * the same logical pair. Chains collapse (only the endpoint
    * spelling is applied). A SWAP (the rename's target spelling still
    * lives in the replica under another physical) REFUSES: applying
    * the feed over crossed spellings would silently put old-b values
    * in touched rows' a while untouched rows keep old-a — corruption,
    * not replication. Columns the source DROPPED in the range drop
    * from the replica too (otherwise the feed, which lacks them,
    * cannot apply at all and the cursor wedges).
    */
  private def followSourceRenames(
      spark: SparkSession, srcDir: String, dstDir: String,
      fromVersion: Int): Unit = {
    if (liveFiles(spark, dstDir).isEmpty) return // nothing to re-spell
    val pinNow = tableSchema(spark, srcDir)
    // pre-pin era at `from`: footer names WERE the physical names
    val oldByPhys: Map[String, String] =
      tableSchema(spark, srcDir, fromVersion) match {
        case Some(pa) =>
          pa.fields.map(f => ColumnMapping.physicalName(f) -> f.name).toMap
        case None =>
          snapshot(spark, srcDir, fromVersion).schema.fieldNames
            .map(n => n -> n).toMap
      }
    val srcColsNow: Set[String] = pinNow
      .map(_.fieldNames.toSet)
      .getOrElse(snapshot(spark, srcDir).schema.fieldNames.toSet)
    followRenamesOnto(spark, dstDir, pinNow, oldByPhys, srcColsNow)
  }

  /** [[followSourceRenames]]'s core against EXPLICIT source pins —
    * the seam the per-table database replication shares: `pinNow` is
    * the source's current pin (None = unmapped), `oldByPhys` maps the
    * source's physical names to their logical spellings AT the cursor
    * version, `srcColsNow` is the source's current logical column
    * set (drops follow it). All mutations land on the REPLICA.
    */
  private[ops] def followRenamesOnto(
      spark: SparkSession, dstDir: String,
      pinNow: Option[org.apache.spark.sql.types.StructType],
      oldByPhys: Map[String, String],
      srcColsNow: Set[String]): Unit = {
    if (liveFiles(spark, dstDir).isEmpty) return // nothing to re-spell
    pinNow.foreach { pn =>
      // a logical name alive in BOTH eras whose PHYSICAL identity
      // changed is a DROP + re-ADD inside the window: the replica's
      // untouched rows hold dead-era values the source now reads as
      // NULL, and the keyless feed cannot say which — refuse with
      // the same recreate guidance as the swap case, never guess
      val nowPhysByLogical =
        pn.fields.map(f => f.name -> ColumnMapping.physicalName(f)).toMap
      val nowPhysSet = nowPhysByLogical.values.toSet
      oldByPhys.foreach { case (oldPhys, oldLogical) =>
        nowPhysByLogical.get(oldLogical).foreach { nowPhys =>
          // the old storage surviving under a renamed spelling is the
          // rename machinery's case; storage that VANISHED while the
          // logical name lives on is a pure drop + re-add
          if (!(nowPhys == oldPhys || nowPhysSet(oldPhys)))
            throw new ReplicaDiverged(
              s"replicateByRowId: column $oldLogical was DROPPED and " +
                "re-ADDED on the source inside the advanced range " +
                s"(physical $oldPhys -> $nowPhys) — the replica's " +
                "pre-drop values cannot be reconciled; recreate the " +
                "replica (autoRecreate = true)")
        }
      }
      // renames, in a dependency-respecting order: apply any pair
      // whose target spelling is currently FREE, re-reading the
      // replica's columns after each (a chain b->c then a->b is
      // orderable; only a true cycle — a swap — is left over and
      // refuses)
      var pending = pn.fields.toSeq.flatMap { f =>
        oldByPhys.get(ColumnMapping.physicalName(f)).collect {
          case old if old != f.name => (old, f.name)
        }
      }
      var progressed = true
      while (pending.nonEmpty && progressed) {
        val dstCols = snapshot(spark, dstDir).columns.toSet
        pending = pending.filter { case (old, _) => dstCols(old) }
        val (ready, blocked) =
          pending.partition { case (_, nw) => !dstCols(nw) }
        progressed = ready.nonEmpty
        ready.foreach { case (old, nw) =>
          ColumnMapping.renameColumn(spark, dstDir, old, nw)
        }
        pending = blocked
      }
      if (pending.nonEmpty)
        throw new ReplicaDiverged(
          s"replicateByRowId: the source's renames inside the advanced " +
            s"range form a CYCLE (${pending.map { case (a, b) =>
              s"$a->$b" }.mkString(", ")}) — a swap cannot be applied " +
            "unambiguously over the replica's existing spellings; " +
            "recreate the replica (autoRecreate = true)")
    }
    // follow DROPS: replica columns the source's current logical
    // schema no longer spells (the feed will not carry them)
    val dstNow = snapshot(spark, dstDir).columns.toSet
    (dstNow - RowTracking.Col -- srcColsNow).toSeq.sorted.foreach { c =>
      ColumnMapping.dropColumn(spark, dstDir, c)
    }
  }

  /** Adapt a [[diff]] feed to the [[Scd2.changes]]/[[MvStore]] change
    * schema, so an incremental materialized view can consume the
    * commits of ANY logged table — the diff's delete+insert pair for
    * an updated row is exactly the preimage/postimage pair the signed
    * delta arithmetic expects.
    */
  def asChangeFeed(diffDf: DataFrame): DataFrame =
    diffDf.withColumnRenamed("_change_type", "change_type")

  /** Row-level change feed with UPDATE IMAGES and per-commit
    * attribution — the Delta CDF shape: for each commit in
    * `(fromVersion, toVersion]`, the changed-files diff's delete and
    * insert rows are PAIRED by `keyCols` — a key present on both
    * sides of one commit becomes `update_preimage`/`update_postimage`
    * rows, a one-sided key stays `delete`/`insert` — and every row
    * carries `_commit_version`. This is what [[diff]]'s net multiset
    * view cannot say: WHICH commit changed a row and what the row
    * looked like before (the audit/trigger/Debezium consumer shape).
    *
    * Cost: one changed-files diff per commit in the range — total
    * O(files changed across the range), never O(snapshot); a commit
    * whose entries did not change is skipped without reading a byte.
    * Key pairing adds two metadata-sized key joins per commit
    * (updated keys are broadcast when small). NULL keys never pair
    * (SQL join equality), so a NULL-keyed rewrite stays delete+insert.
    */
  def changes(
      spark: SparkSession,
      dir: String,
      fromVersion: Int,
      toVersion: Int,
      keyCols: Seq[String],
      schemaVersion: Int = -1): DataFrame =
    // a negative floor (timestamp bound before the table existed)
    // diffs v0 against the empty before-set: the initial snapshot
    // replays as inserts, the streaming source's convention
    changesOfEntries(spark, dir, fromVersion, toVersion, keyCols,
      v => if (v < 0) Nil else liveEntries(spark, dir, v),
      schemaVersion = schemaVersion)

  /** [[changes]] over a caller-filtered entry view — the seam
    * [[DbLog.changes]] uses to restrict each version's entries to one
    * table's prefix before the same per-commit pairing.
    */
  private[ops] def changesOfEntries(
      spark: SparkSession,
      dir: String,
      fromVersion: Int,
      toVersion: Int,
      keyCols: Seq[String],
      entriesAt: Int => Seq[AddEntry],
      pinOverride: Option[org.apache.spark.sql.types.StructType] = None,
      schemaVersion: Int = -1,
      trackedTable: Option[String] = None)
      : DataFrame = {
    // default: the RANGE END's pin (one uniform feed schema across a
    // mid-range evolution — the CDF contract). A caller whose own
    // schema was frozen LATER (the streaming source after a restart)
    // overrides with that later version so recovery batches align.
    val schemaV = if (schemaVersion >= 0) schemaVersion else toVersion
    import org.apache.spark.sql.functions.{col, lit}
    // keyless mode: a row-tracked table pairs delete/insert images by
    // the stable `_row_id` — no user-supplied key needed, and the
    // pairing is exact (a key-based one conflates same-key rewrites)
    val rowIdKeyed = keyCols.isEmpty
    require(!rowIdKeyed || (trackedTable match {
        case Some(t) => RowTracking.enabledTable(spark, dir, t)
        case None => RowTracking.enabled(spark, dir)
      }),
      "changes: keyCols must be non-empty (or enable row tracking " +
        "for keyless update-image pairing)")
    val effKeys = if (rowIdKeyed) Seq(RowTracking.Col) else keyCols
    require(fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion > toVersion $toVersion")
    val vs = versions(spark, dir)
      .filter(v => v > fromVersion && v <= toVersion)
    require(vs.nonEmpty || fromVersion == toVersion,
      s"changes: no retained versions in ($fromVersion, $toVersion] of $dir")
    val steps = (fromVersion +: vs).sliding(2).collect {
      case Seq(a, b) => (a, b)
    }.toSeq
    // per-commit diffs are built CONCURRENTLY (guide §2.6 — each
    // commit's diff pays independent eager probe jobs) and pinned by
    // ONE range-wide checkpoint instead of one checkpoint per commit:
    // the former per-commit localCheckpoint was one more job per
    // commit in range for the same pinning (the pairing window reads
    // the union once either way).
    val perCommit = RelationalOps.inParallel(spark, steps) { case (prev, v) =>
      val before = entriesAt(prev)
      val after = entriesAt(v)
      // same (name, dv) sets → nothing changed in this view: skip
      // without a read (a DbLog commit touching OTHER tables)
      if (before.map(e => (e.name, e.dv)).toSet ==
          after.map(e => (e.name, e.dv)).toSet) None
      else Some(diffOfEntries(spark, dir, before, after, v,
          schemaV = schemaV,
          withRowIds = rowIdKeyed,
          pinOverride = pinOverride,
          cdcNames = readVersionCdc(spark, dir, v))
        .withColumn("_commit_version", lit(v)))
    }.flatten
    if (perCommit.nonEmpty) {
      val all = perCommit.reduce(_ unionByName _).localCheckpoint()
      // pair delete/insert images by key WITHIN EACH COMMIT in one
      // window pass over the pinned range — the former updated-keys
      // INTERSECT (a second checkpoint job per commit in range) plus
      // four semi/anti joins (each rebuilding its broadcast per
      // consuming action) computed the same four tags. NULL keys
      // never pair (the joins' SQL equality): only rows with every
      // key column non-null are pair-eligible.
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{max, when}
      val w = Window.partitionBy(
        (col("_commit_version") +: effKeys.map(col)): _*)
      val nn = effKeys.map(col(_).isNotNull).reduce(_ && _)
      val paired = nn &&
        max(when(col("_change_type") === "delete", 1).otherwise(0))
          .over(w) === 1 &&
        max(when(col("_change_type") === "insert", 1).otherwise(0))
          .over(w) === 1
      all.withColumn("_change_type",
        when(paired && col("_change_type") === "delete",
          lit("update_preimage"))
          .when(paired && col("_change_type") === "insert",
            lit("update_postimage"))
          .otherwise(col("_change_type")))
    }
    else { // empty range: the empty feed with the table's schema
      val any = entriesAt(toVersion)
      require(any.nonEmpty,
        s"changes: version $toVersion of $dir holds no files")
      val base =
        if (rowIdKeyed)
          RowTracking.withIds(spark, dir, any, schemaVersion = schemaV,
            pinOpt = pinOverride)
        else readEntries(spark, dir, any, schemaVersion = schemaV,
          pinOverride = pinOverride)
      base.limit(0)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0))
    }
  }

  /** The retained commit history as a DataFrame — (version, n_adds,
    * n_removes, txn) per commit, newest first. The observability
    * surface a DESCRIBE HISTORY serves: what changed when, which
    * epochs landed, where the retention horizon sits.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val rows = versions(spark, dir).sorted.reverse.map { v =>
      val (a, r, txn) = readVersion(spark, dir, v)
      (v, readVersionOp(spark, dir, v).orNull, a.length, r.length,
        txn.orNull,
        new java.sql.Timestamp(commitTimeMillis(spark, dir, v)))
    }
    import spark.implicits._
    rows.toDF("version", "operation", "n_adds", "n_removes", "txn", "ts")
  }

  /** Roll the table BACK to `version`'s state — as a NEW commit (the
    * history stays intact; the bad versions remain inspectable until
    * vacuum). Works for any version whose files are still retained:
    * restore is pure log arithmetic, no data moves.
    */
  def restore(spark: SparkSession, dir: String, version: Int): Int = {
    val target = liveEntries(spark, dir, version)
    val current = liveEntries(spark, dir)
    val currentByName = current.map(e => e.name -> e).toMap
    val targetNames = target.map(_.name).toSet
    val fs = Compact.fsOf(spark, dir)
    val missing = target
      .filterNot(e => fs.exists(new Path(dataPathOf(dir, e)))).map(_.name) ++
      target.filter(_.dv.isDefined)
        .filterNot(e => fs.exists(new Path(dvPathOf(dir, e)))).flatMap(_.dv)
        .distinct
    require(missing.isEmpty,
      s"restore to $version impossible: ${missing.size} files vacuumed (${missing.take(3).mkString(", ")}…)")
    // re-ADD any entry that differs (name newly live, or same name
    // with a different DV/stats); REMOVE names no longer live — the
    // fold overwrites by name, so a changed entry needs no remove
    val v = commitEntries(spark, dir,
      adds = target.filter(e => !currentByName.get(e.name).contains(e))
        .sortBy(_.name),
      removes = current.map(_.name).filterNot(targetNames).sorted,
      op = Some(s"restore(v$version)"))
    // the schema follows the data: restoring below a rename / drop /
    // evolution re-pins THAT version's schema at the new commit, so
    // the restored rows read under their own names and width (pure
    // metadata under column mapping — physical names never moved)
    val pinThen = tableSchema(spark, dir, version)
    if (pinThen.isDefined && pinThen != tableSchema(spark, dir))
      setTableSchema(spark, dir, pinThen.get, v)
    v
  }

  /** ZERO-COPY SHALLOW CLONE: create a new log-managed table at
    * `dstDir` whose v0 re-ADDs the source's live entries at `version`
    * (default: current) rebased onto the source root — no data file
    * is read or copied; the clone is one metadata commit regardless
    * of table size (Delta's `CREATE TABLE … SHALLOW CLONE` semantics,
    * re-derived on [[AddEntry]]'s `base`/`dvBase` seams). From then
    * on the two tables diverge freely:
    *
    *   - clone reads resolve based entries under the source root
    *     ([[readEntries]]' per-root scan groups);
    *   - any rewrite in the clone (CoW delete/merge/compact, DV
    *     attach, MOR upsert) LOCALIZES what it touches — replacement
    *     files and new sidecars land under the clone root, removes
    *     key on entry names; the source is never written;
    *   - the clone's [[vacuum]] deletes only files under its own root
    *     (based entries' bytes belong to the source and are not in
    *     the clone's on-disk sweep set).
    *
    * The one cross-table liability — same as Delta's: VACUUMING THE
    * SOURCE can reclaim files a clone still references. Pin the
    * cloned version with a source tag ([[setTag]] keeps a tagged
    * version's files past any retention count) for as long as the
    * clone must outlive the source's churn.
    *
    * Config travels: the effective schema pin (dir-wide AND per-table
    * for [[DbLog]] databases), stats/partition columns, CHECK
    * constraints, and the hidden-partitioning spec + history. Tags,
    * branches and replication cursors do NOT — they name source
    * versions, which the clone's own history does not contain.
    *
    * 100 TB shape: cost is O(live entries) log metadata — cloning a
    * 10-PB table writes one version file; first divergent write pays
    * only its own cost. Returns the clone's initial version (0).
    */
  /** `pinSource` closes the documented source-vacuum liability at
    * clone time: the cloned version gets a source TAG named
    * `clone.<dst-basename>.<path-hash>` (deterministic, collision-
    * resistant across same-named clones), which [[vacuum]] keeps
    * reconstructable — files and log entries — past any retention
    * count. Drop the tag ([[deleteTag]]) when the clone detaches
    * ([[localize]]) or dies.
    */
  def cloneTo(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      version: Int = Int.MaxValue,
      pinSource: Boolean = false): Int = {
    require(exists(spark, srcDir), s"cloneTo: $srcDir is not TxLog-managed")
    require(!exists(spark, dstDir),
      s"cloneTo: $dstDir is already TxLog-managed")
    require(branchOf(srcDir).isEmpty && branchOf(dstDir).isEmpty,
      "cloneTo: clone main scopes (branch a table with createBranch " +
        "for same-table isolation)")
    val fs = Compact.fsOf(spark, dstDir)
    require(!fs.exists(new Path(dstDir)) ||
      Compact.dataFilesRecursive(fs, dstDir).isEmpty,
      s"cloneTo: $dstDir already holds data files")
    val srcQ = qualifyAbs(spark, srcDir)
    require(qualifyAbs(spark, dstDir) != srcQ,
      "cloneTo: source and destination are the same path")
    val v =
      if (version == Int.MaxValue) currentVersion(spark, srcDir) else version
    // a clone of a clone keeps the ORIGINAL roots — entries point at
    // wherever the bytes actually are, never through a chain
    val entries = liveEntries(spark, srcDir, v).map { e =>
      e.copy(
        base = Some(e.base.getOrElse(srcQ)),
        dvBase = if (e.dv.isDefined) Some(e.dvBase.getOrElse(srcQ)) else None)
    }
    fs.mkdirs(logPath(dstDir))
    // version-independent config files travel verbatim (incl. the
    // per-table `stats_cols.<t>.txt` / `constraints.<t>.txt` a DbLog
    // database keeps, and PartitionTransforms' spec + history)
    metaList(spark, srcDir, "").filter { n =>
      n == StatsColsName || n == PartitionColsName ||
        n == ClusterColsName || n == CheckpointEveryName ||
        n == ConstraintsName || n == "partitioning.txt" ||
        n == "partitioning.history.txt" ||
        (n.startsWith("stats_cols.") && n.endsWith(".txt")) ||
        (n.startsWith("constraints.") && n.endsWith(".txt"))
    }.foreach(n =>
      metaRead(spark, srcDir, n).foreach(metaWrite(spark, dstDir, n, _)))
    // row tracking travels: the clone inherits entries whose rowBase
    // ranges the SOURCE ledger issued — seed the clone's ledger at the
    // source's water so the clone's own allocations never collide
    if (RowTracking.enabled(spark, srcDir)) {
      metaWrite(spark, dstDir, "rowtracking.txt", "on")
      RowTracking.seedLedger(spark, dstDir,
        RowTracking.currentWater(spark, srcDir))
    }
    // schema pins are version-keyed: re-key the pin IN EFFECT at the
    // cloned version to the clone's v0 (older source pins are source
    // history, not the clone's)
    tableSchema(spark, srcDir, v)
      .foreach(sc => setTableSchema(spark, dstDir, sc, version = 0))
    val pinTables = metaList(spark, srcDir, "schema.").flatMap { n =>
      val core = n.stripPrefix("schema.").stripSuffix(".json")
      val i = core.lastIndexOf('.')
      if (i > 0 && core.substring(i + 1).matches("\\d{8}"))
        Some(core.substring(0, i))
      else None
    }.distinct
    pinTables.foreach { t =>
      val pfx = s"schema.$t."
      val pins = metaList(spark, srcDir, pfx).flatMap { n =>
        val core = n.stripPrefix(pfx).stripSuffix(".json")
        if (core.matches("\\d{8}")) Some(core.toInt) else None
      }.filter(_ <= v)
      if (pins.nonEmpty)
        metaRead(spark, srcDir, f"$pfx${pins.max}%08d.json")
          .foreach(metaWrite(spark, dstDir, pfx + f"${0}%08d.json", _))
    }
    require(writeVersion(spark, dstDir, 0, entries, Nil,
      op = Some(s"clone($srcQ@v$v)")),
      s"cloneTo: could not claim v0 in $dstDir")
    metaWrite(spark, dstDir, "clone_source.txt", s"$srcQ\n$v")
    if (pinSource) {
      val base = new Path(dstDir).getName.replaceAll("[^A-Za-z0-9_.-]", "_")
      val h = Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(qualifyAbs(spark, dstDir)))
      setTag(spark, srcDir, s"clone.$base.$h", v)
    }
    0
  }

  /** Where this table was cloned from — `(source root, source
    * version)` — None for a table that was never a clone. Provenance
    * only; nothing resolves through it (entries carry their own
    * roots).
    */
  def cloneSource(spark: SparkSession, dir: String): Option[(String, Int)] =
    metaRead(spark, dir, "clone_source.txt").map { b =>
      val lines = b.linesIterator.toList
      (lines.head, lines(1).trim.toInt)
    }

  final case class LocalizeReceipt(
      localized: Long,
      bytesCopied: Long,
      written: Long,
      alreadyLocal: Long)

  /** DETACH a shallow clone from its source: copy every still-based
    * entry's LIVE rows into clone-local files (bin-packed to
    * `targetBytes`, partition tree preserved, deletion vectors folded
    * in as the copy is made) in ONE staged commit — after which the
    * table references nothing outside its root and the source can be
    * vacuumed or deleted freely. This is the incremental completion
    * of a deep clone: pay the copy only when source retirement looms,
    * and only for the entries DML hasn't already localized.
    *
    * 100 TB shape: cost is O(still-based bytes) — the deep-clone copy
    * you deferred, minus everything that localized for free along the
    * way; per-partition commits would bound job size further (run
    * [[Compact.binPack]]-style maintenance per partition before
    * detaching if one commit's staging is too large).
    */
  def localize(
      spark: SparkSession,
      dir: String,
      targetBytes: Long = 128L << 20): LocalizeReceipt = {
    require(exists(spark, dir), s"localize: $dir is not TxLog-managed")
    val entries = liveEntries(spark, dir)
    val based = entries.filter(_.base.isDefined)
    if (based.isEmpty)
      return LocalizeReceipt(0, 0, 0, entries.size.toLong)
    val bytes = based.map { e =>
      val p = new Path(dataPathOf(dir, e))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getLen
    }.sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // DVs fold in via the read; a tracked table materializes its row
    // ids first (folding a vector shifts positions — the copied rows
    // must carry their ids, not re-derive them)
    val df = stagePhysical(spark, dir,
      RowTracking.attachForRewrite(spark, dir, based)
        .getOrElse(readEntries(spark, dir, based)))
    val pcols = graft.ops.DeleteWhere.partitionColsOf(based.map(_.name))
    val written =
      if (pcols.nonEmpty)
        Compact.stageRewriteHive(spark, dir, based.map(_.name),
          p => df.repartition(nOut).write
            .partitionBy(pcols: _*).mode("overwrite").parquet(p),
          allowDvOlds = true, op = Some("localize"))
      else
        Compact.stageRewrite(spark, dir, based.map(_.name),
          p => df.repartition(nOut).write.mode("overwrite").parquet(p),
          allowDvOlds = true, op = Some("localize"))
    LocalizeReceipt(
      localized = based.size.toLong,
      bytesCopied = bytes,
      written = written.size.toLong,
      alreadyLocal = (entries.size - based.size).toLong)
  }

  /** Reclaim disk: delete data files whose last reference is a version
    * older than the `retainVersions` most recent ones. Snapshot reads
    * at vacuumed versions fail; everything newer is untouched. With
    * `pruneLog` (default), the log itself is bounded too: a checkpoint
    * is pinned at the retention horizon (carrying the cumulative txn
    * ids, so replay probes keep working) and version/checkpoint files
    * OLDER than it are dropped — the log stays O(retained versions),
    * not O(table lifetime). Returns the number of data files deleted.
    * Idempotent.
    *
    * Files the log NEVER knew (a writer that crashed after staging its
    * rewrite but before its commit) are retained by default — the
    * sweep can't tell a crashed writer's leavings from an in-flight
    * one's just-moved files. `sweepOrphansOlderThanMs` opts into
    * reclaiming them once they are older than the window (Delta's
    * untracked-file vacuum rule): any writer still alive after, say, a
    * day without committing is assumed dead. Pick a window longer than
    * your longest possible write job.
    */
  /** [[vacuum]] with a TIME horizon instead of a version count — the
    * Delta `RETAIN n HOURS` contract: every version whose commit file
    * is younger than `retainMs` stays reconstructable (plus the
    * current one, always). Converts the age cutoff to a version count
    * from the commit files' own modification times, then delegates.
    */
  def vacuumOlderThan(
      spark: SparkSession,
      dir: String,
      retainMs: Long,
      pruneLog: Boolean = true,
      sweepOrphansOlderThanMs: Long = -1L,
      dvSweepAgeMs: Long = 3600L * 1000): Long = {
    val cutoff = System.currentTimeMillis() - retainMs
    // in-commit stamps, not mtimes: a migrated/rsync'd log must not
    // have its whole history look freshly-written (nothing would ever
    // be reclaimable) or freshly-copied-old (everything would)
    val young = versions(spark, dir)
      .count(v => commitTimeMillis(spark, dir, v) >= cutoff)
    vacuum(spark, dir, retainVersions = math.max(1, young),
      pruneLog, sweepOrphansOlderThanMs, dvSweepAgeMs)
  }

  def vacuum(
      spark: SparkSession,
      dir: String,
      retainVersions: Int,
      pruneLog: Boolean = true,
      sweepOrphansOlderThanMs: Long = -1L,
      dvSweepAgeMs: Long = 3600L * 1000,
      dryRun: Boolean = false): Long = {
    require(branchOf(dir).isEmpty, "vacuum: run from main scope")
    val fs = Compact.fsOf(spark, dir)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"$dir is not TxLog-managed")
    // tagged versions stay reconstructable past any retention count:
    // folding them into `keep` protects both their files (referenced
    // set) and their log entries (prune horizon = keep.min). A live
    // branch pins its BASE the same way — publish validates against
    // base entries, which must outlive any vacuum that runs while
    // the branch is open.
    val bs = branches(spark, dir)
    val keep = (vs.takeRight(math.max(1, retainVersions)) ++
      tags(spark, dir).values.filter(vs.contains) ++
      bs.values.filter(vs.contains)).distinct.sorted
    // branch commits reference staged files main never logged — both
    // sets below must count them or the sweep deletes live branch data
    val branchLive: Seq[AddEntry] = bs.keys.toSeq.flatMap(n =>
      withBranch(spark, dir, n)(liveEntries(spark, dir)))
    val branchEver: Set[String] = bs.keys.toSeq.flatMap { n =>
      withBranch(spark, dir, n) {
        versions(spark, dir).flatMap { v =>
          val (a, r, _) = readVersion(spark, dir, v); a ++ r
        }
      }
    }.toSet
    val referenced = keep.flatMap(v => liveFiles(spark, dir, v)).toSet ++
      branchLive.map(_.name)
    val onDiskStatuses = Compact.dataFileStatusesRecursive(fs, dir)
    val onDisk = onDiskStatuses.map(_._1)
    // only files the LOG ever knew can be deleted: an in-flight
    // writer's just-moved files (commit pending) are not yet in any
    // version and must survive the sweep
    val everLogged = vs.flatMap { v =>
      val (a, r, _) = readVersion(spark, dir, v); a ++ r
    }.toSet ++ branchEver
    val orphanHorizon =
      if (sweepOrphansOlderThanMs < 0) Long.MinValue
      else System.currentTimeMillis() - sweepOrphansOlderThanMs
    val statuses = onDiskStatuses
      .map { case (n, st) => n -> st.getModificationTime }.toMap
    val dead = onDisk.filter { f =>
      if (everLogged(f)) !referenced(f)
      else statuses.getOrElse(f, Long.MaxValue) < orphanHorizon
    }
    // dry run: the would-delete count with NOTHING touched — the
    // answer to "what does this retention policy cost me" before
    // committing to it
    if (dryRun) return dead.length.toLong
    dead.foreach(f => fs.delete(new Path(dir, f), false))
    // crashed writers' private stage dirs — never referenced, age-gated
    Compact.sweepStaleStages(spark, dir, ageMs = 3600L * 1000)
    // DV sidecars: one no retained version references is dead (its
    // files were materialized, re-deleted past it, or fell behind the
    // horizon). Age-gated like the claim temps so an in-flight DV
    // writer's seconds-old sidecar (written before its commit)
    // survives the sweep.
    val dvDirPath = new Path(dir, DvDirName)
    if (fs.exists(dvDirPath)) {
      val referencedDvs = keep
        .flatMap(v => liveEntries(spark, dir, v).flatMap(_.dv)).toSet ++
        branchLive.flatMap(_.dv)
      val dvStale = System.currentTimeMillis() - dvSweepAgeMs
      fs.listStatus(dvDirPath).toSeq
        .filter(f => f.isFile && !referencedDvs(f.getPath.getName) &&
          f.getModificationTime < dvStale)
        .foreach(f => fs.delete(f.getPath, false))
    }
    // change-data sidecars: referenced by the CDC lines of commits
    // that will SURVIVE the prune (≥ the horizon) — everything else
    // (pre-horizon feeds, crashed writers' orphans) is dead, with the
    // same age gate protecting an in-flight writer's seconds-old file
    val cdcDirPath = new Path(dir, CdcDirName)
    if (fs.exists(cdcDirPath)) {
      val horizon = keep.min
      val referencedCdc =
        vs.filter(_ >= horizon).flatMap(v => readVersionCdc(spark, dir, v))
          .toSet ++
        bs.keys.toSeq.flatMap(n => withBranch(spark, dir, n)(
          versions(spark, dir).flatMap(v => readVersionCdc(spark, dir, v))))
      val cdcStale = System.currentTimeMillis() - dvSweepAgeMs
      fs.listStatus(cdcDirPath).toSeq
        .filter(f => f.isFile && !referencedCdc(f.getPath.getName) &&
          f.getModificationTime < cdcStale)
        .foreach(f => fs.delete(f.getPath, false))
    }
    val h = keep.min
    if (pruneLog && vs.exists(_ < h)) {
      // the horizon checkpoint makes every older log entry redundant —
      // write it BEFORE dropping anything, so a crash mid-prune still
      // reconstructs every retained version
      writeCheckpointAt(spark, dir, h)
      vs.filter(_ < h).foreach(v =>
        fs.delete(new Path(logPath(dir), versionName(v)), false))
      checkpoints(spark, dir).filter(_ < h).foreach(c =>
        fs.delete(new Path(logPath(dir), checkpointName(c)), false))
      // crashed writers' claim temps (atomicClaim removes its temp on
      // both outcomes, so any .tmp here is from a dead process) — an
      // age gate keeps an in-flight writer's seconds-old temp safe
      val stale = System.currentTimeMillis() - 3600L * 1000
      fs.listStatus(logPath(dir)).toSeq
        .filter(f => f.getPath.getName.endsWith(".tmp") &&
          f.getModificationTime < stale)
        .foreach(f => fs.delete(f.getPath, false))
      // identity + row-tracking ledgers: only the newest entry is ever
      // read, and an in-flight allocator claims strictly above it
      IdentityColumns.pruneLedger(spark, dir)
      RowTracking.pruneLedger(spark, dir)
    }
    dead.length.toLong
  }

  private def writeVersion(
      spark: SparkSession,
      dir: String,
      v: Int,
      adds: Seq[AddEntry],
      removes: Seq[String],
      txn: Option[String] = None,
      op: Option[String] = None,
      cdc: Seq[String] = Nil): Boolean = {
    val fs = Compact.fsOf(spark, dir)
    // IN-COMMIT TIMESTAMP (Delta's inCommitTimestamps): the commit's
    // wall-clock time rides INSIDE the commit file, forced strictly
    // past the parent's, so TIMESTAMP AS OF and startingTimestamp
    // order by the log's own record — file mtimes don't survive an
    // rsync/DistCp/object-store migration of the log directory, and
    // a clock that ticks backward between two commits would make
    // time travel non-monotonic. One head-read of the parent commit
    // per attempt; pre-stamp commits fall back to mtime on read.
    val parentTs =
      if (v > 0)
        try commitTimeMillis(spark, dir, v - 1)
        catch { case _: Exception => 0L }
      else 0L
    val ts = math.max(System.currentTimeMillis(), parentTs + 1)
    val body = (Seq("V1", s"TS $ts") ++
      txn.map("TXN " + _) ++
      op.map("OP " + _) ++
      cdc.sorted.map("CDC " + _) ++
      adds.sortBy(_.name).map("ADD " + _.serialized) ++
      removes.sorted.map("REMOVE " + _) ++
      Seq("END")).mkString("\n")
    val dest = versionFilePath(dir, v)
    val tmp = new Path(logPath(dir),
      s".${dest.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    atomicClaim(fs, tmp, dest)
  }

  /** Atomically claim `dest` with `tmp`'s content: true = this writer
    * owns the name, false = a racer already landed it. An exists-check
    * + `FileSystem.rename` is a TOCTOU here: RawLocalFileSystem's
    * rename is POSIX `rename(2)`, which OVERWRITES an existing
    * destination, so two concurrent committers could both "succeed"
    * and one commit would be silently lost — the exact lost update the
    * conflict check exists to prevent. The primitives that really are
    * atomic: on `file:` schemes, `link(2)` (EEXIST is decided in the
    * kernel); on HDFS-like filesystems, `FileContext.rename` with
    * `Options.Rename.NONE` — an atomic no-overwrite rename at the
    * NameNode, the HDFSLogStore discipline log-backed formats use.
    * Object stores with no atomic no-overwrite primitive (raw S3)
    * need external coordination for the claim — the standard
    * single-writer bound there.
    */
  private[ops] def atomicClaim(fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path, dest: Path): Boolean = {
    val claimed =
      if (fs.getScheme == "file") {
        val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
        val d = java.nio.file.Paths.get(fs.makeQualified(dest).toUri.getPath)
        try { java.nio.file.Files.createLink(d, t); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          fs.getUri, fs.getConf)
        try {
          fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.NONE); true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      }
    fs.delete(tmp, false)
    claimed
  }

  private def readVersion(
      spark: SparkSession,
      dir: String,
      v: Int): (Seq[String], Seq[String], Option[String]) = {
    val (adds, removes, txn) = readVersionEntries(spark, dir, v)
    (adds.map(_.name), removes, txn)
  }

  /** The change-data sidecar names commit `v` recorded (empty for
    * pre-CDC commits and commits that hid nothing) — the feed's
    * removed-side source for DV-grown entries.
    */
  private[ops] def readVersionCdc(
      spark: SparkSession, dir: String, v: Int): Seq[String] = {
    val fs = Compact.fsOf(spark, dir)
    val in = fs.open(versionFilePath(dir, v))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.collect { case l if l.startsWith("CDC ") => l.substring(4) }
  }

  private def readVersionOp(
      spark: SparkSession, dir: String, v: Int): Option[String] = {
    val fs = Compact.fsOf(spark, dir)
    val in = fs.open(versionFilePath(dir, v))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.collectFirst { case l if l.startsWith("OP ") => l.substring(3) }
  }

  private def readVersionEntries(
      spark: SparkSession,
      dir: String,
      v: Int): (Seq[AddEntry], Seq[String], Option[String]) = {
    val fs = Compact.fsOf(spark, dir)
    val in = fs.open(versionFilePath(dir, v))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    require(lines.headOption == Some("V1") && lines.lastOption == Some("END"),
      s"torn txlog version $v in $dir")
    (lines.collect { case l if l.startsWith("ADD ") =>
      parseEntry(l.substring(4)) },
      lines.collect { case l if l.startsWith("REMOVE ") => l.substring(7) },
      lines.collectFirst { case l if l.startsWith("TXN ") => l.substring(4) })
  }
}
