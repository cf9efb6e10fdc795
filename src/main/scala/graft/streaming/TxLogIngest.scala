package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Row}

import graft.ops.TxLog

/** Streaming append into a [[TxLog]]-managed table — the
  * `foreachBatch` member of the sink family that lands raw fact/event
  * batches as committed log versions. Each micro-batch writes its
  * files to a hidden stage, moves them in, and commits one version
  * carrying the epoch as its transaction id; snapshot readers see each
  * epoch atomically (all of its files or none), never a half-written
  * batch — the property a plain `mode("append")` parquet sink lacks.
  *
  * Exactly-once under replay: Structured Streaming re-delivers a
  * failed epoch with the SAME batchId, and the sink probes
  * [[TxLog.txnCommitted]] before writing — a replayed epoch whose
  * commit landed is a no-op, and one that died before its commit left
  * only orphan files no snapshot references (vacuum-safe, invisible).
  *
  * The compounding win: the committed table is the file-surgery
  * operators' substrate, so [[graft.ops.Compact]] can continually
  * bin-pack the epoch tail and [[graft.ops.DeleteWhere]]/[[graft.ops
  * .UpsertWhere]] run retention/corrections against it, all through
  * the same log, all without disturbing a concurrent reader's pinned
  * snapshot.
  */
object TxLogIngest {

  /** foreachBatch function appending each micro-batch to the log-
    * managed table at `dir`, creating (an empty v0) on first use.
    * `compactEvery` > 0 additionally bin-packs the small-file tail
    * after every that-many epochs — steady-state maintenance riding
    * the same sink.
    */
  def appendSink(
      dir: String,
      compactEvery: Int = 0,
      compactTargetBytes: Long = 128L << 20):
      (Dataset[Row], Long) => Unit =
    (batch: Dataset[Row], epoch: Long) => {
      val spark = batch.sparkSession
      if (!TxLog.exists(spark, dir)) TxLog.convert(spark, dir)
      val txn = s"epoch_$epoch"
      if (!TxLog.txnCommitted(spark, dir, txn)) {
        val assigned = graft.ops.GeneratedColumns.fill(spark, dir,
          graft.ops.DefaultColumns.fill(spark, dir,
            graft.ops.IdentityColumns.maybeAssign(spark, dir, batch.toDF())))
        TxLog.enforceConstraints(spark, dir, assigned)
        val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val stage = new Path(dir, ".append_stage")
        fs.delete(stage, true)
        TxLog.stagePhysical(spark, dir, assigned)
          .write.mode("overwrite").parquet(stage.toString)
        val names = fs.listStatus(stage).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .map(_.getPath.getName).sorted
        names.foreach { n =>
          if (!fs.rename(new Path(stage, n), new Path(dir, n)))
            throw new java.io.IOException(s"txlog append: cannot move $n into $dir")
        }
        fs.delete(stage, true)
        TxLog.commit(spark, dir, adds = names, removes = Nil, txn = Some(txn),
          op = Some("stream-append"), frameSchema = Some(assigned.schema))
      }
      if (compactEvery > 0 && (epoch + 1) % compactEvery == 0) {
        graft.ops.Compact.binPack(spark, dir,
          targetBytes = compactTargetBytes, smallBytes = compactTargetBytes / 4)
        TxLog.checkpoint(spark, dir)
      }
      ()
    }

  /** foreachBatch MERGE sink — streaming CDC applied through the
    * merge-on-read upsert ([[graft.ops.DeletionVectors.upsert]]):
    * each epoch nets to key-unique rows (last by `seqCol` when given
    * — the applyChanges SEQUENCE-BY contract), hides its matched
    * keys' current positions behind one vector, appends the batch as
    * fresh files, and lands ONE epoch-stamped commit — exactly-once
    * under replay via the same [[TxLog.txnCommitted]] probe, with
    * O(batch) write bytes per epoch no matter how many TB the keyed
    * table holds. `materializeEvery` > 0 folds accrued vectors past
    * 20% tombstones after every that-many epochs — the read-tax
    * maintenance riding the sink, like `compactEvery` on the append
    * sink.
    *
    * Measured (3M rows / 256 files, 20 epochs of ~2k SCATTERED key
    * updates each — every file hit every epoch, copy-on-write's worst
    * case): after 20 epochs the MOR table directory holds 43 MB (the
    * 40 MB base + 1.7 MB of sidecars + the appended batches) vs
    * 798 MB under UpsertWhere copy-on-write (~the whole table
    * rewritten per epoch), at wall parity (~3 s/epoch both — the
    * position scan and the rewrite read the same candidates; the 18×
    * write-amplification gap is what object-store egress and file
    * churn price). Snapshot read after 20 unfolded epochs: 2.2 s vs
    * 1.3 s folded.
    */
  def mergeSink(
      dir: String,
      keyCols: Seq[String],
      seqCol: Option[String] = None,
      materializeEvery: Int = 0,
      evolveSchema: Boolean = false,
      compactEvery: Int = 0,
      compactTargetBytes: Long = 128L << 20):
      (Dataset[Row], Long) => Unit =
    (batch: Dataset[Row], epoch: Long) => {
      val spark = batch.sparkSession
      if (!TxLog.exists(spark, dir)) TxLog.convert(spark, dir)
      import org.apache.spark.sql.functions.{col, row_number, desc}
      import org.apache.spark.sql.expressions.Window
      // one materialization: the netted batch feeds the key probe,
      // the id inheritance and the staged append inside the upsert —
      // each its own action re-running the source scan (+ the netting
      // window) on a plan Spark cannot cache across jobs. A micro-
      // batch is churn-sized by construction, so pinning it is cheap.
      val netted = (seqCol match {
        case None => batch.toDF()
        case Some(sc) =>
          val w = Window.partitionBy(keyCols.map(col): _*)
            .orderBy(desc(sc))
          batch.toDF().withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn", sc)
      }).localCheckpoint()
      if (TxLog.liveFiles(spark, dir).isEmpty) {
        // first data: nothing to merge against — the plain append
        // path is the epoch (still stamped)
        appendSink(dir)(netted, epoch)
      } else {
        graft.ops.DeletionVectors.upsert(spark, dir, netted, keyCols,
          txn = Some(s"epoch_$epoch"), evolveSchema = evolveSchema)
      }
      if (materializeEvery > 0 && (epoch + 1) % materializeEvery == 0) {
        graft.ops.DeletionVectors.materializeWhere(spark, dir, 0.2)
        TxLog.checkpoint(spark, dir)
      }
      // the appended-batch tail accumulates small files exactly like
      // the append sink's epochs; binPack skips any that have since
      // gained a vector (materializeEvery folds those)
      if (compactEvery > 0 && (epoch + 1) % compactEvery == 0) {
        graft.ops.Compact.binPack(spark, dir,
          targetBytes = compactTargetBytes, smallBytes = compactTargetBytes / 4)
        TxLog.checkpoint(spark, dir)
      }
      ()
    }
}
