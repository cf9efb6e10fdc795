package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import graft.ops.RelationalOps

/** Staged upsert on a parquet table — the Spark realization of the
  * reference's aspirational COPY-to-temp / DELETE USING / INSERT
  * transaction (SURVEY §2.1 S9, upsert_query.text:1-9).
  *
  * Semantics: MERGE by key — rows of `updates` replace existing rows
  * with the same key tuple; unmatched update rows append. Implemented
  * as anti-join(existing ⟍ updates) ∪ updates, written to a staging
  * directory and atomically swapped into place (rename), so readers
  * never observe a half-written table and a crash leaves either the
  * old or the new table, never a mix.
  *
  * At 100 TB the rewrite should be bounded to matched partitions
  * (partition-overwrite) or a transactional-log format; the staged
  * swap here is the correct whole-table primitive the partitioned
  * variant composes from.
  *
  * Returns the merged table's row count, observed while the stage is
  * written (an [[Observation]] on the write), so no job re-reads the
  * stage to count it.
  */
object ParquetUpsert {

  def mergeByKey(
      spark: SparkSession,
      tablePath: String,
      updates: DataFrame,
      keys: Seq[String]): Long = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(tablePath)
    val stage = new Path(tablePath + "__stage")
    val old = new Path(tablePath + "__old")

    val merged =
      if (fs.exists(target)) {
        val existing = spark.read.parquet(tablePath)
        RelationalOps.antiJoinNew(existing, updates, keys)
          .unionByName(updates.select(existing.columns.map(col): _*))
      } else updates

    fs.delete(stage, true)
    // read only after the write returns: a failed write never completes
    // the observation, and the exception propagates before any wait
    val rows = Observation()
    merged.observe(rows, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(stage.toString)
    val n = rows.get("n").asInstanceOf[Long]

    // atomic publish: target → old, stage → target, drop old
    fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"cannot stage out $target")
    if (!fs.rename(stage, target)) {
      fs.rename(old, target) // roll back
      throw new java.io.IOException(s"cannot publish $stage")
    }
    fs.delete(old, true)
    n
  }
}
