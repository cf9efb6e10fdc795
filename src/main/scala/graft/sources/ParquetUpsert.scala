package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{DataType, StructType}
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
  * stage to count it. The live table is read with the schema Spark
  * would infer for it, taken from one data file's footer on the
  * driver ([[footerSchema]]) instead of in an inference job.
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
        val existing = spark.read.schema(footerSchema(spark, fs, target)).parquet(tablePath)
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

  /** The schema `spark.read.parquet(dir)` infers with `mergeSchema`
    * off, read on the driver: the first data file's footer, its Spark
    * row metadata (the schema the writing session declared) when
    * present, else its parquet schema converted. Every file of a
    * table this object publishes comes from one write, so any one
    * footer speaks for all. The schema keeps every live column: a
    * batch that lacks one is still refused by the merge's select.
    */
  private def footerSchema(spark: SparkSession, fs: FileSystem, dir: Path): StructType = {
    val file = fs.listStatus(dir)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName).headOption
      .getOrElse(throw new java.io.IOException(s"no parquet data file under $dir"))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try {
      val meta = reader.getFooter.getFileMetaData
      Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
    } finally reader.close()
  }
}
