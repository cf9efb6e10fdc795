package emibench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.TableStore

/** A `TableStore` that forwards every member to `inner`, each call
  * inside a `sources.read` or `sources.write` span. Handed to
  * `EmissionEtl` as its `storeOpt`, it shows the warehouse traffic of
  * one load without touching the program.
  */
final class TracedStore(inner: TableStore, tr: Tracer) extends TableStore {
  private def rd[T](body: => T): T = tr.span("sources.read")(body)
  private def wr[T](body: => T): T = tr.span("sources.write")(body)

  def spark: SparkSession = inner.spark
  def exists(name: String): Boolean = rd(inner.exists(name))
  def read(name: String): DataFrame = rd(inner.read(name))
  override def read(name: String, schema: StructType): DataFrame =
    rd(inner.read(name, schema))
  def overwrite(df: DataFrame, name: String): Unit = wr(inner.overwrite(df, name))
  def overwritePartitioned(df: DataFrame, name: String, partitionCol: String): Unit =
    wr(inner.overwritePartitioned(df, name, partitionCol))
  def appendKeyed(df: DataFrame, name: String, key: String): Unit =
    wr(inner.appendKeyed(df, name, key))
  def appendPartitioned(df: DataFrame, name: String, partitionCol: String): Unit =
    wr(inner.appendPartitioned(df, name, partitionCol))
  override def compact(name: String, partitionCol: String, targetFileBytes: Long): Int =
    wr(inner.compact(name, partitionCol, targetFileBytes))
  def rewritePartitioned(df: DataFrame, name: String, partitionCol: String,
      sourceValues: Seq[String]): Unit =
    wr(inner.rewritePartitioned(df, name, partitionCol, sourceValues))
  override def markerHolder(table: String): Option[String] =
    rd(inner.markerHolder(table))
  override def markerSet(table: String, token: String): Unit =
    wr(inner.markerSet(table, token))
  override def markerClear(table: String): Unit = wr(inner.markerClear(table))
}
