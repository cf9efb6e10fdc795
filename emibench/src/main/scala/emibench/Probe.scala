package emibench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Cumulative counters at one instant. Spark counters come from the
  * benchmark's own listener and are only read after the listener bus
  * has drained. `threadCpuNs` is the CPU time of the JVM's Java
  * threads: the program's, Spark's and the benchmark's, not the JIT
  * compiler's or the collector's.
  */
final case class Snap(
    threadCpuNs: Long, jobs: Long, tasks: Long,
    readBytes: Long, readRecords: Long, shuffleBytes: Long,
    writeBytes: Long, cpuNs: Long, fsOps: Long) {
  def -(o: Snap): Snap = Snap(threadCpuNs - o.threadCpuNs,
    jobs - o.jobs, tasks - o.tasks, readBytes - o.readBytes,
    readRecords - o.readRecords, shuffleBytes - o.shuffleBytes,
    writeBytes - o.writeBytes, cpuNs - o.cpuNs, fsOps - o.fsOps)
  def +(o: Snap): Snap = Snap(threadCpuNs + o.threadCpuNs,
    jobs + o.jobs, tasks + o.tasks, readBytes + o.readBytes,
    readRecords + o.readRecords, shuffleBytes + o.shuffleBytes,
    writeBytes + o.writeBytes, cpuNs + o.cpuNs, fsOps + o.fsOps)
  /** CPU seconds of the Java threads. */
  def seconds: Double = threadCpuNs / 1e9
}

object Snap {
  val Zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU nanoseconds the process has used since it started. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

/** Spark job and task counters for the benchmark's own session. */
final class Counters(spark: SparkSession) extends SparkListener {
  private val jobs, tasks, readBytes, readRecords, shuffleBytes,
    writeBytes, cpuNs = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      readBytes.addAndGet(m.inputMetrics.bytesRead)
      readRecords.addAndGet(m.inputMetrics.recordsRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      writeBytes.addAndGet(m.outputMetrics.bytesWritten)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  spark.sparkContext.addSparkListener(this)

  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU time each live thread had at the last snapshot. */
  private var lastCpu: Map[Long, Long] = threadCpu()
  /** CPU time the Java threads used since this object was made. A
    * thread that ends between two snapshots loses what it used since
    * the first of them.
    */
  private var threadCpuNs = 0L

  private def threadCpu(): Map[Long, Long] =
    mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** Drain the bus, then read every counter. Called from one thread. */
  def snap(): Snap = {
    org.apache.spark.emibench.BusDrain(spark.sparkContext)
    val now = threadCpu()
    threadCpuNs += now.iterator.map { case (id, t) => t - lastCpu.getOrElse(id, 0L) }.sum
    lastCpu = now
    Snap(threadCpuNs, jobs.get, tasks.get, readBytes.get,
      readRecords.get, shuffleBytes.get, writeBytes.get, cpuNs.get,
      CountingLocalFs.ops.get)
  }
}

/** The local file system with a count of create, rename, delete, open
  * and list calls. Registered for the `file` scheme in traced runs
  * only.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs.ops
  override def create(f: Path, p: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet()
    super.create(f, p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    ops.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    ops.incrementAndGet(); super.delete(f, recursive)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ops.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    ops.incrementAndGet(); super.listStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    ops.incrementAndGet(); super.listStatusIterator(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    ops.incrementAndGet(); super.listLocatedStatus(f)
  }
}

object CountingLocalFs { val ops = new AtomicLong() }

/** Per-layer spans. A span wraps one call from the benchmark into a
  * layer's public function (and, for a call that returns a lazy
  * frame, the action that consumes it). Each layer accumulates its
  * SELF counters: the span's delta minus the deltas of the spans
  * nested inside it. Disabled, a span is just the call.
  */
final class Tracer(counters: Counters, val enabled: Boolean) {
  import Tracer._

  private final class Frame(val start: Snap) { var children: Snap = Snap.Zero }
  private var stack: List[Frame] = Nil
  private val acc = scala.collection.mutable.LinkedHashMap
    .empty[String, Acc] ++ Layers.map(_ -> new Acc)

  def span[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      require(acc.contains(layer), s"unknown layer $layer")
      val f = new Frame(counters.snap())
      stack = f :: stack
      try body
      finally {
        val total = counters.snap() - f.start
        stack = stack.tail
        stack.headOption.foreach(p => p.children = p.children + total)
        val a = acc(layer)
        a.self = a.self + (total - f.children)
        a.calls += 1
      }
    }

  /** Rows a layer's call delivered or changed (the numerator of its
    * useful ratio).
    */
  def useful(layer: String, rows: Long): Unit =
    if (enabled) acc(layer).usefulRows += rows

  /** A copy of every layer's accumulated counters. */
  def layers: Seq[(String, Acc)] = acc.toSeq.map { case (l, a) =>
    val c = new Acc; c.self = a.self; c.calls = a.calls; c.usefulRows = a.usefulRows; l -> c
  }
}

object Tracer {
  final class Acc {
    var self: Snap = Snap.Zero
    var calls: Long = 0
    var usefulRows: Long = 0
  }

  val Layers: Seq[String] = Seq(
    "etl.load", "etl.rollup", "etl.qa", "sources.write", "sources.read",
    "ops.commit", "ops.dml", "ops.mv", "ops.maintenance", "ops.snapshot",
    "ops.changes", "ops.mv_read", "plans.sql")

  /** Layers whose useful ratio is reported. */
  val RatioLayers: Seq[String] = Seq("ops.snapshot", "ops.dml")
}
