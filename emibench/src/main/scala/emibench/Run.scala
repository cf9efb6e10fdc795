package emibench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The timed part of one run: operations grouped into cycles. Every
  * call into the program is an operation; its result is checked
  * against the model after the clock stops. Times are CPU seconds of
  * the JVM's Java threads (the driver, Spark's task threads, the
  * listener bus; not the JIT compiler or the collector); wall seconds
  * are kept beside them for the run's log.
  */
final class Run(val spark: SparkSession, val counters: Counters, val tracer: Tracer) {
  var attempted = 0L
  var rowsOffered = 0L
  /** CPU seconds of every write operation, bulk load and extras included. */
  var writeCpu = 0.0
  /** Counter deltas summed over every timed operation. */
  var timed: Snap = Snap.Zero
  private var cycleCost = Cost.Zero
  /** What each cycle's write and read groups cost, in order. */
  val cycles = scala.collection.mutable.ArrayBuffer.empty[Cost]
  /** Spark jobs of every operation, in order. */
  val opJobs = scala.collection.mutable.ArrayBuffer.empty[Long]
  /** The most heap in use after a full collection at the end of a
    * cycle: the live data the cycles leave behind. Sampled in traced
    * runs only, since it forces a collection.
    */
  var liveHeapPeak = 0L
  /** Collector seconds the forced collections took. */
  var forcedGcS = 0.0

  private def op[T](kind: Run.Kind, rows: Long)(body: => T): T = {
    attempted += 1
    val s0 = counters.snap()
    val w0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - w0) / 1e9
    val d = counters.snap() - s0
    timed = timed + d
    opJobs += d.jobs
    val cpu = d.seconds
    kind match {
      case Run.Write => cycleCost = cycleCost.copy(writeCpu = cycleCost.writeCpu + cpu,
        writeWall = cycleCost.writeWall + wall)
      case Run.Read => cycleCost = cycleCost.copy(readCpu = cycleCost.readCpu + cpu,
        readWall = cycleCost.readWall + wall)
      case Run.Extra =>
    }
    if (kind != Run.Read) { writeCpu += cpu; rowsOffered += rows }
    r
  }

  /** A write operation of the cycle's write group, offering `rows` input rows. */
  def write[T](rows: Long)(body: => T): T = op(Run.Write, rows)(body)
  /** A write operation timed on its own, outside the cycle's write group
    * (maintenance, a re-delivery): it counts in `jobs` and the rows per
    * CPU second, not in the per-cycle medians.
    */
  def extra[T](rows: Long)(body: => T): T = op(Run.Extra, rows)(body)
  def read[T](body: => T): T = op(Run.Read, 0)(body)

  def cycle(body: => Unit): Unit = {
    cycleCost = Cost.Zero
    body
    cycles += cycleCost
    if (tracer.enabled) {
      val gc0 = Run.gcMillis
      System.gc()
      forcedGcS += (Run.gcMillis - gc0) / 1e3
      liveHeapPeak = math.max(liveHeapPeak, Run.heap.getHeapMemoryUsage.getUsed)
    }
  }
}

/** CPU and wall seconds of one cycle's write group and read group. */
final case class Cost(writeCpu: Double, readCpu: Double, writeWall: Double, readWall: Double)

object Cost { val Zero: Cost = Cost(0, 0, 0, 0) }

object Run {
  sealed trait Kind
  case object Write extends Kind
  case object Read extends Kind
  case object Extra extends Kind

  private val heap = ManagementFactory.getMemoryMXBean

  /** Milliseconds every collector has spent so far. */
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
}

/** A workload: inputs made in set-up, then a fixed schedule of cycles
  * on one warehouse or lake. Cycle 0 holds the bulk load; cycles 1 to
  * `cycles - 1` are alike, and their medians are the run's times.
  */
trait Workload {
  def cycles: Int
  /** Make and self-check the inputs and the model (plain JVM code only). */
  def prepare(seed: Long, dir: Path): Unit
  /** Cycle `c` on the warehouse or lake under `dir`. */
  def cycle(run: Run, c: Int, dir: Path): Unit
}

object Workload {
  val all: Map[String, () => Workload] = Map(
    "etl_daily" -> (() => new EtlDaily),
    "lake" -> (() => new Lake))

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
