package emibench

import java.nio.file.Paths

/** `Train <dir>`: the build's class-archive training run. It runs the
  * first two cycles of every workload (seed 0) and exits normally, so
  * the JVM can write the classes it loaded into the archive that every
  * measured run starts from. Not a measurement.
  */
object Train {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0))
    val codes = Workload.all.keys.toSeq.sorted.map(w =>
      Main.measure(Main.Opts(w, 0, trace = false, dir.resolve(w)), limit = 2))
    System.exit(codes.max)
  }
}
