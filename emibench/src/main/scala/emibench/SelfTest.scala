package emibench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.EmissionEtl
import graft.sources.ParquetStore

/** The benchmark's own tests: `SelfTest <dir>`.
  *
  *  - the generators give byte-identical inputs for one seed;
  *  - every check passes on its true expectation and fails on a
  *    perturbed one;
  *  - a warehouse built through [[TracedStore]] is row-equal to one
  *    built through a bare `ParquetStore`.
  *
  * Whether `jobs` repeats across two runs of one seed is checked by
  * `run.py --selftest`, which needs two processes.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** `good` must pass and `bad` must throw [[CheckFailed]]. */
  private def rejects(what: String)(good: => Unit)(bad: => Unit): Unit = test(s"check rejects $what") {
    good
    val caught = try { bad; false } catch { case _: CheckFailed => true }
    if (!caught) throw new AssertionError(s"a perturbed expectation for $what passed")
  }

  private def bytesOf(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0))
    Files.createDirectories(dir)

    test("etl inputs are byte-identical for one seed and differ across seeds") {
      val a = dir.resolve("gen-a"); val b = dir.resolve("gen-b"); val c = dir.resolve("gen-c")
      val days = EtlInputs.generate(7)
      EtlInputs.selfCheck(days, EtlInputs.write(a, days))
      EtlInputs.write(b, EtlInputs.generate(7))
      EtlInputs.write(c, EtlInputs.generate(8))
      assert(bytesOf(a) == bytesOf(b), "same seed, different bytes")
      assert(bytesOf(a) != bytesOf(c), "different seeds, same bytes")
    }
    test("lake inputs are identical for one seed") {
      val s = new Lake().sizes
      val a = LakeInputs.generate(7, s)
      LakeInputs.selfCheck(a)
      assert(a == LakeInputs.generate(7, s) && a != LakeInputs.generate(8, s))
    }

    // expectations from the real models over generated inputs
    val days = EtlInputs.generate(11)
    val etl = new EtlModel
    val appended = days.map(etl.load)
    rejects("appended rows") {
      Check.equal("appended", appended(1), appended(1))
    } {
      Check.equal("appended", appended(1), appended(1).updated("cars", appended(1)("cars") + 1))
    }
    rejects("the re-delivered day appending rows") {
      Check.equal("appended", appended(EtlInputs.Redelivered).values.toSet, Set(0L))
    } {
      Check.equal("appended", appended(1).values.toSet, Set(0L))
    }
    rejects("emission by brand") {
      Check.sums("brand", etl.brandSums, etl.brandSums)
    } {
      val (b, v) = etl.brandSums.head
      Check.sums("brand", etl.brandSums.updated(b, v * (1 + 1e-6)), etl.brandSums)
    }
    rejects("emission by car") {
      Check.sortedSums("car", etl.carSums, etl.carSums.reverse)
    } {
      Check.sortedSums("car", etl.carSums.tail :+ (etl.carSums.head + 1.0), etl.carSums)
    }
    rejects("emission by driver") {
      Check.sums("driver", etl.driverSums, etl.driverSums)
    } {
      Check.sums("driver", etl.driverSums - etl.driverSums.head._1, etl.driverSums)
    }
    rejects("rollup totals") {
      Check.totals("totals", etl.total, Map("brand" -> etl.brandSums.values))
    } {
      Check.totals("totals", etl.total * (1 + 1e-6), Map("brand" -> etl.brandSums.values))
    }
    rejects("orphan report") {
      Check.equal("orphans", etl.orphanFks, etl.orphanFks)
    } {
      Check.equal("orphans", etl.orphanFks.updated("fact.car_id->cars", 1L), etl.orphanFks)
    }
    rejects("final table rows") {
      Check.equal("rows", etl.tableRows, etl.tableRows)
    } {
      Check.equal("rows", etl.tableRows.updated("date", 7305L), etl.tableRows)
    }

    val lake = LakeInputs.generate(11, new Lake().sizes)
    val m = new LakeModel
    m.commit(0); m.append(lake.bulk); m.commit(1)
    m.append(lake.cycles(0).append); m.upsert(lake.cycles(0).upsert); m.commit(2)
    m.deleteRange(lake.cycles(0).deleteRange._1, lake.cycles(0).deleteRange._2); m.commit(3)
    val rows2 = m.stateAt(2)
    rejects("a snapshot digest (one value changed)") {
      Check.digest("digest", m.digestAt(2), Digest.of(rows2.reverse))
    } {
      val r = rows2.head
      Check.digest("digest", Digest.of(r.copy(g = r.g + 1) +: rows2.tail), Digest.of(rows2))
    }
    rejects("a snapshot digest (one row missing)") {
      Check.digest("digest", m.digestAt(3), m.digestAt(3))
    } {
      Check.digest("digest", Digest.of(m.stateAt(3).tail), m.digestAt(3))
    }
    rejects("a snapshot aggregate") {
      Frames.checkAgg("agg", Frames.aggOf(m.stateAt(3)), Frames.aggOf(m.stateAt(3)))
    } {
      val a = Frames.aggOf(m.stateAt(3))
      Frames.checkAgg("agg", a.copy(_3 = a._3 * (1 + 1e-6)), Frames.aggOf(m.stateAt(3)))
    }
    rejects("a change range") {
      Check.rows("changes", m.changes(1, 3), m.changes(1, 3).reverse)
    } {
      val ch = m.changes(1, 3)
      Check.rows("changes", ch.tail :+ ch.head.copy(_2 = ch.head._2 + 1), ch)
    }
    rejects("a diff") {
      Check.rows("diff", m.diff(1, 3), m.diff(1, 3))
    } {
      Check.rows("diff", m.diff(1, 2), m.diff(1, 3))
    }
    val star = new StarModel
    star.appendFacts(lake.factBulk); star.upsertDims(lake.dimBulk)
    rejects("a star view") {
      Check.star("star", star.view, star.view)
    } {
      val (g, a) = star.view.head
      Check.star("star", star.view.updated(g, a.copy(max = a.max + 0.01)), star.view)
    }

    test("a warehouse built through TracedStore equals one built through ParquetStore") {
      val spark = Main.session(dir.resolve("spark"), trace = true)
      val counters = new Counters(spark)
      val tracer = new Tracer(counters, enabled = true)
      val feeds = EtlInputs.write(dir.resolve("feeds"), days.take(3))
      def build(wh: String, traced: Boolean): Unit = feeds.foreach { f =>
        val store =
          if (traced) Some(new TracedStore(new ParquetStore(spark, wh), tracer)) else None
        new EmissionEtl(spark, wh, storeOpt = store).run(f.drivers, f.cars, f.logbook)
      }
      val (a, b) = (dir.resolve("wh-bare").toString, dir.resolve("wh-traced").toString)
      build(a, traced = false)
      build(b, traced = true)
      def rows(df: DataFrame): Map[String, Int] =
        df.collect().map(_.toSeq.mkString("|")).groupBy(identity).map { case (k, v) => k -> v.length }
      for (t <- Seq("date", "drivers", "cars", "country", "city", "car_driver_log")) {
        val (x, y) = (spark.read.parquet(s"$a/$t"), spark.read.parquet(s"$b/$t"))
        assert(x.columns.toSeq == y.columns.toSeq, s"$t: columns differ")
        assert(rows(x) == rows(y), s"$t: rows differ")
      }
      val calls = tracer.layers.toMap
      assert(calls("sources.write").calls > 0 && calls("sources.read").calls > 0,
        "the traced store saw no calls")
      assert(CountingLocalFs.ops.get > 0, "the counting file system saw no calls")
      spark.stop()
    }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    System.out.flush()
    Runtime.getRuntime.halt(if (failures == 0) 0 else 1)
  }
}
