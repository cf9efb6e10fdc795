package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The generated golden feeds (FIXTURES.md A6): byte-identical per seed,
  * and a drifted feed is refused with the property it breaks.
  */
class ReferenceFeedsSpec extends AnyFunSuite {

  private def bytes(feeds: ReferenceFeeds.Feeds): Seq[Seq[Byte]] =
    Seq(feeds.drivers, feeds.cars, feeds.logbook).map(p => Files.readAllBytes(Paths.get(p)).toSeq)

  test("generated feeds are byte-identical across writes and pass their own check") {
    val a = ReferenceFeeds.write(Files.createTempDirectory("graft_feeds_a"))
    val b = ReferenceFeeds.write(Files.createTempDirectory("graft_feeds_b"))
    assert(bytes(a) == bytes(b))
    ReferenceFeeds.check(a)
  }

  test("a drifted feed is refused, naming the broken property") {
    def drifted(edit: Seq[String] => Seq[String], pick: ReferenceFeeds.Feeds => String): String = {
      val feeds = ReferenceFeeds.write(Files.createTempDirectory("graft_feeds_drift"))
      val path = Paths.get(pick(feeds))
      val lines = new String(Files.readAllBytes(path), StandardCharsets.UTF_8).split("\n").toSeq
      Files.write(path, edit(lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      intercept[IllegalStateException](ReferenceFeeds.check(feeds)).getMessage
    }
    // one trip fewer
    assert(drifted(_.dropRight(1), _.logbook).contains("logbook rows"))
    // a renamed raw header
    assert(drifted(ls => ls.head.replace("ENGINE SIZE L", "ENGINE_SIZE_L") +: ls.tail, _.cars)
      .contains("cars header"))
    // one more car without a fuel type
    def blankFuel(ls: Seq[String]): Seq[String] = {
      val i = ls.indexWhere(_.split(",", -1)(6).nonEmpty, 1)
      ls.updated(i, ls(i).split(",", -1).updated(6, "").mkString(","))
    }
    assert(drifted(blankFuel, _.cars).contains("cars null fuel_type"))
  }
}
