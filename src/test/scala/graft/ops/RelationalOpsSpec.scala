package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.ops.RelationalOps._

class RelationalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("nullSafeEquiJoin matches null keys (pandas NaN=NaN semantics)") {
    val left = Seq(("a", Some(1.0), 10), ("b", None, 20), ("c", Some(3.0), 30))
      .toDF("k1", "k2", "lv")
    val right = Seq(("a", Some(1.0), "x"), ("b", Option.empty[Double], "y"))
      .toDF("k1", "k2", "rv")
    val out = nullSafeEquiJoin(left, right, Seq("k1", "k2"), "left")
      .orderBy("lv").collect()
    assert(out.length == 3)
    assert(out(0).getAs[String]("rv") == "x")
    assert(out(1).getAs[String]("rv") == "y") // null key matched
    assert(out(2).getAs[String]("rv") == null)
  }

  test("antiJoinNew is idempotent (null-safe)") {
    val incoming = Seq(("a", Some(1.0)), ("b", None), ("c", Some(2.0))).toDF("k1", "k2")
    val existing = Seq(("a", Some(1.0)), ("b", Option.empty[Double])).toDF("k1", "k2")
    val novel = antiJoinNew(incoming, existing, Seq("k1", "k2")).collect()
    assert(novel.length == 1 && novel(0).getString(0) == "c")
    // second application on full set → empty
    assert(antiJoinNew(incoming, incoming, Seq("k1", "k2")).isEmpty)
  }

  test("dedupKeepFirst keeps the first row per key under ordering") {
    val df = Seq(("g1", 2, "second"), ("g1", 1, "first"), ("g2", 5, "only"))
      .toDF("k", "ord", "v")
    val out = dedupKeepFirst(df, Seq("k"), Seq(col("ord"))).orderBy("k").collect()
    assert(out.map(_.getString(2)).toSeq == Seq("first", "only"))
  }

  test("withSurrogateKey continues from existingMax, deterministic order") {
    val df = Seq("b", "a", "c").toDF("name")
    val live = Seq((10, "x"), (3, "y")).toDF("id", "name")
    val keyed = withSurrogateKey(df, "id", Seq(col("name")), Some(live))
      .orderBy("id").collect()
    assert(keyed.map(r => (r.getInt(1), r.getString(0))).toSeq ==
      Seq((11, "a"), (12, "b"), (13, "c")))
  }

  test("topKPerGroup ranks with tie-break") {
    val df = Seq(("g", 1.0, 1), ("g", 2.0, 2), ("g", 2.0, 3), ("h", 9.0, 4))
      .toDF("k", "score", "id")
    val out = topKPerGroup(df, Seq("k"), Seq(col("score").desc, col("id").asc), 2)
      .orderBy("k", "rn").collect()
    assert(out.map(_.getInt(2)).toSeq == Seq(2, 3, 4))
  }

  test("unionDistinct merges role-playing columns") {
    val a = Seq("x", "y").toDF("v")
    val b = Seq("y", "z").toDF("v")
    assert(unionDistinct(a, b).collect().map(_.getString(0)).sorted.toSeq ==
      Seq("x", "y", "z"))
  }

  test("rangeSelfJoinPairs finds pairs within gap, including across bins") {
    // gap = 100 µs; bins are 100 µs wide, so (150, 220) spans two bins
    val df = Seq(
      (1L, "u", 100L), (2L, "u", 150L), (3L, "u", 220L),
      (4L, "u", 500L),                    // isolated: > gap from all
      (5L, "v", 160L),                    // other key: never pairs with u
      (6L, "w", 300L), (7L, "w", 400L))   // exactly gap apart: inclusive
      .toDF("event_id", "k", "us")
      .select(col("event_id"), col("k"), timestamp_micros(col("us")).as("ts"))
    val pairs = rangeSelfJoinPairs(df, Seq("k"), "ts", 100L, Seq("event_id"))
      .select("event_id_a", "event_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L), (6L, 7L)))
  }

  test("rangeSelfJoinPairs excludes simultaneous and reversed pairs") {
    val df = Seq((1L, "u", 100L), (2L, "u", 100L), (3L, "u", 90L))
      .toDF("event_id", "k", "us")
      .select(col("event_id"), col("k"), timestamp_micros(col("us")).as("ts"))
    val pairs = rangeSelfJoinPairs(df, Seq("k"), "ts", 50L, Seq("event_id"))
      .select("event_id_a", "event_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // strict ts ordering: equal-ts rows never pair; 90→100 pairs once each
    assert(pairs == Set((3L, 1L), (3L, 2L)))
  }

  test("hashSplit: deterministic, layout-independent, and consistent on subsets") {
    val docs = graft.Tables.documents(spark, sf(""))
    val splits = Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0)
    def labels(df: org.apache.spark.sql.DataFrame) =
      hashSplit(df, splits, Seq("doc_id"), portableHash = true)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = labels(docs)
    assert(full.size == docs.count())
    // roughly the requested proportions (hash is uniform-ish)
    val frac = full.values.groupBy(identity).view.mapValues(_.size.toDouble / full.size).toMap
    assert(frac("train") > 0.6 && frac("train") < 0.95, frac.toString)
    assert(frac.getOrElse("val", 0.0) < 0.25 && frac.getOrElse("test", 0.0) < 0.25, frac.toString)
    // physical layout does not move rows between splits
    assert(labels(docs.repartition(9)) == full)
    // an incremental subset keeps every doc's original label
    val subset = labels(docs.filter(col("doc_id") % 2 === 0))
    subset.foreach { case (id, l) => assert(full(id) == l, s"doc $id moved splits") }
    // production xxhash64 mode labels every row too
    val fast = hashSplit(docs, splits, Seq("doc_id"))
    assert(fast.filter(col("split").isNull).isEmpty)
    assert(fast.select("split").distinct().count() == 3)
  }

  test("stratifiedSample: exact k per stratum, deterministic, layout-independent") {
    val li = graft.Tables.table(spark, sf(""), "lineitem")
    // seed must be a TRUE key: (orderkey, linenumber) is not unique in
    // this corpus, and tied seed tuples make the k-th pick arbitrary
    val seed = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    def run(df: org.apache.spark.sql.DataFrame) =
      stratifiedSample(df, Seq("l_returnflag"), 20, seed, portableHash = true)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_partkey").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val s1 = run(li)
    // exactly k per stratum (every stratum has >= k rows at this sf)
    s1.groupBy(_._1).foreach { case (f, rows) =>
      assert(rows.length == 20, s"stratum $f: ${rows.length} rows")
    }
    // same rows regardless of physical layout (hash order, not scan order)
    assert(run(li.repartition(17)).toSet == s1.toSet)
    // the cheap xxhash64 mode keeps the same contract
    val fast = stratifiedSample(li, Seq("l_returnflag"), 20, seed)
    assert(fast.count() == 60)
    assert(fast.groupBy("l_returnflag").count()
      .collect().forall(_.getLong(1) == 20))
  }

  test("portable hash keys: NULL seed values do not collide with their absence") {
    import spark.implicits._
    // ("a", NULL) vs ("a") shaped collision: concat_ws alone would hash
    // 'a' for both rows; the '<NULL>' sentinel keeps them distinct and
    // matches what an oracle computes with coalesce(CAST(c AS VARCHAR),
    // '<NULL>') — so a nullable seed column stays deterministic.
    val df = Seq(("a", Option("x")), ("a", None), ("a|<NULL>", Option("y")))
      .toDF("k1", "k2").withColumn("stratum", lit(1))
    val s = stratifiedSample(df, Seq("stratum"), 3, Seq("k1", "k2"), portableHash = true)
    assert(s.count() == 3)
    // split labels: the NULL row gets a stable label equal to hashing the
    // sentinel string explicitly
    val splits = Seq("train" -> 1.0, "test" -> 1.0)
    val lbl = hashSplit(df, splits, Seq("k1", "k2"), portableHash = true)
      .select("k1", "k2", "split").collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getString(2)))
    val nullRow = lbl.find(r => r._1 == "a" && r._2.isEmpty).get
    val explicitRow = hashSplit(
      Seq(("a", "<NULL>")).toDF("k1", "k2"), splits, Seq("k1", "k2"),
      portableHash = true).select("split").as[String].head()
    assert(nullRow._3 == explicitRow)
  }
}
