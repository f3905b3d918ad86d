package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private val quotes = Seq( // (key, time, price)
    ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
    ("B", 15L, 10.0)
  ).toDF("qk", "qt", "price")

  private val trades = Seq( // (key, time)
    ("A", 5L), ("A", 20L), ("A", 25L), ("B", 14L), ("C", 100L)
  ).toDF("tk", "tt")

  test("lastBefore picks the most recent right row at or before left time") {
    val out = AsOfJoin.lastBefore(trades, quotes, "tk", "qk", "tt", "qt", Seq("price"))
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2)))).toSet
    assert(out == Set(
      ("A", 5L, None),          // before any quote
      ("A", 20L, Some(2.0)),    // tie: quote at same ts counts
      ("A", 25L, Some(2.0)),
      ("B", 14L, None),
      ("C", 100L, None)))       // key with no quotes at all
  }

  test("null payload FIELD in the matching right row is preserved (regression: per-column stitching)") {
    val rights = Seq(
      ("A", 1L, Option("a"), Option("x")),
      ("A", 5L, None, Option("y"))).toDF("qk", "qt", "colA", "colB")
    val lefts = Seq(("A", 6L)).toDF("tk", "tt")
    val r = AsOfJoin.lastBefore(lefts, rights, "tk", "qk", "tt", "qt", Seq("colA", "colB")).head()
    // must take BOTH fields from the t=5 row: colA NULL, colB "y"
    assert(r.isNullAt(2) && r.getString(3) == "y")
  }

  /** (schema, labels sorted by (node, component), rounds) at driver cap `cap`. */
  private def cc(pairs: DataFrame, cap: Long) = {
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs, "a", "b", driverCap = cap)
    (labels.schema, labels.orderBy("node", "component").collect().toSeq, rounds)
  }

  /** (star rounds, driver finish): [[cc]] with the driver finish off, then at the default cap. */
  private def bothPaths(pairs: DataFrame) = (cc(pairs, -1L), cc(pairs, Dedup.DriverCcPairs))

  test("connectedComponents labels reachable nodes with min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 3L)).toDF("a", "b")
    val (star, driver) = bothPaths(pairs)
    assert(star._2 == Seq(Row(1L, 1L), Row(2L, 1L), Row(3L, 1L), Row(5L, 5L), Row(6L, 5L), Row(7L, 1L)))
    assert(driver._2 == star._2)
  }

  test("connectedComponents converges on a chain longer than one hop") {
    val chain = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    val (star, driver) = bothPaths(chain)
    assert(star._2 == (1L to 12L).map(Row(_, 1L)))
    assert(driver._2 == star._2)
  }

  test("connectedComponents is logarithmic, not diameter-bound, on an adversarial chain") {
    // A 256-node path: a diameter-bound label propagation would need
    // ~255 rounds; large-star/small-star must finish in O(log n).
    val n = 256L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val ((_, starComps, starRounds), (_, comps, rounds)) = bothPaths(chain)
    assert(starComps.length == n.toInt && starComps == (1L to n).map(Row(_, 1L)))
    assert(starRounds >= 1 && starRounds <= 10, s"expected O(log n) rounds, took $starRounds")
    assert(comps.length == n.toInt && comps == starComps && rounds == 0)
  }

  test("connectedComponents: the driver finish matches the star rounds on edge shapes") {
    val shapes = Seq(
      "self-loop" -> Seq((1L, 1L), (2L, 3L), (4L, 4L), (4L, 2L)).toDF("a", "b"),
      "duplicate and reversed" -> Seq((5L, 4L), (4L, 5L), (4L, 5L), (6L, 5L), (8L, 9L), (9L, 8L)).toDF("a", "b"),
      "null id" -> Seq((Some(1L), None), (Some(2L), Some(3L)), (None, None), (None, Some(7L))).toDF("a", "b"),
      "one null end" -> Seq((Some(2L), None), (Some(2L), Some(1L))).toDF("a", "b"),
      "empty" -> Seq.empty[(Long, Long)].toDF("a", "b"))
    val expected = Map(
      "self-loop" -> Seq(Row(1L, 1L), Row(2L, 2L), Row(3L, 2L), Row(4L, 2L)),
      "duplicate and reversed" -> Seq(Row(4L, 4L), Row(5L, 4L), Row(6L, 4L), Row(8L, 8L), Row(9L, 8L)),
      "null id" -> Seq(Row(null, null), Row(1L, 1L), Row(2L, 2L), Row(3L, 2L), Row(7L, 7L)),
      "one null end" -> Seq(Row(null, null), Row(1L, 1L), Row(2L, 1L)),
      "empty" -> Seq.empty[Row])
    shapes.foreach { case (name, pairs) =>
      val (star, driver) = bothPaths(pairs)
      assert(star._2 == expected(name) && star._3 >= (if (name == "empty") 0 else 1), name)
      assert(driver == star.copy(_3 = 0), name)
    }

    // At a cap of N pairs, N pairs finish on the driver and N + 1 take the star rounds.
    val n = 8
    def chain(len: Int) = (1L to len.toLong).map(i => (i + 1, i)).toDF("a", "b")
    val (_, atCap, atCapRounds) = cc(chain(n), n)
    val (_, overCap, overCapRounds) = cc(chain(n + 1), n)
    assert(atCapRounds == 0 && atCap == (1L to n + 1L).map(Row(_, 1L)))
    assert(overCapRounds >= 1 && overCap == (1L to n + 2L).map(Row(_, 1L)))

    // Ids other than LONG take the star rounds at the default cap.
    val (_, ints, intRounds) = cc(Seq((3, 1), (1, 2), (7, 8)).toDF("a", "b"), Dedup.DriverCcPairs)
    assert(intRounds >= 1 && ints == Seq(Row(1, 1), Row(2, 1), Row(3, 1), Row(7, 7), Row(8, 7)))
    val (_, strs, strRounds) = cc(Seq(("b", "c"), ("c", "a"), ("x", "y")).toDF("a", "b"), Dedup.DriverCcPairs)
    assert(strRounds >= 1)
    assert(strs == Seq(Row("a", "a"), Row("b", "a"), Row("c", "a"), Row("x", "x"), Row("y", "x")))
  }
}
