package graft.queries

import graft.SparkSpec
import graft.operators.Graph
import org.apache.spark.sql.functions._

import scala.collection.mutable

class Pipeline32Spec extends SparkSpec {

  private def edges(): Seq[(Long, Long)] = {
    val li = tables.lineitem
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val cnt = mutable.Map.empty[(Long, Long), Int]
    li.groupBy(_._1).valuesIterator.foreach { rows =>
      val pks = rows.map(_._2)
      for (i <- pks.indices; j <- pks.indices if pks(i) < pks(j)) {
        val e = (pks(i), pks(j))
        cnt(e) = cnt.getOrElse(e, 0) + 1
      }
    }
    cnt.iterator.collect { case (e, c) if c >= 2 => e }.toSeq
  }

  /** One driver-side peel: keep nodes with degree >= k, then edges
    * with both endpoints kept.
    */
  private def peel(und: Set[(Long, Long)], k: Int): Set[(Long, Long)] = {
    val deg = und.groupBy(_._1).map { case (u, es) => u -> es.size }
    val keep = deg.collect { case (u, d) if d >= k => u }.toSet
    und.filter { case (u, v) => keep(u) && keep(v) }
  }

  test("q_kcore equals a driver-side three-round peel replay") {
    val e0 = edges()
    var und: Set[(Long, Long)] =
      (e0 ++ e0.map { case (u, v) => (v, u) }).toSet
    for (_ <- 1 to 3) und = peel(und, 2)
    val expected = und.groupBy(_._1)
      .map { case (u, es) => u -> es.size.toLong }
    val got = Pipeline32.qKcore(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("Graph.kCore fixpoint satisfies the k-core invariant") {
    val e0 = edges()
    val undDf = {
      import spark.implicits._
      val both = e0 ++ e0.map { case (u, v) => (v, u) }
      both.toDF("u", "v")
    }
    val core = Graph.kCore(undDf, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // invariant: within the core every node has degree >= 2
    val deg = core.groupBy(_._1).map { case (u, es) => u -> es.size }
    assert(deg.values.forall(_ >= 2))
    // fixpoint: one more peel changes nothing
    assert(peel(core, 2) == core)
    // matches the driver-side peel-to-fixpoint replay
    var und: Set[(Long, Long)] = (e0 ++ e0.map { case (u, v) => (v, u) }).toSet
    var prev = -1
    while (prev != und.size) { prev = und.size; und = peel(und, 2) }
    assert(core == und)
  }

  private def fxVecs(): Seq[Array[Long]] =
    tables.embeddings.select(col("embedding")).collect().toSeq
      .map(_.getSeq[Float](0).toArray.map(x =>
        BigDecimal(x.toDouble * 1000000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))

  test("sim_cov_matrix equals the exact integer covariance replay") {
    val vs = fxVecs()
    val n = vs.size
    val d = vs.head.length
    val got = Pipeline32.simCovMatrix(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((BigInt(r.getString(2)), r.getDouble(3))))
      .toMap
    assert(got.size == d * (d + 1) / 2)
    val s = Array.fill(d)(BigInt(0))
    vs.foreach(v => (0 until d).foreach(i => s(i) += v(i)))
    for (i <- 0 until d; j <- i until d) {
      var sxy = BigInt(0)
      vs.foreach(v => sxy += BigInt(v(i)) * v(j))
      val covFx = BigInt(n) * sxy - s(i) * s(j)
      val (gFx, gCov) = got((i.toLong, j.toLong))
      assert(gFx == covFx, s"cov_fx drift at ($i,$j)")
      val cov = BigDecimal(covFx.toDouble / (n.toDouble * n.toDouble * 1e12))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(gCov - cov) < 1e-12, s"cov drift at ($i,$j)")
    }
    // diagonal is a variance: strictly positive on real data
    (0 until d).foreach(i => assert(got((i.toLong, i.toLong))._1 > 0))
  }
}
