package graft.queries

import graft.SparkSpec
import graft.operators.Graph
import org.apache.spark.sql.functions._

class Pipeline10Spec extends SparkSpec {

  // ---- q_triangle_count / Graph.triangleCounts ----

  /** Naive driver-side reference: enumerate all id-ordered triangles
    * of an undirected edge set and count per node.
    */
  private def refTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val es = und.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.distinct
    val counts = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (a, b) <- und
      c <- nodes if c > b
      if es.contains((b, c)) && es.contains((a, c))
    } {
      counts(a) += 1; counts(b) += 1; counts(c) += 1
    }
    counts.toMap
  }

  test("triangleCounts matches naive enumeration on a skewed fixture") {
    // A hub (0) connected to everything, plus a sparse rim — the
    // degree-ordered orientation must still count exactly what the
    // naive definition counts.
    val edges = Seq[(Long, Long)](
      (0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L), (0L, 6L),
      (1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (1L, 6L),
      // duplicate + reversed entries must be tolerated
      (2L, 0L), (3L, 3L))
    val df = spark.createDataFrame(edges).toDF("s", "d")
    val got = Graph.triangleCounts(df, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refTriangles(edges))
  }

  test("triangleCounts is empty on a triangle-free graph") {
    val df = spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (3L, 4L))).toDF("s", "d")
    assert(Graph.triangleCounts(df, "s", "d").count() == 0L)
  }

  test("q_triangle_count total triangle mass is divisible by 3") {
    val df = Pipeline10.qTriangleCount(tables)
    val total = df.agg(sum(col("tri_cnt"))).collect()(0).getLong(0)
    assert(total > 0 && total % 3 == 0)
  }

  // ---- q_gini ----

  test("q_gini is 0 for equal values and ~ (n-1)/n-scaled for extreme skew") {
    // Independent check of the formula on constructed fixtures via
    // the same fixed-point definition.
    def gini(xs: Seq[Long]): Long = {
      val s = xs.sorted
      val n = s.size.toLong
      val s0 = s.map(BigInt(_)).sum
      val s1 = s.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
      ((BigInt(1000000) * (2 * s1 - (n + 1) * s0)) / (BigInt(n) * s0)).toLong
    }
    assert(gini(Seq(5L, 5L, 5L, 5L)) == 0L)
    // nine near-zero holders and one holding ~everything: G → (n-1)/n = 0.9
    assert(gini(Seq.fill(9)(1L) :+ 1000000L) > 890000L)
  }

  test("q_gini output is bounded in [0, 1e6) with positive counts") {
    val rows = Pipeline10.qGini(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = r.getLong(1)
      assert(g >= 0L && g < 1000000L, s"gini out of range: $r")
      assert(r.getLong(2) > 0L)
    }
  }

  // ---- dd_blocked_er ----

  test("dd_blocked_er compacted counts equal the naive row-pair definition") {
    val t = graft.Tables(spark, sfDir)
    import org.apache.spark.sql.Row
    val parts = t.part
      .select(col("p_partkey").cast("long"), col("p_brand"), col("p_name"))
      .collect().map { case Row(k: Long, b: String, n: String) => (k, b, n) }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val naive = parts
      .groupBy { case (_, b, n) => (b, n.split(" ")(1)) }
      .map { case (blk, ps) =>
        val pairs = for {
          (ka, _, na) <- ps; (kb, _, nb) <- ps
          if ka < kb && lev(na, nb) <= 2
        } yield 1
        blk -> ((ps.size.toLong, pairs.size.toLong))
      }
    val got = Pipeline10.ddBlockedEr(tables).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == naive)
  }

  // ---- sm_kfold ----

  test("sm_kfold folds partition the corpus and are balanced") {
    val df = Pipeline10.smKfold(tables)
    val total = df.agg(sum(col("n_docs"))).collect()(0).getLong(0)
    val t = graft.Tables(spark, sfDir)
    assert(total == t.documents.count())
    val perFold = df.groupBy(col("fold")).agg(sum(col("n_docs")).as("n"))
      .collect().map(_.getLong(1))
    assert(perFold.length == 5)
    val (mn, mx) = (perFold.min.toDouble, perFold.max.toDouble)
    assert(mx / mn < 2.0, s"fold imbalance: ${perFold.mkString(",")}")
  }

  // ---- tx_pmi_bigrams ----

  test("tx_pmi_bigrams ranks by the exact PMI ratio and respects support") {
    val rows = Pipeline10.txPmiBigrams(tables).collect()
    assert(rows.length == 20)
    val byRank = rows.sortBy(_.getAs[Long]("rank"))
    byRank.foreach(r => assert(r.getAs[Long]("cnt_ab") >= 5L))
    // ranks strictly ordered by (ratio desc, bigram)
    byRank.sliding(2).foreach { case Array(a, b) =>
      val (ra, rb) = (a.getAs[Long]("pmi_ratio_fx"), b.getAs[Long]("pmi_ratio_fx"))
      assert(ra > rb ||
        (ra == rb && a.getAs[String]("bigram") < b.getAs[String]("bigram")))
    case _ => ()
    }
    // spot-check one ratio against a from-scratch recomputation
    val t = graft.Tables(spark, sfDir)
    val docs = t.documents.select(col("text")).collect().map(_.getString(0))
    val toks = docs.flatMap(_.trim.toLowerCase.split("\\s+"))
    val uni = toks.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val bgs = docs.flatMap { d =>
      val ts = d.trim.toLowerCase.split("\\s+")
      ts.sliding(2).filter(_.length == 2).map(_.mkString(" "))
    }
    val bgc = bgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val nu = BigInt(toks.length)
    val nb = BigInt(bgs.length)
    val top = byRank.head
    val Array(w1, w2) = top.getAs[String]("bigram").split(" ")
    val expected = (BigInt(bgc(top.getAs[String]("bigram"))) * nu * nu * 1000000 /
      (nb * BigInt(uni(w1)) * BigInt(uni(w2)))).toLong
    assert(top.getAs[Long]("pmi_ratio_fx") == expected)
  }
}
