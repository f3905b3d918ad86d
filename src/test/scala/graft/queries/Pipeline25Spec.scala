package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline25Spec extends SparkSpec {

  test("geo_grid_cluster equals a driver union-find over dense cells") {
    val pts = tables.events
      .select(col("value"),
        expr("CAST(get_json_object(props, '$.k') AS DOUBLE)"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val cells = pts.groupBy { case (x, y) =>
      (math.floor(x / 5.0).toLong, math.floor(y / 5.0).toLong)
    }.view.mapValues(_.length.toLong).toMap
    val np = cells.values.sum
    val nc = cells.size.toLong
    val dense = cells.filter { case (_, cnt) => cnt * nc >= 3 * np }
    val ids = dense.keys.map { case (cx, cy) => (cx, cy) -> (cx * 1024 + cy) }.toMap
    // union-find over 8-adjacency
    val parent = scala.collection.mutable.Map(ids.values.toSeq.map(i => i -> i): _*)
    def find(i: Long): Long = if (parent(i) == i) i else { val r = find(parent(i)); parent(i) = r; r }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    for (((cx, cy), _) <- dense; dx <- -1 to 1; dy <- -1 to 1
         if !(dx == 0 && dy == 0); nb = (cx + dx, cy + dy) if ids.contains(nb))
      union(ids((cx, cy)), ids(nb))
    val expected = dense.groupBy { case (k, _) => find(ids(k)) }
      .map { case (root, m) => root -> ((m.size.toLong, m.values.sum)) }
    val got = Pipeline25.geoGridCluster(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    // the density gate keeps a strict subset, and adjacency merges
    assert(dense.nonEmpty && dense.size < cells.size)
    assert(got.values.exists(_._1 > 1), "expected at least one multi-cell cluster")
  }

  test("q_growth_accounting ledger equals a per-user scan and balances") {
    val ev = tables.events
      .select(col("user_id"), to_date(col("ts")).as("day")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay)).distinct
    val expected = scala.collection.mutable.Map
      .empty[Long, (Long, Long, Long, Long)].withDefaultValue((0L, 0L, 0L, 0L))
    ev.groupBy(_._1).foreach { case (_, xs) =>
      val ds = xs.map(_._2).sorted
      ds.zipWithIndex.foreach { case (d, i) =>
        val (a, n, r, z) = expected(d)
        val kind =
          if (i == 0) "new"
          else if (d - ds(i - 1) > 7) "res"
          else "ret"
        expected(d) = (a + 1,
          n + (if (kind == "new") 1 else 0),
          r + (if (kind == "ret") 1 else 0),
          z + (if (kind == "res") 1 else 0))
      }
    }
    val got = Pipeline25.qGrowthAccounting(tables).collect()
      .map(r => r.getDate(0).toLocalDate.toEpochDay ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected.toMap)
    // the ledger balances: active = new + returning + resurrected
    assert(got.values.forall { case (a, n, r, z) => a == n + r + z })
    // every user is new exactly once
    assert(got.values.map(_._2).sum == ev.map(_._1).distinct.length.toLong)
  }
}
