package graft.queries

import graft.SparkSpec
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Round-11 batch: the REAL DCT perceptual hash (K7 re-point + K14
  * eval). The hash itself is property-tested (invariances the DCT
  * recipe contracts), the staged-truth rows against their oracles,
  * and the banded-LSH path against brute force.
  */
class Pipeline72Spec extends SparkSpec {
  import spark.implicits._

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("DctPHash: identical payload -> identical hash; corrupt payload -> None") {
    val p = Pipeline72.renderPattern(7L, 40, 32, "png")
    val h1 = Multimodal.DctPHash.phash(p)
    val h2 = Multimodal.DctPHash.phash(p.clone())
    assert(h1.isDefined && h1 == h2)
    assert(Multimodal.DctPHash.phash("not an image".getBytes).isEmpty)
  }

  test("DctPHash: median thresholding sets ~half the bits (informative hash)") {
    val bits = (0L until 20L).map { g =>
      java.lang.Long.bitCount(
        Multimodal.DctPHash.phash(Pipeline72.renderPattern(g, 40, 32, "png")).get)
    }
    // strict > median of 64 values: 32 bits exactly unless ties
    assert(bits.forall(b => b >= 24 && b <= 32), s"bit counts: $bits")
  }

  test("DctPHash: resize + JPEG recompression stays within a few bits; unrelated patterns far apart") {
    val dists = (0L until 40L).map { g =>
      val orig = Multimodal.DctPHash.phash(Pipeline72.renderPattern(g, 40, 32, "png")).get
      val dup = Multimodal.DctPHash.phash(Pipeline72.renderPattern(g, 30, 24, "jpg")).get
      ham(orig, dup)
    }
    assert(dists.max <= Pipeline72.HamTol, s"intra-pair hamming: $dists")
    val cross = for (g <- 0L until 15L; k <- g + 1 until 15L) yield ham(
      Multimodal.DctPHash.phash(Pipeline72.renderPattern(g, 40, 32, "png")).get,
      Multimodal.DctPHash.phash(Pipeline72.renderPattern(k, 40, 32, "png")).get)
    assert(cross.min > Pipeline72.HamTol, s"min unrelated hamming: ${cross.min}")
  }

  test("DctPHash: brightness shift leaves the sign structure nearly unchanged") {
    // The same sign pattern rendered around two different gray levels:
    // only the DC coefficient moves, the 63 thresholded AC signs stay.
    val p = Pipeline72.renderPattern(3L, 40, 32, "png")
    val a = Multimodal.DctPHash.phash(p).get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
    val shifted = Multimodal.ImageIo.encode(40, 32, "png")(
      (x, y, _) => img.getRaster.getSample(x, y, 0) + 30)
    val d = ham(a, Multimodal.DctPHash.phash(shifted).get)
    assert(d <= 4, s"brightness shift moved $d bits")
  }

  test("r12 widened distortions: gamma shift and additive noise stay within the gate") {
    val dists = (0L until 30L).map { g =>
      val orig = Multimodal.DctPHash.phash(Pipeline72.renderPattern(g, 40, 32, "png")).get
      val gam = Multimodal.DctPHash.phash(
        Pipeline72.renderPattern(g, 40, 32, "png", gamma = 0.85)).get
      val noi = Multimodal.DctPHash.phash(
        Pipeline72.renderPattern(g, 30, 24, "jpg", noiseAmp = 6.0)).get
      (ham(orig, gam), ham(orig, noi))
    }
    assert(dists.map(_._1).max <= Pipeline72.HamTol, s"gamma hamming: ${dists.map(_._1)}")
    assert(dists.map(_._2).max <= Pipeline72.HamTol, s"noise hamming: ${dists.map(_._2)}")
  }

  test("mm_phash_neardup: every staged pair within the gate; ids replay the metadata") {
    val out = Pipeline72.mmPhashNeardup(tables).collect()
    val nDocs = tables.documents.count()
    assert(out.length == 3 * nDocs)
    out.foreach { r =>
      assert(r.getLong(1) == 4 * r.getLong(0) &&
        r.getLong(2) > r.getLong(1) && r.getLong(2) <= r.getLong(1) + 3)
      assert(r.getLong(3) == 1L, s"group ${r.getLong(0)} failed the hamming gate")
    }
  }

  test("mm_phash_eval: all gates pass and banding finds exactly the brute-force pairs") {
    val eval = Pipeline72.mmPhashEval(tables).collect()(0)
    assert(eval.getLong(0) == 3 * tables.documents.count())
    assert(eval.getLong(1) == 1L && eval.getLong(2) == 1L && eval.getLong(3) == 1L)

    val t = graft.Tables(spark, sfDir)
    val hashes = Multimodal.phashes(Pipeline72.stagedPairs(t), "media_id", "payload")
      .localCheckpoint(true)
    val banded = Multimodal.phashNearDup(hashes, maxHamming = 3, nBands = 4)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val brute = hashes.as("a").join(hashes.as("b"),
        col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(banded.toSeq == brute.toSeq)
    assert(banded.nonEmpty, "no near-dup pairs at all — the eval tests nothing")
  }

  test("phashNearDup rejects a hamming bound the pigeonhole cannot guarantee") {
    val hashes = Seq((1L, 5L), (2L, 6L)).toDF("media_id", "phash")
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDup(hashes, maxHamming = 4, nBands = 4)
    }
  }
}
