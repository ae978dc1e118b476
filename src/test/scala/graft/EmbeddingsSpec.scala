package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Embeddings

class EmbeddingsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("momentsExactInt: hand-computed gram, sums, and count on a 2x2 corpus") {
    val emb = Seq(
      (1L, Seq(1.0f, 2.0f)),
      (2L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val rows = Embeddings.momentsExactInt(emb, "vec_id", "embedding", scale = 1)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(rows((0, 0)) === 1L + 9L)
    assert(rows((0, 1)) === 2L + 12L)
    assert(rows((1, 0)) === 2L + 12L)
    assert(rows((1, 1)) === 4L + 16L)
    assert(rows((0, -1)) === 4L, "first-moment sum of column 0")
    assert(rows((1, -1)) === 6L)
    assert(rows((-1, -1)) === 2L)
    assert(rows.size === 7, "d²+d+1 rows for d=2")
  }

  test("momentsExactInt: NULL vectors and vectors with NULL elements are quarantined") {
    val emb = Seq(
      (1L, Seq[java.lang.Float](1.0f, 2.0f)),
      (2L, Seq[java.lang.Float](3.0f, 4.0f)),
      (3L, null),
      (4L, Seq[java.lang.Float](1.0f, null)))
      .toDF("vec_id", "embedding")
    val rows = Embeddings.momentsExactInt(emb, "vec_id", "embedding", scale = 1)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(rows((-1, -1)) === 2L, "only the two clean vectors count")
    assert(rows((0, 0)) === 10L, "quarantined rows contribute nothing")
  }

  test("momentsExactInt: empty input yields only the zero count row") {
    val emb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val rows = Embeddings.momentsExactInt(emb, "vec_id", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(rows === Map((-1, -1) -> 0L))
  }

  test("momentsExactInt at d=96: triangle-mirror agrees exactly with a driver reference, any partitioning") {
    // the scale-shape witness for the round-14 MomentsAgg rework: the
    // in-aggregate rank-1 update + eval-time mirror must reproduce the
    // full d² Gram exactly (inputs integer-valued → IEEE adds exact),
    // regardless of how rows land in partitions
    val d = 96
    val n = 60
    val vecs = (0 until n).map { r =>
      (r.toLong, (0 until d).map(i => ((r * 31 + i * 17) % 13 - 6).toFloat).toSeq)
    }
    val ref = Array.ofDim[Long](d, d)
    val refS = new Array[Long](d)
    for ((_, v) <- vecs; i <- 0 until d) {
      refS(i) += v(i).toLong
      for (j <- 0 until d) ref(i)(j) += v(i).toLong * v(j).toLong
    }
    for (parts <- Seq(1, 7)) {
      val emb = vecs.toDF("vec_id", "embedding").repartition(parts)
      val rows = Embeddings.momentsExactInt(emb, "vec_id", "embedding", scale = 1)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(rows((-1, -1)) === n.toLong)
      for (i <- 0 until d) {
        assert(rows((i, -1)) === refS(i))
        for (j <- 0 until d)
          assert(rows((i, j)) === ref(i)(j), s"gram($i,$j) parts=$parts")
      }
    }
  }

  test("momentsExactIntBlocked equals momentsExactInt exactly, ragged tail block, any block size") {
    val d = 50
    val vecs = (0 until 40).map { r =>
      (r.toLong, (0 until d).map(i => ((r * 13 + i * 7) % 9 - 4).toFloat).toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding").repartition(5)
    val exact = Embeddings.momentsExactInt(emb, "vec_id", "embedding", scale = 1)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (bs <- Seq(7, 16, 50, 64)) { // ragged tail, even split, one block, oversize
      val blocked = Embeddings.momentsExactIntBlocked(
        emb, "vec_id", "embedding", scale = 1, blockSize = bs)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(blocked === exact, s"blockSize=$bs")
    }
    // multi-PASS path: maxCellsPerPass=3 forces bs=16's 4x4 grid
    // (10 gram + 4 moment cells) across 5 separate corpus scans — the
    // bounded-memory trade must not change a single value
    val multiPass = Embeddings.momentsExactIntBlocked(
      emb, "vec_id", "embedding", scale = 1, blockSize = 16, maxCellsPerPass = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(multiPass === exact, "multi-pass chunking must be value-invisible")
    graft.operators.Caches.release()
  }

  test("momentsExactIntBlocked multi-pass pins the quantized projection; single-pass skips the pin") {
    val d = 50
    val vecs = (0 until 40).map { r =>
      (r.toLong, (0 until d).map(i => ((r * 13 + i * 7) % 9 - 4).toFloat).toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding").repartition(5)
    val scope = graft.operators.Caches.newScope()
    try {
      // bs=16 on d=50 → 4x4 grid: 10 gram + 4 moment cells over
      // maxCellsPerPass=3 → 5 passes. Each pass must read the PINNED
      // quantized projection (an InMemoryTableScan over __q), never
      // re-derive the quantization from the source per pass.
      val multi = graft.operators.Caches.inScope(scope) {
        graft.operators.Embeddings.momentsExactIntBlocked(
          emb, "vec_id", "embedding", scale = 1, blockSize = 16, maxCellsPerPass = 3)
      }
      multi.write.format("noop").mode("overwrite").save()
      assert(PlanMetrics.cacheScansWith(multi, Seq("__q")).nonEmpty,
        "multi-pass blocked moments must pin the quantized projection")
    } finally scope.release()
    // single pass: the pin would be pure overhead — skipped entirely.
    // Fresh scope, AFTER releasing the multi-pass pin: Spark's cache
    // manager substitutes any identical plan, so a live __q pin would
    // make this assertion see a cache hit the operator never asked for.
    val scope2 = graft.operators.Caches.newScope()
    try {
      val single = graft.operators.Caches.inScope(scope2) {
        graft.operators.Embeddings.momentsExactIntBlocked(
          emb, "vec_id", "embedding", scale = 1, blockSize = 64)
      }
      single.write.format("noop").mode("overwrite").save()
      assert(PlanMetrics.cacheScansWith(single, Seq("__q")).isEmpty,
        "single-pass blocked moments must not pay a pin")
    } finally scope2.release()
  }

  test("momentsExactIntBlocked: mixed dimensions fail loudly; empty input yields the zero row") {
    val mixed = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Embeddings.momentsExactIntBlocked(mixed, "vec_id", "embedding", blockSize = 2).collect()
    }
    assert(ex.getMessage.contains("mixed vector dimensions") ||
      Option(ex.getCause).exists(_.getMessage.contains("mixed vector dimensions")),
      s"slicing a longer vector must not silently drop its tail: $ex")
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val rows = Embeddings.momentsExactIntBlocked(empty, "vec_id", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(rows === Map((-1, -1) -> 0L))
    graft.operators.Caches.release()
  }

  test("graft_moments / graft_cross_sum SQL surfaces; NULL elements fail loudly, never bias as 0.0") {
    graft.expressions.GraftFunctions.register(spark)
    Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0))).toDF("id", "v")
      .createOrReplaceTempView("mvecs")
    val m = spark.sql("SELECT graft_moments(v) AS s FROM mvecs").head().getStruct(0)
    assert(m.getAs[Long]("cnt") === 2L)
    // row-major Gram (1+9, 2+12, 2+12, 4+16) then moments (4, 6)
    assert(m.getSeq[Double](m.fieldIndex("sums")) === Seq(10.0, 14.0, 14.0, 20.0, 4.0, 6.0))
    val x = spark.sql(
      "SELECT graft_cross_sum(array(1.0d, 2.0d), array(10.0d, 20.0d, 30.0d)) AS s FROM mvecs")
      .head().getStruct(0)
    assert(x.getAs[Long]("cnt") === 2L)
    assert(x.getSeq[Double](x.fieldIndex("sums")) ===
      Seq(20.0, 40.0, 60.0, 40.0, 80.0, 120.0), "2x3 row-major cross product, twice")
    // NULL elements: the SQL faces have no cleanVec upstream — reading a
    // NULL as 0.0 would silently bias every statistic; they must throw
    val nullElem = Seq(Seq[java.lang.Double](1.0, null)).toDF("v")
    nullElem.createOrReplaceTempView("nvecs")
    val e1 = intercept[Exception](spark.sql("SELECT graft_moments(v) FROM nvecs").collect())
    assert(e1.getMessage.contains("NULL element") ||
      Option(e1.getCause).exists(_.getMessage.contains("NULL element")), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT graft_cross_sum(v, v) FROM nvecs").collect())
    assert(e2.getMessage.contains("NULL element") ||
      Option(e2.getCause).exists(_.getMessage.contains("NULL element")), e2.getMessage)
    // half-NULL input rows are ill-defined for a cross product
    val half = Seq((Seq(1.0), null: Seq[java.lang.Double])).toDF("a", "b")
    val e3 = intercept[Exception](
      half.agg(org.apache.spark.sql.functions.expr("graft_cross_sum(a, b)")).collect())
    assert(e3.getMessage.contains("one side NULL") ||
      Option(e3.getCause).exists(_.getMessage.contains("one side NULL")), e3.getMessage)
  }

  test("jacobiEigen: known symmetric 2x2 has eigenvalues {3, 1}") {
    val (vals, vecs) = Embeddings.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(vals.sorted.zip(Seq(1.0, 3.0)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    // columns are orthonormal
    val dot = vecs(0)(0) * vecs(0)(1) + vecs(1)(0) * vecs(1)(1)
    assert(math.abs(dot) < 1e-9)
  }

  test("pcaWhiten: whitened components have ~zero mean and ~identity covariance") {
    val rnd = new scala.util.Random(42)
    // correlated 3-dim data: dim1 leans on dim0, dim2 independent
    val data = (1 to 400).map { i =>
      val a = rnd.nextDouble(); val b = rnd.nextDouble(); val c = rnd.nextDouble()
      (i.toLong, Seq((2 * a).toFloat, (a + 0.3 * b).toFloat, c.toFloat))
    }
    val emb = data.toDF("vec_id", "embedding")
    val out = Embeddings.pcaWhiten(emb, "vec_id", "embedding", k = 3, scale = 1000)
      .collect().map(_.getSeq[Double](1).toArray)
    assert(out.length === 400)
    val n = out.length.toDouble
    val mean = Array.tabulate(3)(r => out.map(_(r)).sum / n)
    mean.foreach(m => assert(math.abs(m) < 0.05, s"whitened mean ~0, got $m"))
    for (r <- 0 until 3; s <- 0 until 3) {
      val cov = out.map(y => (y(r) - mean(r)) * (y(s) - mean(s))).sum / n
      val want = if (r == s) 1.0 else 0.0
      assert(math.abs(cov - want) < 0.1, s"cov($r,$s)=$cov, want $want")
    }
  }

  test("pcaWhiten: degenerate variance direction is rejected loudly") {
    // dim1 is EXACTLY 2*dim0 after quantization → rank-1 covariance in 2d
    val emb = (1 to 50).map(i => (i.toLong, Seq(i.toFloat, (2 * i).toFloat)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Embeddings.pcaWhiten(emb, "vec_id", "embedding", k = 2, scale = 1)
        .collect()
    }
    assert(e.getMessage.contains("degenerate variance"))
    // but the full-rank request below the rank succeeds
    assert(Embeddings.pcaWhiten(emb, "vec_id", "embedding", k = 1, scale = 1)
      .count() === 50L)
  }

  test("mahalanobisScore: a planted outlier ranks first; inliers score ~d on average") {
    val rnd = new scala.util.Random(7)
    val inliers = (1 to 300).map(i =>
      (i.toLong, Seq(rnd.nextDouble().toFloat, rnd.nextDouble().toFloat, rnd.nextDouble().toFloat)))
    // far outside the unit cube in every dimension
    val data = inliers :+ (999L, Seq(25.0f, -25.0f, 25.0f))
    val scored = Embeddings.mahalanobisScore(
      data.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 3, scale = 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val top = scored.maxBy(_._2)._1
    assert(top === 999L, "the planted outlier must carry the largest score")
    val inlierMean = inliers.map(r => scored(r._1)).sum / inliers.size
    // E[maha²] over the data the covariance was fit on is exactly d
    assert(math.abs(inlierMean - 3.0) < 1.0,
      s"mean inlier maha² should be near d=3, got $inlierMean")
  }
}
