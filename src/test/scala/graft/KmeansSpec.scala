package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Distributed full-corpus Lloyd training vs a single-threaded reference
  * on INTEGER-VALUED vectors — exact FP addition makes the comparison
  * bit-for-bit regardless of partition/reduction order, so this pins the
  * algorithm, not a tolerance.
  */
class KmeansSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic integer-valued corpus: three planted blobs + noise. */
  private def corpus(n: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(99)
    (1 to n).map { i =>
      val center = i % 3 match {
        case 0 => Array(0f, 0f, 0f, 0f)
        case 1 => Array(100f, 100f, 0f, 0f)
        case 2 => Array(0f, 0f, 100f, 100f)
      }
      (i.toLong, center.map(c => c + rnd.nextInt(5).toFloat).toSeq)
    }
  }

  /** Reference Lloyd with the SAME seeding contract as trainIvfFull. */
  private def referenceTrain(
      rows: Seq[(Long, Seq[Float])],
      nlist: Int,
      iters: Int): Array[Array[Double]] = {
    val hashed = rows
      .map { case (id, v) => (id, v.map(_.toDouble).toArray) }
    // xxhash64 order: reproduce by collecting through Spark (the hash is
    // engine-defined), then iterate single-threaded
    val order = rows.toDF("id", "vec").orderBy(xxhash64(col("id")))
      .select("id").as[Long].collect()
    val byId = hashed.toMap
    val seeds = order.take(4 * nlist).map(byId)
      .distinctBy(_.toSeq).take(nlist)
    var centroids: Array[Array[Double]] = seeds
    val dim = centroids.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      hashed.foreach { case (_, p) =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < centroids.length) {
          val d = d2(p, centroids(c)); if (d < bestD) { bestD = d; best = c }; c += 1
        }
        counts(best) += 1
        var i = 0; while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  test("trainIvfFull equals the single-threaded reference bit-for-bit on integer vectors") {
    val rows = corpus(300)
    val emb = rows.toDF("vec_id", "embedding").repartition(7)
    val got = Similarity.trainIvfFull(emb, "vec_id", "embedding", nlist = 3, iters = 4)
    val want = referenceTrain(rows, nlist = 3, iters = 4)
    assert(got.centroids.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
  }

  test("trainIvfFull centroids land on the planted blob means (clustering sanity)") {
    val rows = corpus(300)
    val emb = rows.toDF("vec_id", "embedding")
    val got = Similarity.trainIvfFull(emb, "vec_id", "embedding", nlist = 3, iters = 6)
    val blobCenters = Seq(
      Seq(2.0, 2.0, 2.0, 2.0), Seq(102.0, 102.0, 2.0, 2.0), Seq(2.0, 2.0, 102.0, 102.0))
    blobCenters.foreach { c =>
      val nearest = got.centroids.map(k =>
        k.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).min
      assert(nearest < 25.0, s"no trained centroid near blob $c: ${got.centroids.map(_.toSeq).toSeq}")
    }
  }

  test("the per-iteration aggregation is one nlist-keyed exchange (nothing dimensional explodes)") {
    import org.apache.spark.sql.graft.ColumnBridge
    val emb = corpus(50).toDF("vec_id", "embedding")
    val sumCol = ColumnBridge.column(
      graft.expressions.VectorSumAgg(ColumnBridge.eagerExpression(col("embedding")))
        .toAggregateExpression())
    val plan = emb.groupBy(lit(0).as("cell")).agg(sumCol.as("s"))
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("explode") && !plan.toLowerCase.contains("generate"),
      s"vector sums must not explode dimensions:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan)
  }

  test("graft_min_sq_dist: hand values, NaN-to-infinity, null vector") {
    import org.apache.spark.sql.graft.ColumnBridge
    val cents = IndexedSeq(0.0, 0.0, 10.0, 0.0) // two 2-d centroids
    def minD(c: org.apache.spark.sql.Column) = ColumnBridge.column(
      graft.expressions.MinSqDistExpr(ColumnBridge.eagerExpression(c), cents, 2))
    val rows = Seq(
      (1L, Seq(3.0f, 4.0f)),        // 25 to (0,0), 65 to (10,0) -> 25
      (2L, Seq(9.0f, 0.0f)),        // 81 vs 1 -> 1
      (3L, Seq(Float.NaN, 0.0f)),   // NaN to both -> +inf
      (4L, null.asInstanceOf[Seq[Float]]))
      .toDF("id", "v")
    val got = rows.select(col("id"), minD(col("v")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L) === Some(25.0))
    assert(got(2L) === Some(1.0))
    assert(got(3L) === Some(Double.PositiveInfinity))
    assert(got(4L) === None)
  }

  test("kmeans (unit-weight Lloyd) equals the unweighted rule on a tie-heavy integer sample") {
    // the unweighted rule: first k content-distinct seeds, nearest centroid
    // with ties to the lower index, member-count means, an emptied
    // centroid keeps its position; also counts the emptied cells
    def unweighted(points: Array[Array[Double]], k: Int, iters: Int): (Array[Array[Double]], Int) = {
      val dim = points.head.length
      var centroids = points.distinctBy(_.toSeq).take(k)
      var emptied = 0
      for (_ <- 0 until iters) {
        val sums = Array.fill(centroids.length)(new Array[Double](dim))
        val counts = new Array[Long](centroids.length)
        points.foreach { p =>
          val best = centroids.indices.minBy(c =>
            (p.zip(centroids(c)).map { case (a, b) => (a - b) * (a - b) }.sum, c))
          counts(best) += 1
          for (i <- 0 until dim) sums(best)(i) += p(i)
        }
        emptied += counts.count(_ == 0L)
        centroids = centroids.indices.map { c =>
          if (counts(c) == 0L) centroids(c) else sums(c).map(_ / counts(c))
        }.toArray
      }
      (centroids, emptied)
    }
    // duplicates, equidistant points, and a cell that empties mid-run
    val pts = Seq((0, 0), (0, 1), (0, 3), (0, 2), (3, 1), (4, 1), (2, 1), (0, 2), (0, 0), (3, 2),
      (0, 0), (0, 1)).map { case (x, y) => Array(x.toDouble, y.toDouble) }.toArray
    val (want, emptied) = unweighted(pts, k = 4, iters = 4)
    assert(emptied > 0, "the sample must exercise an emptied cluster")
    val got = Similarity.kmeans(pts, k = 4, iters = 4)
    assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
  }

  test("trainIvfFull releases every pin it makes, k-means|| seeding included") {
    graft.operators.Caches.release(blocking = true)
    spark.catalog.clearCache()
    assert(spark.sharedState.cacheManager.isEmpty)
    val emb = corpus(120).toDF("vec_id", "embedding")
    val idx = Similarity.trainIvfFull(emb, "vec_id", "embedding", nlist = 3, iters = 2,
      scalableSeed = true)
    assert(idx.nlist === 3)
    assert(spark.sharedState.cacheManager.isEmpty,
      "the training corpus projections must not outlive the call")
  }

  test("kmeansWeighted: centroids are weighted means, greedy weighted-D² seeding") {
    // two 1-d clusters; weights pull the centroid toward the heavy point
    val pts = Array(Array(0.0), Array(6.0), Array(100.0))
    val w = Array(3L, 1L, 5L)
    val got = Similarity.kmeansWeighted(pts, w, k = 2, iters = 3)
    // seeds: heaviest (100.0) first, then argmax w·d² -> (0.0);
    // cluster {0,6} mean = (3*0+1*6)/4
    assert(got.map(_.toSeq).toSet === Set(Seq(1.5), Seq(100.0)))
    // zero-weight points exert no pull
    val gotZ = Similarity.kmeansWeighted(
      Array(Array(0.0), Array(50.0), Array(100.0)), Array(4L, 0L, 4L), k = 2, iters = 3)
    assert(gotZ.map(_.toSeq).toSet === Set(Seq(0.0), Seq(100.0)))
  }

  test("seedKMeansPar: k seeds, blob coverage, determinism on integer vectors") {
    val rows = corpus(300)
    val emb = rows.toDF("vec_id", "embedding").repartition(7)
    val a = Similarity.seedKMeansPar(emb, "vec_id", "embedding", k = 3)
    val b = Similarity.seedKMeansPar(emb, "vec_id", "embedding", k = 3)
    assert(a.length === 3)
    // integer-valued vectors: phi sums exactly, the whole draw is stable
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // the motivating property: every planted blob attracts a seed region
    val blobCenters = Seq(
      Seq(2.0, 2.0, 2.0, 2.0), Seq(102.0, 102.0, 2.0, 2.0), Seq(2.0, 2.0, 102.0, 102.0))
    blobCenters.foreach { c =>
      val nearest = a.map(k =>
        k.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum).min
      assert(nearest < 200.0, s"no seed near blob $c: ${a.map(_.toSeq).toSeq}")
    }
    // degenerate corpus: fewer distinct vectors than k returns them all
    val tiny = Seq((1L, Seq(1.0f, 1.0f)), (2L, Seq(1.0f, 1.0f)), (3L, Seq(9.0f, 9.0f)))
      .toDF("vec_id", "embedding")
    val deg = Similarity.seedKMeansPar(tiny, "vec_id", "embedding", k = 5)
    assert(deg.map(_.toSeq).toSet === Set(Seq(1.0, 1.0), Seq(9.0, 9.0)))
  }

  test("corrupt vectors are quarantined from seeding and never duplicate recluster seeds") {
    // NaN/Inf/null-element vectors in the corpus: sampling must neither
    // stall (a corrupt candidate's self-distance is NaN, never 0 — phi
    // would stay infinite forever) nor surface them as seeds
    val rows = corpus(120) ++ Seq(
      (9001L, Seq(Float.NaN, 0f, 0f, 0f)),
      (9002L, Seq(Float.PositiveInfinity, 0f, 0f, 0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val seeds = Similarity.seedKMeansPar(emb, "vec_id", "embedding", k = 3)
    assert(seeds.length == 3)
    assert(seeds.forall(_.forall(java.lang.Double.isFinite)),
      seeds.map(_.toSeq).toSeq.toString)
    // driver recluster guard (defense in depth — quarantine means no
    // corrupt candidate normally arrives): a NaN point must not win the
    // greedy argmax repeatedly (NaN ranks above +inf in Ordering[Double])
    val pts = Array(Array(0.0), Array(Double.NaN), Array(100.0), Array(50.0))
    val got = Similarity.kmeansWeighted(pts, Array(5L, 0L, 4L, 1L), k = 3, iters = 2)
    assert(got.map(_.toSeq).toSet === Set(Seq(0.0), Seq(100.0), Seq(50.0)))
    // even a WEIGHTED corrupt point is excluded from every role — seed,
    // argmax, and Lloyd mass (an unguarded Lloyd pass would assign it to
    // centroid 0 and poison it to NaN; second round-15 review finding)
    val got2 = Similarity.kmeansWeighted(pts, Array(5L, 2L, 4L, 1L), k = 3, iters = 2)
    assert(got2.map(_.toSeq).toSet === Set(Seq(0.0), Seq(100.0), Seq(50.0)))
    // a NaN point can never seed, even when it is the heaviest; and with
    // more seats than finite points, seeds stay finite-only
    val got3 = Similarity.kmeansWeighted(
      Array(Array(Double.NaN), Array(7.0)), Array(9L, 1L), k = 2, iters = 1)
    assert(got3.map(_.toSeq).toSeq === Seq(Seq(7.0)))
    // ±Inf points are the other half of the corrupt-value space: same
    // exclusion from seed and mass (d2(Inf, c) = Inf poisons through the
    // weighted sum, not the key)
    val got4 = Similarity.kmeansWeighted(
      Array(Array(Double.PositiveInfinity), Array(1.0), Array(2.0)),
      Array(5L, 3L, 2L), k = 2, iters = 2)
    assert(got4.map(_.toSeq).toSet === Set(Seq(1.0), Seq(2.0)))
    intercept[IllegalArgumentException](
      Similarity.kmeansWeighted(Array(Array(Double.NaN)), Array(1L), k = 1, iters = 1))
    intercept[IllegalArgumentException](
      Similarity.kmeansWeighted(
        Array(Array(Double.PositiveInfinity)), Array(1L), k = 1, iters = 1))
  }

  test("trainIvfFull with scalable seeding lands on the planted blob means") {
    val rows = corpus(300)
    val emb = rows.toDF("vec_id", "embedding")
    val got = Similarity.trainIvfFull(
      emb, "vec_id", "embedding", nlist = 3, iters = 6, scalableSeed = true)
    val blobCenters = Seq(
      Seq(2.0, 2.0, 2.0, 2.0), Seq(102.0, 102.0, 2.0, 2.0), Seq(2.0, 2.0, 102.0, 102.0))
    blobCenters.foreach { c =>
      val nearest = got.centroids.map(k =>
        k.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).min
      assert(nearest < 25.0, s"no trained centroid near blob $c: ${got.centroids.map(_.toSeq).toSeq}")
    }
  }

  test("graft_vec_sum SQL surface and dimension-mismatch loudness") {
    graft.expressions.GraftFunctions.register(spark)
    Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f))).toDF("id", "v")
      .createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT graft_vec_sum(v) AS s FROM vecs").head()
    val s = r.getStruct(0)
    assert(s.getAs[Long]("cnt") === 2L)
    assert(s.getSeq[Double](s.fieldIndex("sums")) === Seq(4.0, 6.0))
    val bad = Seq(Seq(1.0f), Seq(1.0f, 2.0f)).toDF("v")
    intercept[Exception] {
      bad.agg(expr("graft_vec_sum(v)")).collect()
    }
  }
}
