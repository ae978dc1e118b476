package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Caches, Graphs}

class GraphsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Driver-side mirror of the integer recurrence — the spec's ground
    * truth is the same arithmetic, independently composed.
    */
  private def reference(
      edges: Seq[(Long, Long)],
      ids: Seq[Long],
      iters: Int,
      scale: Long = 1000000L): Map[Long, Long] = {
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = ids.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val inbox = edges
        .map { case (s, d) => d -> rank(s) / outdeg(s) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      rank = ids.map(i => i -> (15L * scale / 100L + 85L * inbox.getOrElse(i, 0L) / 100L)).toMap
    }
    rank
  }

  test("pageRankInt matches the integer recurrence exactly; no-inlink nodes settle at base") {
    val ids = (1L to 5L).toSeq
    // 5 is a source (no in-links); 1 has the most in-links
    val edgeList = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 4L), (5L, 1L))
    val edges = edgeList.toDF("src", "dst")
    val nodes = ids.toDF("id")
    val got = Graphs.pageRankInt(edges, "src", "dst", nodes, "id", iters = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank")).toMap
    assert(got === reference(edgeList, ids, iters = 4))
    assert(got(5L) === 150000L, "a node nothing links to settles at the damping base")
    assert(got(1L) === got.values.max, "the most-linked node must rank highest")
    Caches.release()
  }

  test("pageRankInt is exactly reproducible under a different physical layout") {
    val edgeList = (0L until 200L).flatMap(i => Seq((i, (i * 7 + 1) % 200), (i, (i * 13 + 3) % 200)))
    val nodes = (0L until 200L).toDF("id")
    def run(parts: Int) = {
      val out = Graphs.pageRankInt(
        edgeList.toDF("src", "dst").repartition(parts), "src", "dst", nodes, "id", iters = 5)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank")).toMap
      Caches.release()
      out
    }
    val a = run(1)
    val b = run(13)
    assert(a === b, "integer rounds cannot depend on partitioning or aggregation order")
    assert(a === reference(edgeList, 0L until 200L, iters = 5))
  }

  /** Independent ground truth: driver-side union-find with path halving. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        parent(r) = parent.getOrElse(parent(r), parent(r))
        r = parent(r)
      }
      r
    }
    for ((a, b) <- edges if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // incident = touched by at least one non-self-loop edge (the
    // operator's coverage contract); roots are already minima because
    // union always hangs the larger root under the smaller
    val incident = edges.filter(e => e._1 != e._2).flatMap(t => Seq(t._1, t._2)).distinct
    incident.map(i => i -> find(i)).toMap
  }

  private def cc(edges: Seq[(Long, Long)], maxIters: Int = 30): Map[Long, Long] = {
    val out = Graphs.connectedComponents(
      edges.toDF("a", "b"), "a", "b", maxIters = maxIters)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    Caches.release(blocking = true)
    out
  }

  test("connectedComponents: chain, triangle+tail, two components, dup/reversed edges, self-loops") {
    // one chain 1–2–3–4, a triangle {10,11,12} with tail 13, noise:
    // duplicate edges, both orientations, and a self-loop to drop
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L), (13L, 12L),
      (3L, 2L), (2L, 3L), (5L, 5L))
    val got = cc(edges)
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L),
      "components must label every incident node with its component minimum; " +
        "the self-looped 5 is isolated and must be absent")
  }

  test("connectedComponents matches union-find on random graphs across densities") {
    val rnd = new scala.util.Random(41)
    for (trial <- 0 until 6) {
      val n = 40 + trial * 20
      val m = n / 2 + trial * n // sparse → dense
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(cc(edges) === unionFind(edges), s"trial $trial (n=$n, m=$m)")
    }
  }

  test("connectedComponents converges on a 2000-node path in few rounds (the O(log² n) witness)") {
    // a pure path is the adversarial diameter case for label propagation
    // (2000 rounds); star alternation must close it in well under 15
    val edges = (1L until 2000L).map(i => (i, i - 1))
    val got = cc(edges, maxIters = 15)
    assert(got.size === 2000 && got.values.forall(_ === 0L))
  }

  test("connectedComponents agrees with GraphX Pregel on a clustered pair set") {
    // GraphX is the independent engine here (Dedup.duplicateClusters now
    // delegates to the DataFrame path, so comparing through it would be
    // the implementation checking itself)
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 300).map { _ =>
      val c = rnd.nextInt(20) * 100L
      (c + rnd.nextInt(8), c + rnd.nextInt(8))
    }.filter(p => p._1 != p._2)
    val ours = cc(pairs)
    val graphx = org.apache.spark.graphx.Graph
      .fromEdgeTuples(spark.sparkContext.parallelize(pairs), defaultValue = 0)
      .connectedComponents()
      .vertices.collect().toMap
    assert(ours === graphx)
  }

  test("connectedComponents result survives a global cache release (checkpointed, not pinned)") {
    val out = Graphs.connectedComponents(
      Seq((1L, 2L), (3L, 2L), (5L, 4L)).toDF("a", "b"), "a", "b")
    Caches.release(blocking = true)
    spark.catalog.clearCache()
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("pageRankInt at 30 rounds (past two lineage cuts) equals the integer recurrence") {
    val edgeList = (0L until 120L).flatMap(i => Seq((i, (i * 5 + 2) % 120), (i, (i * 11 + 7) % 120)))
    val got = Graphs.pageRankInt(
      edgeList.toDF("src", "dst"), "src", "dst", (0L until 120L).toDF("id"), "id", iters = 30)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank")).toMap
    assert(got === reference(edgeList, 0L until 120L, iters = 30),
      "cutting the rank frame must not change a single rank bit")
    Caches.release(blocking = true)
  }

  test("pageRankInt's plan size stays bounded past its cut cadence (20 vs 30 rounds)") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    def planNodes(iters: Int): Int = {
      val df = Graphs.pageRankInt(edges, "src", "dst", nodes, "id", iters = iters)
      var n = 0
      df.queryExecution.analyzed.foreach(_ => n += 1)
      n
    }
    // both end 10 rounds past their last cut → identical lazy tails; an
    // uncut plan would differ by 10 rounds' worth of join subtrees
    val at20 = planNodes(20)
    val at30 = planNodes(30)
    assert(at20 === at30, s"plan must not grow with iters past a cut ($at20 vs $at30)")
    Caches.release(blocking = true)
  }

  test("pageRankInt's prep pin is released by the caller's scope, not leaked") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L).toDF("id")
    val scope = Caches.newScope()
    // track by RDD id, not count: the ContextCleaner reclaims superseded
    // localCheckpoint blocks from earlier tests (connectedComponents
    // rounds) at its own pace, so absolute counts race
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Caches.inScope(scope)(Graphs.pageRankInt(edges, "src", "dst", nodes, "id", iters = 2))
    out.collect()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty,
      "the prep table must actually be pinned while the result is consumed")
    scope.release(blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet & pinned).isEmpty,
      "scope.release must drop exactly the frames this call pinned")
  }

  test("triangleCounts: closed forms — K4, path, ring-with-chords") {
    def counts(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Graphs.triangleCounts(edges.toDF("s", "d"), "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4: 4 triangles total, every vertex on 3 of them
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(counts(k4) === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // a path has no triangles at all → empty output by contract
    assert(counts(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === Map.empty)
    // duplicate/reversed/self-loop edges collapse before counting
    assert(counts(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (2L, 2L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts matches a brute-force mirror on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = (1 to 150).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val got = Graphs.triangleCounts(edges.toDF("s", "d"), "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute force: canonical edge set, all id triples
      val e = edges.filter(t => t._1 != t._2)
        .map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).toSet
      val mirror = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (a <- 0L until n; b <- (a + 1) until n; c <- (b + 1) until n)
        if (e((a, b)) && e((b, c)) && e((a, c))) {
          mirror(a) += 1; mirror(b) += 1; mirror(c) += 1
        }
      assert(got === mirror.toMap, s"trial $trial")
      // every triangle counted at exactly 3 corners
      assert(got.values.sum % 3 === 0)
    }
  }

  test("kCore: multi-round peel closed forms and brute-force mirror") {
    def core(edges: Seq[(Long, Long)], k: Int, maxRounds: Int = 20): Map[Long, Long] =
      Graphs.kCore(edges.toDF("s", "d"), "s", "d", k, maxRounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // triangle with a 2-chain tail: k=2 peels the tail over TWO rounds,
    // the triangle survives with degree 2 everywhere
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    assert(core(g, 2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=3 dissolves the triangle entirely — empty core, no partial residue
    assert(core(g, 3) === Map.empty)
    // K4 is its own 3-core
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(core(k4, 3) === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // a peel needing more rounds than allowed throws instead of lying
    val chain = (1L to 6L).sliding(2).map(p => (p(0), p(1))).toSeq
    val ex = intercept[IllegalStateException] { core(chain, 2, maxRounds = 2) }
    assert(ex.getMessage.contains("still peeling"))
    // random graphs vs sequential peel mirror
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 2) {
      val n = 25
      val edges = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val got = core(edges, 3)
      var e = edges.filter(t => t._1 != t._2)
        .map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).toSet
      var stable = false
      while (!stable) {
        val deg = e.toSeq.flatMap(t => Seq(t._1, t._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
        val keep = deg.filter(_._2 >= 3).keySet
        val ne = e.filter(t => keep(t._1) && keep(t._2))
        stable = ne == e
        e = ne
      }
      val mirror = e.toSeq.flatMap(t => Seq(t._1, t._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got === mirror, s"trial $trial")
    }
  }

  /** Driver-side mirror of the integer HITS recurrence. */
  private def hitsReference(
      edges: Seq[(Long, Long)],
      ids: Seq[Long],
      iters: Int,
      scale: Long = 1000000L): Map[Long, (Long, Long)] = {
    var hub = ids.map(_ -> scale).toMap
    var auth = hub
    def half(scores: Map[Long, Long], bySrc: Boolean): Map[Long, Long] = {
      val sums = edges
        .map { case (s, d) => (if (bySrc) d else s) -> scores(if (bySrc) s else d) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val raw = ids.map(i => i -> sums.getOrElse(i, 0L)).toMap
      val mx = math.max(raw.values.max, 1L)
      raw.view.mapValues(v => v * scale / mx).toMap
    }
    for (_ <- 1 to iters) {
      auth = half(hub, bySrc = true)
      hub = half(auth, bySrc = false)
    }
    ids.map(i => i -> ((hub(i), auth(i)))).toMap
  }

  test("hitsInt matches the integer recurrence; directories and content separate") {
    // 1..4 all point at 5 and 6 (content); 5,6 point at nothing
    val edgeList = Seq((1L, 5L), (1L, 6L), (2L, 5L), (2L, 6L), (3L, 5L), (4L, 6L))
    val ids = (1L to 6L).toSeq
    val got = Graphs.hitsInt(
      edgeList.toDF("src", "dst"), "src", "dst", ids.toDF("id"), "id", iters = 3)
      .collect().map(r => r.getAs[Long]("id") -> ((r.getAs[Long]("hub"), r.getAs[Long]("authority")))).toMap
    assert(got === hitsReference(edgeList, ids, 3))
    assert(got(5L)._2 > 0 && got(6L)._2 > 0, "pointed-at pages take authority")
    assert(got(5L)._1 === 0L, "pure content has zero hub score")
    assert(got(1L)._2 === 0L, "pure directories have zero authority")
    assert(got(1L)._1 === 1000000L, "the best hub pins at exactly scale")
    Caches.release()
  }

  test("hitsInt is exactly reproducible under a different physical layout") {
    val edgeList = (0L until 150L).flatMap(i => Seq((i, (i * 7 + 1) % 150), (i, i % 10)))
    val ids = (0L until 150L).toSeq
    def run(parts: Int) = Graphs.hitsInt(
      edgeList.toDF("src", "dst").repartition(parts), "src", "dst",
      ids.toDF("id"), "id", iters = 4)
      .collect().map(r => r.getAs[Long]("id") -> ((r.getAs[Long]("hub"), r.getAs[Long]("authority")))).toMap
    val a = run(3)
    val b = run(17)
    assert(a === b, "integer rounds cannot depend on partitioning")
    assert(a === hitsReference(edgeList, ids, 4))
    assert(a.values.map(_._2).max === 1000000L)
    Caches.release()
  }
}
