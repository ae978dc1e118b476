package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

/** Distributed BPE training vs an independent in-memory reference
  * implementation (merge-list equality), the greedy within-word merge
  * law, encode/train consistency, and partitioning invariance.
  */
class BpeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- independent single-threaded reference BPE ----

  private def refMergeWord(syms: Vector[String], p: (String, String)): Vector[String] = {
    var acc = Vector.empty[String]
    for (x <- syms)
      if (acc.nonEmpty && acc.last == p._1 && x == p._2) acc = acc.init :+ (p._1 + p._2)
      else acc = acc :+ x
    acc
  }

  private def refTrain(corpus: Seq[String], n: Int, minCount: Long): Seq[(String, String)] = {
    val words = corpus
      .flatMap(_.trim.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong)
    var tbl: Map[Vector[String], Long] =
      words.toSeq.groupMapReduce(kv => kv._1.map(_.toString).toVector)(_._2)(_ + _)
    val out = Seq.newBuilder[(String, String)]
    var rounds = 0
    var done = false
    while (rounds < n && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      for ((syms, wf) <- tbl; i <- 0 until syms.size - 1)
        counts((syms(i), syms(i + 1))) += wf
      val cand = counts.toSeq.filter(_._2 >= minCount)
      if (cand.isEmpty) done = true
      else {
        val pair = cand.sortBy { case ((a, b), c) => (-c, a, b) }.head._1
        out += pair
        tbl = tbl.toSeq.groupMapReduce(kv => refMergeWord(kv._1, pair))(_._2)(_ + _)
        rounds += 1
      }
    }
    out.result()
  }

  private val corpus = Seq(
    "low lower lowest low low",
    "new newer newest new news",
    "the then there the these",
    "low new then lowest newest")

  private def docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("trainMerges equals the in-memory reference, merge for merge") {
    val got = Bpe.trainMerges(docs, "text", numMerges = 12, minPairCount = 1L)
    val want = refTrain(corpus, 12, 1L)
    assert(got === want)
  }

  test("minPairCount stops training early, same as the reference") {
    val got = Bpe.trainMerges(docs, "text", numMerges = 50, minPairCount = 3L)
    val want = refTrain(corpus, 50, 3L)
    assert(got === want)
    assert(got.size < 50, "expected early exhaustion below the cap")
  }

  test("greedy within-word merging is non-overlapping left-to-right") {
    val d = Seq((1L, "aaa aab")).toDF("doc_id", "text")
    val sub = Bpe.encode(d, "text", Seq(("a", "a")))
      .select("subwords").as[Seq[String]].head()
    // "aaa" → [aa, a]; "aab" → [aa, b]
    assert(sub === Seq("aa", "a", "aa", "b"))
  }

  test("encode replays training order and round-trips the characters") {
    val merges = Bpe.trainMerges(docs, "text", numMerges = 8)
    val enc = Bpe.encode(docs, "text", merges)
      .select(col("doc_id"), concat_ws("", col("subwords")).as("glued"),
        concat_ws("", transform(split(trim(col("text")), "\\s+"), w => w)).as("orig"))
      .as[(Long, String, String)].collect()
    enc.foreach { case (id, glued, orig) =>
      assert(glued === orig, s"doc $id: subwords must concatenate back to the words")
    }
    // and the vocabulary actually compresses: fewer symbols than characters
    val stats = Bpe.encode(docs, "text", merges)
      .select(sum(size(col("subwords"))).as("n"), sum(length(regexp_replace(col("text"), "\\s+", ""))).as("c"))
      .as[(Long, Long)].head()
    assert(stats._1 < stats._2, s"merges must shorten the symbol stream: $stats")
  }

  test("training is partitioning-invariant") {
    val got = Bpe.trainMerges(docs.repartition(7), "text", numMerges = 6)
    assert(got === refTrain(corpus, 6, 1L))
  }

  test("encodeFast equals encode row for row (schema, order-insensitive)") {
    val merges = Bpe.trainMerges(docs, "text", numMerges = 10)
    val slow = Bpe.encode(docs, "text", merges)
      .select("doc_id", "subwords").as[(Long, Seq[String])].collect().toMap
    val fast = Bpe.encodeFast(docs, "text", merges)
      .select("doc_id", "subwords").as[(Long, Seq[String])].collect().toMap
    assert(fast === slow)
    assert(Bpe.encodeFast(docs, "text", merges).schema ===
      Bpe.encode(docs, "text", merges).schema.fields.map(f =>
        if (f.name == "subwords") f.copy(nullable = true) else f)
        .foldLeft(new org.apache.spark.sql.types.StructType())(_ add _))
  }

  test("encodeFast: sequential replay, null text, empty text, and no shuffle") {
    // training-order replay must NOT re-fire an earlier merge whose pair
    // string reappears later: merges [(b,c),(a,bc)] applied to "abc" give
    // [a, bc] then [abc]; applied in the OTHER order the (a,bc) pass sees
    // nothing. encode and encodeFast must agree on both orders.
    val d = Seq((1L, "abc"), (2L, null.asInstanceOf[String]), (3L, "   ")).toDF("doc_id", "text")
    for (ms <- Seq(Seq(("b", "c"), ("a", "bc")), Seq(("a", "bc"), ("b", "c")))) {
      val slow = Bpe.encode(d, "text", ms)
        .select("doc_id", "subwords").as[(Long, Option[Seq[String]])].collect().toMap
      val fast = Bpe.encodeFast(d, "text", ms)
        .select("doc_id", "subwords").as[(Long, Option[Seq[String]])].collect().toMap
      assert(fast === slow, s"merge list $ms")
    }
    val plan = Bpe.encodeFast(d, "text", Seq(("a", "b"))).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encodeFast must not shuffle:\n$plan")
  }

  test("encodeFast handles a merge count far beyond expression-tree reach") {
    // 600 merges as the HOF fold would build a ~600-deep Catalyst tree;
    // encodeFast must stay flat. Equality is checked against the spec's
    // in-memory reference applied sequentially.
    val merges = (1 to 600).map(i => (s"x$i", s"y$i")) ++ Seq(("l", "o"), ("lo", "w"))
    val d = Seq((1L, "low lower")).toDF("doc_id", "text")
    val fast = Bpe.encodeFast(d, "text", merges)
      .select("subwords").as[Seq[String]].head()
    assert(fast === Seq("low", "low", "e", "r"))
  }

  test("vocabulary equals the reference: encode every word, weight by frequency") {
    val merges = Bpe.trainMerges(docs, "text", numMerges = 8)
    val got = Bpe.vocabulary(docs, "text", merges)
      .as[(String, Long)].collect().toMap
    val wordFreq = corpus
      .flatMap(_.trim.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong)
    val want = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for ((w, f) <- wordFreq; sub <- merges.foldLeft(w.map(_.toString).toVector)(refMergeWord))
      want(sub) += f
    assert(got === want.toMap)
    // total mass conservation: Σ weights = Σ per-word subword counts × wf
    assert(got.values.sum ===
      Bpe.encode(docs, "text", merges)
        .select(sum(size(col("subwords")))).as[Long].head())
  }

  test("checkpointed training: fresh run, resume, crash repair, and exhaustion marker") {
    val plain12 = refTrain(corpus, 12, 1L)
    // fresh: equals plain training
    val p1 = java.nio.file.Files.createTempDirectory("bpe_ckpt").toString
    assert(Bpe.trainMergesCheckpointed(docs, "text", 12, p1, checkpointEvery = 4) === plain12)
    // a stored model covering the ask returns its prefix without retraining
    assert(Bpe.trainMergesCheckpointed(docs, "text", 7, p1) === plain12.take(7))
    // resume: 5 rounds now, 12 later — same model as one uninterrupted run
    val p2 = java.nio.file.Files.createTempDirectory("bpe_ckpt").toString
    assert(Bpe.trainMergesCheckpointed(docs, "text", 5, p2, checkpointEvery = 2) === plain12.take(5))
    assert(Bpe.trainMergesCheckpointed(docs, "text", 12, p2, checkpointEvery = 3) === plain12)
    // crash repair: merges ahead of the table snapshot (the documented
    // crash window) — overwrite merges with the 8-round model while the
    // table stays at 5 rounds, then resume to 12
    val p3 = java.nio.file.Files.createTempDirectory("bpe_ckpt").toString
    Bpe.trainMergesCheckpointed(docs, "text", 5, p3, checkpointEvery = 5)
    graft.sources.Sinks.writePartitionedAtomic(
      plain12.take(8).zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "a", "b").coalesce(1),
      s"$p3/merges", Nil)
    assert(Bpe.trainMergesCheckpointed(docs, "text", 12, p3, checkpointEvery = 4) === plain12)
    // missing table: rebuilt from the corpus by replaying the model
    val fs = new org.apache.hadoop.fs.Path(p3).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p3/table"), true)
    assert(Bpe.trainMergesCheckpointed(docs, "text", 12, p3) === plain12)
    // exhaustion is durable: a minPairCount that dries up early returns
    // the same short model on re-ask without touching the corpus again
    val p4 = java.nio.file.Files.createTempDirectory("bpe_ckpt").toString
    val short1 = Bpe.trainMergesCheckpointed(docs, "text", 50, p4, minPairCount = 3L)
    assert(short1 === refTrain(corpus, 50, 3L) && short1.size < 50)
    assert(Bpe.trainMergesCheckpointed(docs, "text", 50, p4, minPairCount = 3L) === short1)
  }

  test("merge rounds plan over a constant-size table: the plan does not grow with the merge count") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    // the largest executed plan (as rendered text) among the queries one
    // training run executes; delivery is asynchronous but ordered, so a
    // marker query after training waits for all of them
    def largestPlan(n: Int): Int = {
      val marker = "__bpe_plan_marker"
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Int)]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          seen.add((qe.analyzed.output.exists(_.name == marker), qe.executedPlan.treeString.length))
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        assert(Bpe.trainMerges(docs, "text", n) === refTrain(corpus, n, 1L))
        spark.range(1).toDF(marker).collect()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!seen.asScala.exists(_._1) && System.nanoTime() < deadline) Thread.sleep(25L)
      } finally spark.listenerManager.unregister(listener)
      seen.asScala.filterNot(_._1).map(_._2).max
    }
    val at4 = largestPlan(4)
    val at12 = largestPlan(12)
    assert(at12 < 2 * at4, s"the largest training plan grew from $at4 to $at12 chars")
  }

  test("pairCounts weights pairs by word frequency, multiplicity included") {
    val wf = Seq(("aba", 3L), ("ab", 2L)).toDF("word", "wf")
    val pc = Bpe.pairCounts(Bpe.initialSymbolTable(wf))
      .as[(String, String, Long)].collect().toSet
    assert(pc === Set(("a", "b", 5L), ("b", "a", 3L)))
  }

  // ---- byte-level alphabet ----

  private def refTrainBytes(corpus: Seq[String], n: Int, minCount: Long): Seq[(String, String)] = {
    val mapped = corpus.map(t =>
      t.trim.split("\\s+").filter(_.nonEmpty)
        .map(w => new String(
          w.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.charset.StandardCharsets.ISO_8859_1))
        .mkString(" "))
    refTrain(mapped, n, minCount)
  }

  test("trainMergesBytes equals the reference over the byte alphabet") {
    // non-ASCII words force multi-byte UTF-8: ü is 2 bytes, ✓ is 3
    val c = Seq("über über üben", "check ✓ check ✓✓", "über check")
    val d = c.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Bpe.trainMergesBytes(d, "text", numMerges = 10, minPairCount = 1L)
    assert(got === refTrainBytes(c, 10, 1L))
  }

  test("byte-level encode round-trips ANY input through fromByteAlphabet — no OOV") {
    val merges = Bpe.trainMergesBytes(docs, "text", numMerges = 8, minPairCount = 2L)
    // input with words and code points training never saw (CJK, emoji,
    // multi-byte punctuation) — a char-level model would be stuck; the
    // byte model decomposes them into byte symbols
    val oov = Seq((0L, "数据 processing ✓ naïve café 🚀 low"))
      .toDF("doc_id", "text")
    val enc = Bpe.encodeBytes(oov, "text", merges)
      .select(Bpe.fromByteAlphabet(concat_ws("", col("subwords"))).as("rt"))
      .as[String].head()
    assert(enc === "数据processing✓naïvecafé🚀low",
      "concatenated subwords must decode to the original words (boundaries unmerged)")
  }

  test("encodeFastBytes equals encodeBytes row for row") {
    val merges = Bpe.trainMergesBytes(docs, "text", numMerges = 10, minPairCount = 1L)
    val d = docs.unionByName(Seq((99L, "naïve ✓ über low")).toDF("doc_id", "text"))
    val slow = Bpe.encodeBytes(d, "text", merges)
      .select("doc_id", "subwords").as[(Long, Seq[String])].collect().toMap
    val fast = Bpe.encodeFastBytes(d, "text", merges)
      .select("doc_id", "subwords").as[(Long, Seq[String])].collect().toMap
    assert(fast === slow)
  }

  test("vocabularyBytes: weights times lengths sum to the corpus byte mass") {
    val merges = Bpe.trainMergesBytes(docs, "text", numMerges = 10, minPairCount = 1L)
    val d = docs.unionByName(Seq((99L, "naïve ✓ über")).toDF("doc_id", "text"))
    val vocabMass = Bpe.vocabularyBytes(d, "text", merges)
      .select((col("weight") * length(col("subword"))).as("m"))
      .agg(sum("m")).as[Long].head()
    val corpusMass = d.as[(Long, String)].collect().map { case (_, t) =>
      t.trim.split("\\s+").filter(_.nonEmpty)
        .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
    }.sum
    assert(vocabMass === corpusMass,
      "every corpus byte must be accounted to exactly one weighted subword")
  }

  test("byte mass is merge-invariant: subword lengths sum to token octet length") {
    val merges = Bpe.trainMergesBytes(docs, "text", numMerges = 12, minPairCount = 1L)
    val d = docs.unionByName(Seq((99L, "✓ über 数据")).toDF("doc_id", "text"))
    val got = Bpe.encodeFastBytes(d, "text", merges)
      .select(col("doc_id"),
        aggregate(col("subwords"), lit(0L), (acc, sw) => acc + length(sw)).as("n"))
      .as[(Long, Long)].collect().toMap
    val want = d.as[(Long, String)].collect().map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty)
        .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
    }.toMap
    assert(got === want)
  }
}
