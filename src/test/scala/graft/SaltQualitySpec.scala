package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Quality, Salt}
import graft.sources.Tables

class SaltQualitySpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("saltedJoin reproduces the plain join exactly, inner and left") {
    val skewed = (1 to 2000).map(i => (if (i <= 1800) 1L else i.toLong, s"row$i"))
      .toDF("k", "payload") // key 1 holds 90% of rows
    val dim = Seq((1L, "hot"), (5L, "cold"), (9999L, "unmatched")).toDF("k", "label")
    Seq("inner", "left").foreach { how =>
      val plain = skewed.join(dim, Seq("k"), how)
      val salted = Salt.saltedJoin(skewed, dim, Seq("k"), saltFactor = 8, joinType = how)
      assert(salted.count() == plain.count(), s"$how counts")
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty, s"$how rows")
    }
  }

  test("saltedJoin splits a hot key across salt values") {
    val skewed = (1 to 1000).map(i => (1L, s"row$i")).toDF("k", "payload")
    val dim = Seq((1L, "hot")).toDF("k", "label")
    // count distinct salts actually used on the big side
    val salts = Salt.saltedJoin(skewed, dim, Seq("k"), saltFactor = 8)
      .select(pmod(xxhash64(col("payload")), lit(8L)).as("s")) // same derivation as the operator
      .distinct().count()
    assert(salts > 4, s"hot key must spread over most of the 8 salts, got $salts")
  }

  test("skewReport finds hot keys with exact counts and ceil salt factors") {
    // 90 rows on the hot key, 10 singletons: at minShare 0.5 only "hot"
    // qualifies; salt = ceil(0.9 * 10) = 9
    val df = ((1 to 90).map(i => ("hot", i.toLong)) ++
      (1 to 10).map(i => (s"cold$i", i.toLong))).toDF("k", "v")
    val got = Salt.skewReport(df, Seq("k"), minShare = 0.5, numPartitions = 10)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("n_rows"),
        r.getAs[Double]("share"), r.getAs[Long]("salt_factor")))
    assert(got.toSeq == Seq(("hot", 90L, 0.9, 9L)))
  }

  test("skewReport: multi-key and null keys form real countable groups") {
    val df = (
      (1 to 40).map(_ => (Option("a"), Option("x"))) ++
      (1 to 40).map(_ => (Option.empty[String], Option.empty[String])) ++
      (1 to 20).map(i => (Option(s"t$i"), Option("x")))
    ).toDF("k1", "k2")
    val got = Salt.skewReport(df, Seq("k1", "k2"), minShare = 0.3, numPartitions = 4)
      .collect().map(r => ((Option(r.getAs[String]("k1")), Option(r.getAs[String]("k2"))),
        (r.getAs[Long]("n_rows"), r.getAs[Long]("salt_factor")))).toMap
    assert(got == Map(
      (Some("a"), Some("x")) -> ((40L, 2L)),
      (None, None) -> ((40L, 2L))), s"got $got")
  }

  test("skewReport: exact-boundary share qualifies; sub-threshold keys never appear") {
    // 25 of 100 rows at minShare 0.25 — the >= boundary must include it
    val df = ((1 to 25).map(_ => "edge") ++ (1 to 75).map(i => s"u$i")).toDF("k")
    val keys = Salt.skewReport(df, Seq("k"), minShare = 0.25, numPartitions = 8)
      .select("k").as[String].collect().toSet
    assert(keys == Set("edge"))
    // empty input → empty report, not a crash
    assert(Salt.skewReport(df.where(lit(false)), Seq("k"), 0.5).count() == 0L)
  }

  test("columnProfile: one row per column with sane stats") {
    val prof = Quality.columnProfile(Tables.load(spark, "/root/testdata/sf0.001", "orders"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(prof.keySet.contains("o_orderkey"))
    val key = prof("o_orderkey")
    assert(key.getAs[Double]("null_fraction") == 0.0)
    assert(key.getAs[Long]("approx_distinct") > 1000)
    assert(key.getAs[String]("min_value").toLong < key.getAs[String]("max_value").toLong)
    val status = prof("o_orderstatus")
    assert(status.getAs[Long]("approx_distinct") <= 4)
  }

  test("pairAgreementReport: orientation-normalized confusion counts, empty denominators are 0.0") {
    // exact truth: {1-2, 3-4, 5-6}; approx found: {2-1 (reversed + duplicated), 3-4, 7-8}
    val exact = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val approx = Seq((2L, 1L), (1L, 2L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val r = Quality.pairAgreementReport(approx, exact, "id_a", "id_b").head()
    assert((r.getAs[Long]("n_exact"), r.getAs[Long]("n_approx"), r.getAs[Long]("true_pos"),
      r.getAs[Long]("false_pos"), r.getAs[Long]("false_neg")) === ((3L, 3L, 2L, 1L, 1L)),
      s"reversed orientation must merge and duplicates collapse: $r")
    assert(r.getAs[Double]("precision") === 2.0 / 3.0)
    assert(r.getAs[Double]("recall") === 2.0 / 3.0)
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val e = Quality.pairAgreementReport(empty, exact, "id_a", "id_b").head()
    assert(e.getAs[Double]("precision") === 0.0 && e.getAs[Double]("recall") === 0.0,
      "empty approx set: precision/recall are 0.0, never NaN")
  }

  test("stream-static broadcast enrichment joins each micro-batch against the dim") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams.Evt
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[Evt]
    val query = input.toDF()
      .join(broadcast(dim), Seq("user_id"), "left")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      input.addData(Evt(1L, new java.sql.Timestamp(0), 1.0), Evt(3L, new java.sql.Timestamp(0), 2.0))
      query.processAllAvailable()
      val out = spark.table("enriched").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[String]("tier")).toMap
      assert(out == Map(1L -> "gold", 3L -> null))
    } finally query.stop()
  }

  test("quantileNormalize: hand-computed pooled order statistics; null exclusion; no cartesian") {
    // pooled sorted: 1,2,3,4,100,200 (N=6)
    // src A ranks 1..4 → k = ⌈r·6/4⌉ = 2,3,5,6 → norms 2,3,100,200
    // src B ranks 1..2 → k = ⌈r·6/2⌉ = 3,6  → norms 3,200
    val docs = Seq(
      (1L, Option("A"), Option(1L)), (2L, Option("A"), Option(2L)),
      (3L, Option("A"), Option(3L)), (4L, Option("A"), Option(4L)),
      (5L, Option("B"), Option(100L)), (6L, Option("B"), Option(200L)),
      (7L, None: Option[String], Option(50L)),
      (8L, Option("A"), None: Option[Long])).toDF("id", "source", "score")
    val out = graft.operators.Quality.quantileNormalize(docs, "id", "source", "score")
    val got = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      1L -> ((2L, 2L)), 2L -> ((3L, 3L)), 3L -> ((5L, 100L)), 4L -> ((6L, 200L)),
      5L -> ((3L, 3L)), 6L -> ((6L, 200L))),
      "null-source and null-score rows are excluded; the rest map to pooled order stats")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"the order-statistic lookup must be a broadcast range join, never a cartesian:\n$plan")
    // fractional scores must refuse, not silently truncate to {0, 1}
    val frac = Seq((1L, "A", 0.7), (2L, "A", 0.3)).toDF("id", "source", "score")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Quality.quantileNormalize(frac, "id", "source", "score")
    }
    assert(ex.getMessage.contains("INTEGRAL"))
    graft.operators.Caches.release(blocking = true)
  }

  test("datasetCard: hand-computed sections on a tiny corpus; values all integral; scope release") {
    val docs = Seq(
      (1L, "the cat sat on the mat", "web"),
      (2L, "the cat sat on the mat", "web"), // exact dup of 1
      (3L, "zz qq ww", "books"), // no stopwords
      (4L, "!!!???!!!", "web"), // high punct, no letters → script unknown
      (5L, "el gato y la casa es de su amigo con una mesa para los dias", "books"))
      .toDF("doc_id", "text", "source")
    val card = graft.operators.Quality.datasetCard(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(card(("corpus", "n_docs")) === 5L)
    assert(card(("corpus", "total_tokens")) === 6L + 6L + 3L + 1L + 15L)
    assert(card(("corpus", "distinct_texts")) === 4L)
    assert(card(("corpus", "exact_dup_docs")) === 1L)
    assert(card(("flags", "no_stopword_docs")) === 3L, "zz-doc, punct-doc, and the Spanish doc have tokens, zero ENGLISH stopwords")
    assert(card(("flags", "short_docs")) === 4L, "all but the 15-token Spanish doc are under 10 tokens")
    assert(card(("flags", "high_punct_docs")) === 1L)
    assert(card(("lang", "en")) === 2L && card(("lang", "es")) === 1L)
    assert(card(("script", "latin")) === 4L && card(("script", "unknown")) === 1L)
    assert(card(("source", "web")) === 3L && card(("source", "books")) === 2L)
    graft.operators.Caches.release(blocking = true)
  }

  test("cardDiff: full-outer on (section, metric); absent metrics read as zero") {
    val docsOld = Seq(
      (1L, "the cat sat on the mat", "web"),
      (2L, "zz qq ww", "books")).toDF("doc_id", "text", "source")
    val docsNew = Seq(
      (1L, "the cat sat on the mat", "web"),
      (2L, "zz qq ww", "books"),
      (3L, "el gato y la casa es de su amigo con una mesa para los dias", "books"))
      .toDF("doc_id", "text", "source")
    val q = graft.operators.Quality
    val diff = q.cardDiff(
      q.datasetCard(docsOld, "doc_id", "text", "source"),
      q.datasetCard(docsNew, "doc_id", "text", "source"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(diff(("corpus", "n_docs")) === ((2L, 3L, 1L)))
    assert(diff(("corpus", "total_tokens")) === ((9L, 24L, 15L)))
    // 'es' exists only in the NEW card: old side must read 0, not drop
    assert(diff(("lang", "es")) === ((0L, 1L, 1L)))
    assert(diff(("source", "books")) === ((1L, 2L, 1L)))
    graft.operators.Caches.release(blocking = true)
  }

  test("quantileNormalize: pin routes through the caller's scope and releases with it") {
    val docs = Seq((1L, "A", 1L), (2L, "A", 2L), (3L, "B", 5L)).toDF("id", "source", "score")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val scope = graft.operators.Caches.newScope()
    graft.operators.Caches.inScope(scope) {
      graft.operators.Quality.quantileNormalize(docs, "id", "source", "score")
    }.collect()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty, "the scored frame must be pinned while the call runs")
    scope.release(blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet & pinned).isEmpty,
      "scope.release must drop exactly the frames this call pinned")
  }

  test("compressionReport: driver mirror bit-identical; NULL/empty conventions; SQL face") {
    // sizes matter: below ~200 bytes the DEFLATE header dominates every
    // ratio, and a HEX string is genuinely 4-bit-compressible — so
    // natural prose is ~700 B of varied sentences and noise draws from
    // the full printable range (~6.6 bits/char ceiling)
    val natural = (1 to 12).map(i =>
      s"paragraph $i mixes common words with rarer tokens like marmalade, " +
        s"quixotic, and ferrous to stay naturally redundant without looping.").mkString(" ")
    val repetitive = "ab" * 400
    val rnd = new scala.util.Random(7)
    val noisy = Array.fill(700)((33 + rnd.nextInt(94)).toChar).mkString
    val docs = Seq(
      (1L, natural), (2L, repetitive), (3L, noisy),
      (4L, null.asInstanceOf[String]), (5L, "")).toDF("id", "text")
    val got = graft.operators.Quality.compressionReport(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getAs[Integer]("raw_bytes")).map(_.toInt),
          Option(r.getAs[Integer]("deflate_bytes")).map(_.toInt),
          Option(r.getAs[java.lang.Double]("ratio")).map(_.toDouble)))).toMap
    // bit-identical driver mirror (same Deflater construction)
    def mirror(s: String): Int = graft.expressions.DeflateLenExpr.deflatedLen(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    for ((id, s) <- Seq(1L -> natural, 2L -> repetitive, 3L -> noisy)) {
      val (raw, dl, ratio) = got(id)
      assert(raw.get === s.getBytes("UTF-8").length && dl.get === mirror(s))
      assert(ratio.get === dl.get.toDouble / raw.get)
    }
    assert(got(4L) === ((None, None, None)), "NULL text stays a NULL row, never dropped")
    assert(got(5L)._1 === Some(0))
    assert(got(5L)._3 === Some(0.0), "empty text reports ratio 0 by convention")
    // the discrimination law the signal exists for
    val ratio = got.view.mapValues(_._3).toMap
    assert(ratio(2L).get < ratio(1L).get && ratio(1L).get < ratio(3L).get,
      s"repetitive ≪ natural ≪ random: $ratio")
    assert(ratio(3L).get > 0.5 && ratio(2L).get < 0.1)
    // SQL surface
    graft.expressions.GraftFunctions.register(spark)
    val viaSql = spark.sql(s"SELECT graft_deflate_len('$natural')").first.getInt(0)
    assert(viaSql === mirror(natural))
  }

  test("fleissKappa: textbook values, rater-identity independence, NULL drop") {
    import spark.implicits._
    // perfect agreement: every item rated identically by 3 raters, labels vary across items
    val perfect = (1L to 12L).flatMap(i => Seq.fill(3)((i, i % 3))).toDF("item", "label")
    val p = graft.operators.Quality.fleissKappa(perfect, "item", "label").head()
    assert(p.getAs[Long]("n_items") === 12L && p.getAs[Long]("n_raters") === 3L)
    assert(p.getAs[Double]("p_bar") === 1.0 && p.getAs[Double]("kappa") === 1.0)
    // degenerate unanimity (one category everywhere): p_e = 1 → kappa 1, not 0/0
    val unanimous = (1L to 5L).flatMap(i => Seq.fill(2)((i, 7))).toDF("item", "label")
    assert(graft.operators.Quality.fleissKappa(unanimous, "item", "label")
      .head().getAs[Double]("kappa") === 1.0)
    // hand-computed panel: 2 items × 2 raters. item 1: {a,a}, item 2: {a,b}
    // S2 = (4) + (1+1) = 6; N·n = 4; P̄ = (6−4)/(4·1) = 0.5
    // T_a = 3, T_b = 1; P̄e = (9+1)/16 = 0.625; κ = (0.5−0.625)/0.375 = −1/3
    val mixed = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b")).toDF("item", "label")
    val m = graft.operators.Quality.fleissKappa(mixed, "item", "label").head()
    assert(m.getAs[Double]("p_bar") === 0.5 && m.getAs[Double]("p_e") === 0.625)
    assert(math.abs(m.getAs[Double]("kappa") - (-1.0 / 3.0)) < 1e-15)
    // NULL labels are missing ratings, not categories — dropping them here
    // unbalances the panel, which must then fail loudly
    val withNull = Seq((1L, Some("a")), (1L, Some("a")), (2L, Some("a")), (2L, None))
      .toDF("item", "label")
    val ex = intercept[Exception] {
      graft.operators.Quality.fleissKappa(withNull, "item", "label").collect()
    }
    assert((ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse(""))
      .contains("unbalanced"))
    // n = 1 refused
    val solo = Seq((1L, "a"), (2L, "b")).toDF("item", "label")
    val ex2 = intercept[Exception] {
      graft.operators.Quality.fleissKappa(solo, "item", "label").collect()
    }
    assert((ex2.getMessage + Option(ex2.getCause).map(_.getMessage).getOrElse(""))
      .contains("n >= 2"))
    graft.operators.Caches.release()
  }

  test("cohenKappa: hand-computed panel, rater marginals matter, loud contract violations") {
    import spark.implicits._
    // 10 items; raters agree on 6. r1 marginals: x=5, y=5; r2: x=6, y=4
    // p_o = 0.6; p_e = (5·6 + 5·4)/100 = 0.5; κ = 0.1/0.5 = 0.2
    val panel = Seq(
      (1L, "r1", "x"), (1L, "r2", "x"), (2L, "r1", "x"), (2L, "r2", "x"),
      (3L, "r1", "x"), (3L, "r2", "x"), (4L, "r1", "y"), (4L, "r2", "y"),
      (5L, "r1", "y"), (5L, "r2", "y"), (6L, "r1", "y"), (6L, "r2", "y"),
      (7L, "r1", "x"), (7L, "r2", "y"), (8L, "r1", "x"), (8L, "r2", "y"),
      (9L, "r1", "y"), (9L, "r2", "x"), (10L, "r1", "y"), (10L, "r2", "x"))
      .toDF("item", "rater", "label")
    val row = graft.operators.Quality.cohenKappa(panel, "item", "rater", "label").head()
    assert(row.getAs[Long]("n_items") === 10L && row.getAs[Long]("n_categories") === 2L)
    assert(row.getAs[Double]("p_o") === 0.6 && row.getAs[Double]("p_e") === 0.5)
    assert(math.abs(row.getAs[Double]("kappa") - 0.2) < 1e-15)
    // a label only ONE rater ever uses still counts as a category (marginal 0 product)
    val oneSided = Seq(
      (1L, "r1", "a"), (1L, "r2", "a"), (2L, "r1", "b"), (2L, "r2", "c"))
      .toDF("item", "rater", "label")
    val r2 = graft.operators.Quality.cohenKappa(oneSided, "item", "rater", "label").head()
    assert(r2.getAs[Long]("n_categories") === 3L)
    // three raters refused
    val three = Seq((1L, "r1", "a"), (1L, "r2", "a"), (1L, "r3", "a"))
      .toDF("item", "rater", "label")
    val ex3 = intercept[IllegalArgumentException] {
      graft.operators.Quality.cohenKappa(three, "item", "rater", "label")
    }
    assert(ex3.getMessage.contains("exactly two raters"))
    // a missing second rating fails loudly, not silently as disagreement
    val missing = Seq((1L, "r1", "a"), (1L, "r2", "a"), (2L, "r1", "b"))
      .toDF("item", "rater", "label")
    val ex4 = intercept[Exception] {
      graft.operators.Quality.cohenKappa(missing, "item", "rater", "label").collect()
    }
    assert((ex4.getMessage + Option(ex4.getCause).map(_.getMessage).getOrElse(""))
      .contains("exactly one from each"))
  }

  test("annotationDisagreement: majority, ties to smallest label, flags, NULL drop") {
    val ratings = Seq(
      // item 1: 3x a, 1x b -> majority a 0.75, agreed
      (1L, "a"), (1L, "a"), (1L, "a"), (1L, "b"),
      // item 2: 2x a, 2x b -> TIE, majority breaks to 'a', frac 0.5 -> flag
      (2L, "a"), (2L, "a"), (2L, "b"), (2L, "b"),
      // item 3: single rating -> under-rated -> flag even at frac 1.0
      (3L, "c"),
      // item 4: NULL label is a missing rating, not a category
      (4L, "d"), (4L, "d"), (4L, null))
      .toDF("item", "label")
    val got = Quality.annotationDisagreement(ratings, "item", "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_ratings"), r.getAs[Long]("n_distinct_labels"),
          r.getAs[String]("majority_label"), r.getAs[Double]("majority_frac"),
          r.getAs[Boolean]("needs_reannotation")))).toMap
    assert(got(1L) === ((4L, 2L, "a", 0.75, false)))
    assert(got(2L) === ((4L, 2L, "a", 0.5, true)), "count ties break to the smallest label")
    assert(got(3L) === ((1L, 1L, "c", 1.0, true)), "an under-rated item is undecided")
    assert(got(4L) === ((2L, 1L, "d", 1.0, false)), "NULL labels drop before counting")
  }
}
