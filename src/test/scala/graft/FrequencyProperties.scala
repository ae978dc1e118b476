package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.Frequency

/** The Misra–Gries laws, checked against exact driver-side counts over
  * random skewed streams and random k — not just the planted-hot-key
  * example the unit spec uses.
  */
object FrequencyProperties extends Properties("graft.frequency") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Zipf-ish streams: a few frequent heads over a random tail.
  private val genStream: Gen[List[String]] = for {
    nHead <- Gen.choose(1, 4)
    headReps <- Gen.choose(20, 60)
    tail <- Gen.listOfN(150, Gen.choose(0, 500).map(i => s"t$i"))
  } yield (1 to nHead).toList.flatMap(h => List.fill(headReps)(s"head$h")) ++ tail

  private val genK: Gen[Int] = Gen.choose(4, 32)

  property("survival: every item with count > n/(k+1) is in the summary") =
    forAll(genStream, genK) { (items, k) =>
      val (n, summary) = Frequency.mgSummary(
        items.toDF("term").repartition(4), col("term"), k)
      val exact = items.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
      val survivors = summary.map(_._1).toSet
      n == items.size.toLong &&
        summary.size <= k &&
        exact.forall { case (item, c) => c * (k + 1) <= n || survivors.contains(item) }
    }

  property("undercount bound: count_low <= exact <= count_low + n/(k+1)") =
    forAll(genStream, genK) { (items, k) =>
      val (n, summary) = Frequency.mgSummary(
        items.toDF("term").repartition(7), col("term"), k)
      val exact = items.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
      summary.forall { case (item, low) =>
        val c = exact(item)
        low <= c && c <= low + n / (k + 1)
      }
    }

  property("heavyHitters is EXACT whenever the precondition holds") =
    forAll(genStream, genK) { (items, k) =>
      val df = items.toDF("term").repartition(3)
      val n = items.size.toLong
      val minCount = n / (k + 1) + 1 // smallest threshold the guard admits
      val got = Frequency.heavyHitters(df, "term", minCount, sketchK = k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = items.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
        .filter(_._2 >= minCount)
      got == expect
    }

  // --- Count-Min laws ---

  private val genGeometry: Gen[(Int, Int)] =
    for { w <- Gen.choose(16, 256); d <- Gen.choose(2, 6) } yield (w, d)

  /** The Count-Min sketch of `df`'s `term` column: one `graft_cm_sketch`
    * aggregate, decoded on the driver.
    */
  private def cmOf(df: org.apache.spark.sql.DataFrame, w: Int, d: Int): Frequency.CmSummary = {
    val r = df.agg(expr(s"graft_cm_sketch(term, $w, $d)")).head.getStruct(0)
    Frequency.CmSummary(r.getLong(0), r.getInt(1), r.getInt(2), r.getSeq[Long](3).toArray)
  }

  property("count-min never underestimates, for every item in the stream") =
    forAll(genStream, genGeometry) { case (items, (w, d)) =>
      val cm = cmOf(items.toDF("term").repartition(5), w, d)
      val exact = items.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
      cm.n == items.size.toLong &&
        exact.forall { case (item, c) => cm.estimate(item) >= c }
    }

  property("count-min merge is LOSSLESS: sketch(A ++ B) == merge(sketch(A), sketch(B))") =
    forAll(genStream, genStream, genGeometry) { case (a, b, (w, d)) =>
      val whole = cmOf((a ++ b).toDF("term").repartition(3), w, d)
      val merged = cmOf(a.toDF("term"), w, d)
        .merge(cmOf(b.toDF("term").repartition(4), w, d))
      whole.n == merged.n && whole.counters.sameElements(merged.counters)
    }

  property("count-min error stays within the e·n/width bound for most items (CM guarantee)") =
    forAll(genStream, genGeometry) { case (items, (w, d)) =>
      val cm = cmOf(items.toDF("term"), w, d)
      val exact = items.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
      val bound = (math.E * cm.n / w).ceil.toLong
      // per-item failure probability is e^-d; with d as low as 2 allow a
      // ~2x e^-d fraction of violations rather than flaking
      val violations = exact.count { case (item, c) => cm.estimate(item) - c > bound }
      violations.toDouble <= math.max(1.0, 2.0 * exact.size * math.exp(-d))
    }

  property("approxHeavyHitters recall: every true heavy hitter is emitted, est >= exact") =
    forAll(genStream, genK) { (items, k) =>
      val df = items.toDF("term").repartition(3)
      val n = items.size.toLong
      val minCount = n / (k + 1) + 1
      val got = Frequency.approxHeavyHitters(df, "term", minCount, sketchK = k,
          cmWidth = 512, cmDepth = 5)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = items.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
      val truth = exact.filter(_._2 >= minCount)
      truth.forall { case (item, c) => got.get(item).exists(_ >= c) }
    }
}
