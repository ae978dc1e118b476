package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.functions.text

/** Properties of the text-analysis column builders over random inputs. */
object TextProperties extends Properties("graft.text") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val genWord = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(6).mkString)
  private val genDoc = Gen.listOf(genWord).map(_.take(30).mkString(" "))
  private val genWs = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")

  private def one(doc: String, c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
    Seq(doc).toDF("text").select(c).head()

  private val genUnicode: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar.map(_.toString),
    Gen.oneOf("\u0301", "\u0308", "\u0327"),        // combining marks
    Gen.oneOf("\u00e9", "\u00c5", "\u212b"),         // precomposed + singleton
    Gen.oneOf("\ufb01", "\uff11", "\u2460"),         // compat: ligature/fullwidth/circled
    Gen.oneOf("\ud83d\ude00", "\u4e2d", " ")))       // astral pair, CJK, space
    .map(_.take(24).mkString)

  property("normalizeUnicode matches java.text.Normalizer and is idempotent, all forms") =
    forAll(genUnicode) { s =>
      Seq("NFC", "NFD", "NFKC", "NFKD").forall { form =>
        val got = one(s, text.normalizeUnicode(col("text"), form)).getString(0)
        val want = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.valueOf(form))
        val again = one(got, text.normalizeUnicode(col("text"), form)).getString(0)
        got == want && again == got
      }
    }

  property("fingerprintMd5 is invariant under whitespace style and case") =
    forAll(Gen.nonEmptyListOf(genWord).map(_.take(20)), genWs) { (words, ws) =>
      val canonical = one(words.mkString(" "), text.fingerprintMd5(col("text"))).getString(0)
      val messy = one(
        "  " + words.map(w => if (w.length % 2 == 0) w.toUpperCase else w).mkString(ws) + "\t",
        text.fingerprintMd5(col("text"))).getString(0)
      canonical == messy
    }

  property("tokenCount counts exactly the whitespace-separated words") =
    forAll(Gen.listOf(genWord).map(_.take(25)), genWs) { (words, ws) =>
      one(words.mkString(ws), text.tokenCount(col("text"))).getInt(0) == words.count(_.nonEmpty)
    }

  property("collapseRuns: no adjacent repeats out, reference equality, idempotent") =
    forAll(Gen.listOf(Gen.oneOf("a", "b", "table", "x")).map(_.take(25)), genWs) { (words, ws) =>
      val doc = words.mkString(ws)
      val got = one(doc, text.collapseRunsText(col("text"))).getString(0)
      // independent in-memory reference: keep where token != predecessor
      val ref = words.foldLeft(Vector.empty[String]) { (acc, w) =>
        if (acc.nonEmpty && acc.last == w) acc else acc :+ w
      }.mkString(" ")
      val idem = one(got, text.collapseRunsText(col("text"))).getString(0)
      got == ref && idem == got &&
        got.split(" ").filter(_.nonEmpty).sliding(2).forall(p => p.length < 2 || p(0) != p(1))
    }

  property("ratios live in [0,1]; empty docs score 0") =
    forAll(genDoc) { doc =>
      val r = Seq(doc).toDF("text").select(
        text.punctRatio(col("text")).as("p"),
        text.stopwordRatio(col("text")).as("s")).head()
      val p = r.getDouble(0)
      val s = r.getDouble(1)
      0.0 <= p && p <= 1.0 && 0.0 <= s && s <= 1.0
    }

  property("langId is 'und' exactly when no language scores a stopword hit") =
    forAll(genDoc) { doc =>
      val hits = text.langStopwords.map { case (_, stop) =>
        doc.toLowerCase.split("\\s+").count(stop.contains)
      }.sum
      val lang = one(doc, text.langId(col("text"))).getString(0)
      (hits == 0) == (lang == "und")
    }

  property("scriptCount/scriptId: counts match a JDK codepoint walk; argmax honors declared priority") =
    forAll(Gen.listOfN(20, Gen.oneOf(
      Gen.alphaChar, Gen.choose('Ѐ', 'ӿ'), Gen.choose('Ͱ', 'Ͽ'),
      Gen.choose('一', '俿'), Gen.numChar, Gen.const(' '))).map(_.mkString)) { doc =>
      def inRange(ch: Char, lo: Char, hi: Char) = ch >= lo && ch <= hi
      val expect = Map(
        "latin" -> doc.count(c => c.isLetter && c < 128 || inRange(c, 'À', 'ɏ')),
        "cyrillic" -> doc.count(inRange(_, 'Ѐ', 'ӿ')),
        "greek" -> doc.count(inRange(_, 'Ͱ', 'Ͽ')),
        "cjk" -> doc.count(inRange(_, '一', '鿿')))
      val row = one(doc, struct(
        text.scriptRanges.map { case (n, r) => text.scriptCount(col("text"), r).as(n) } :+
          text.scriptId(col("text")).as("script"): _*))
      val got = text.scriptRanges.map(_._1).map(n => n -> row.getStruct(0).getAs[Long](n)).toMap
      val cntOk = expect.forall { case (n, e) => got(n) == e.toLong }
      // first declared name among the maxima wins; all-zero → unknown
      val top = got.values.max
      val wantId = if (top <= 0) "unknown"
        else text.scriptRanges.map(_._1).find(n => got(n) == top).get
      cntOk && row.getStruct(0).getAs[String]("script") == wantId
    }

  property("shingles: n tokens with n >= k yield n-k+1 shingles, each of k tokens") =
    forAll(Gen.listOfN(8, genWord), Gen.choose(2, 4)) { (words, k) =>
      val sh = one(words.mkString(" "), text.shingles(col("text"), k)).getSeq[String](0)
      sh.length == words.length - k + 1 && sh.forall(_.split(" ").length == k)
    }

  property("native shingleHashes is value-identical to the composed HOF form") =
    forAll(
      Gen.listOf(genWord).map(_.take(25)),
      genWs,
      Gen.choose(1, 5)) { (words, ws, k) =>
      // messy spacing + duplicated words so distinct-order and the
      // short-doc CASE branch both get exercised
      val doc = (words ++ words.take(3)).mkString(ws)
      val native = one(doc, graft.operators.Dedup.shingleHashes(col("text"), k))
        .getSeq[Long](0)
      val composed = one(doc, graft.operators.Dedup.shingleHashesComposed(col("text"), k))
        .getSeq[Long](0)
      native == composed
    }

  property("repetitionRatio: 0 on all-distinct shingles, (n-1)/n on one repeated word") =
    forAll(Gen.listOfN(10, genWord).suchThat(ws => ws.distinct.length == ws.length), genWord) {
      (words, w) =>
        val distinctDoc = words.mkString(" ")
        val repeatedDoc = Seq.fill(10)(w).mkString(" ") // 9 bigrams, all identical
        one(distinctDoc, text.repetitionRatio(col("text"))).getDouble(0) == 0.0 &&
        one(repeatedDoc, text.repetitionRatio(col("text"))).getDouble(0) == 8.0 / 9.0
    }

  property("redactPii scrubs planted email+phone and leaves clean text alone") =
    forAll(genDoc) { doc =>
      val salted = s"$doc reach me: jane.doe+spam@mail.example.org or +1 (555) 010-1234 bye"
      val red = one(salted, text.redactPii(col("text"))).getString(0)
      val clean = one(doc, text.redactPii(col("text"))).getString(0)
      red.contains("<EMAIL>") && red.contains("<PHONE>") &&
      !red.contains("@") && !red.contains("(555)") && clean == doc
    }

  property("redactPii catches NANP numbers with or without country code or parens") =
    forAll(Gen.oneOf("(555) 123-4567", "555-123-4567", "+44 (020) 555-1234", "1 (555) 123-4567")) {
      phone =>
        one(s"call $phone now", text.redactPii(col("text"))).getString(0).contains("<PHONE>")
    }

  /** One round of CP1252↔UTF-8 corruption — the thing fixMojibake
    * undoes. Java's windows-1252 is a byte↔char bijection (the five
    * holes pass through as C1 controls), so this is always defined.
    */
  private def corrupt(s: String): String =
    new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.Charset.forName("windows-1252"))

  private val genMixed: Gen[String] = Gen.nonEmptyListOf(Gen.oneOf(
    Gen.alphaNumChar.map(_.toString),
    Gen.oneOf("é", "ü", "ñ", "ß", "—", "’", "€", "中", "日", "🙂", " ")))
    .map(_.take(20).mkString).suchThat(_.exists(_ >= 0x80))

  property("fixMojibake: one extra round of corruption is always fully undone") =
    forAll(genMixed) { s =>
      val fixedCorrupt = one(corrupt(s), text.fixMojibake(col("text"))).getString(0)
      val fixedPlain = one(s, text.fixMojibake(col("text"))).getString(0)
      fixedCorrupt == fixedPlain
    }

  property("fixMojibake passthrough: ASCII and strings with non-CP1252 chars are untouched") =
    forAll(genDoc, genMixed) { (ascii, mixed) =>
      val cjk = mixed + "中" // any char outside CP1252 makes the strict encoder abort
      one(ascii, text.fixMojibake(col("text"))).getString(0) == ascii &&
      one(cjk, text.fixMojibake(col("text"))).getString(0) == cjk
    }

  /** Independent mirror of ISO/IEC 7812 mod-10. */
  private def luhnRef(digits: String): Boolean =
    digits.length >= 13 && digits.length <= 19 && digits.forall(_.isDigit) && {
      val sum = digits.reverse.zipWithIndex.map { case (ch, i) =>
        val d = ch - '0'
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum
      sum % 10 == 0
    }

  /** A Luhn-VALID number: 15 random digits + the computed check digit. */
  private val genValidCard: Gen[String] =
    Gen.listOfN(15, Gen.numChar).map(_.mkString).map { body =>
      val check = (0 to 9).find(d => luhnRef(body + d)).get
      body + check
    }

  private val genDigits: Gen[String] =
    Gen.choose(13, 19).flatMap(n => Gen.listOfN(n, Gen.numChar).map(_.mkString))

  property("luhnValid agrees with the independent mod-10 mirror on random digit runs") =
    forAll(genDigits) { ds =>
      one(ds, text.luhnValid(col("text"))).getBoolean(0) == luhnRef(ds)
    }

  property("detectPaymentCards: planted valid card found (separators normalized), invalid runs never flagged") =
    forAll(genValidCard, genDoc) { (card, doc) =>
      val spaced = card.grouped(4).mkString(" ")
      // mutating one digit always changes the sum mod 10 → always invalid
      val invalid = card.init + ((card.last - '0' + 1) % 10)
      val got = one(s"$doc pay $spaced or $invalid done",
        text.detectPaymentCards(col("text"))).getSeq[String](0)
      got.contains(card) && !got.contains(invalid) && got.forall(luhnRef)
    }

  property("unseparated digit runs are tested whole-only: no prefix window ever fires on them") =
    forAll(Gen.choose(17, 19).flatMap(n => Gen.listOfN(n, Gen.numChar).map(_.mkString)), genDoc) {
      (run, doc) =>
        // an epoch timestamp / long order id has no separator boundaries,
        // so detection must flag it iff the WHOLE run passes Luhn — a
        // Luhn-valid 13..16-digit PREFIX must not fire (the round-14
        // boundary-ladder guarantee; a naive prefix window would
        // false-positive ~50% of 19-digit runs)
        val txt = s"$doc ts $run end"
        val got = one(txt, text.detectPaymentCards(col("text"))).getSeq[String](0)
        if (luhnRef(run)) got.contains(run) else got.isEmpty
    }

  property("card+CVV adjacency: the card never survives; a card-covering prefix is detected") =
    forAll(genValidCard, Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.numChar).map(_.mkString))) {
      (card, cvv) =>
        // greedy candidate consumes card+cvv as ONE 17–19 digit run; the
        // longest-valid-prefix window picks the LONGEST Luhn-valid prefix,
        // which may be the whole run or a 17/18-digit coincidence — but it
        // always COVERS the 16-digit card (the card itself validates), so
        // detection surfaces a card-containing prefix either way
        val txt = s"order ref $card-$cvv end"
        val run = card + cvv
        val got = one(txt, text.detectPaymentCards(col("text"))).getSeq[String](0)
        val detected = got.exists(g => g.length >= card.length && run.startsWith(g))
        detected && got.forall(luhnRef)
    }

  property("wide-group proper prefixes are never Luhn-tested (card-plausibility constraint)") =
    forAll(genValidCard) { card =>
      // A Luhn-valid 16-digit value written as 8+8 digit groups is not a
      // card format anyone uses — it's the spaced-serial shape the
      // round-15 plausibility constraint protects from false detection.
      // Append a trailing group chosen so the WHOLE run fails Luhn: the
      // only rung that could fire is then the 16-digit proper prefix,
      // which the wide (8-digit) groups must suppress.
      val tail = (100 to 110).map(_.toString).find(t => !luhnRef(card + t)).get
      val txt = s"serial ${card.grouped(8).mkString(" ")} $tail end"
      val got = one(txt, text.detectPaymentCards(col("text"))).getSeq[String](0)
      got.isEmpty
    }
}
