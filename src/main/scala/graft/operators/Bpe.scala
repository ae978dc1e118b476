package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.text

/** Distributed byte-pair-encoding merge training (Sennrich et al. 2016) —
  * the tokenizer-fitting stage of a pretraining pipeline. The reference
  * repo has no tokenizer stage; this is the standard extension that turns
  * the corpus layer ([[Filtering]] → [[Dedup]] → [[Chunker]]) into
  * model-ready token streams with a vocabulary fitted ON the corpus.
  *
  * Formulation: the "no end-of-word marker" variant — symbols start as
  * the word's characters, each merge round fuses the globally
  * most-frequent adjacent symbol pair (weighted by word frequency),
  * greedy left-to-right within a word, ties broken lexicographically on
  * (pair) so training is deterministic under any partitioning.
  * [[encode]] replays the merge list in training order, which keeps
  * encode exactly consistent with what training computed round by round.
  *
  * Scale contract: training never touches raw text after the ONE
  * word-frequency aggregation ([[wordFrequencies]] — map-side combine,
  * vocabulary-scale output); each merge round is one pair-keyed
  * aggregation over the vocabulary plus an O(1)-row argmax action, and
  * the symbol table is cut per round with the previous round released
  * ([[mergeLoop]]; executor loss mid-training is what
  * [[trainMergesCheckpointed]]'s durable state is for). The number
  * of Spark jobs is O(numMerges) by construction — that is BPE's
  * sequential nature, not an implementation artifact; each job is a
  * vocabulary-scale (not corpus-scale) shuffle. [[encode]] is a pure
  * per-row projection (zero shuffle), one nested fold per merge — fine
  * for catalog-scale merge counts; [[encodeFast]] is the production
  * twin (identical output, spec-pinned) whose cost does not grow a
  * Catalyst expression tree with the merge count.
  */
object Bpe {

  /** Corpus word frequencies: (word, wf). The only corpus-scale pass. */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(text.tokens(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("wf"))

  // --- byte-level alphabet (GPT-2-style, no OOV) ----------------------

  /** Bijection from a string's UTF-8 BYTES to a one-char-per-byte string
    * (byte b → the Latin-1 char U+00b): `decode(encode(s, UTF-8),
    * ISO-8859-1)`, two builtin codegen'd expressions. Same idea as
    * GPT-2's byte-to-unicode table (Radford et al. 2019 — theirs remaps
    * control bytes to printable chars purely for display; the identity
    * Latin-1 embedding is the same bijection without the cosmetic shift).
    * Under this alphabet the char-level merge core IS a byte-level
    * tokenizer: round-0 symbols are single bytes, so NO input is ever
    * out-of-vocabulary — unseen Unicode just decomposes into bytes.
    */
  def toByteAlphabet(c: Column): Column = {
    import org.apache.spark.sql.{functions => F} // Bpe.encode shadows functions.encode
    F.decode(F.encode(c, "UTF-8"), "ISO-8859-1")
  }

  /** Inverse of [[toByteAlphabet]]: reassemble byte-alphabet symbols into
    * the original text (concat subwords first — a single subword can end
    * mid-UTF-8-sequence and alone would not decode).
    */
  def fromByteAlphabet(c: Column): Column = {
    import org.apache.spark.sql.{functions => F}
    F.decode(F.encode(c, "ISO-8859-1"), "UTF-8")
  }

  /** JVM twin of [[toByteAlphabet]] for the mapPartitions encoder. */
  private def toByteAlphabetJvm(s: String): String =
    new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1)

  /** [[wordFrequencies]] over the byte alphabet: the byte-level round-0
    * input. Same single corpus pass; the remap rides the aggregation's
    * project.
    */
  def wordFrequenciesBytes(docs: DataFrame, textCol: String): DataFrame =
    wordFrequencies(docs, textCol)
      .select(toByteAlphabet(col("word")).as("word"), col("wf"))

  /** Character symbols of a word (code-point granularity). DOTALL `.`:
    * plain `.` excludes line terminators, and a token can legally carry
    * U+2028/U+2029/U+0085 (not `\s` whitespace) — without `(?s)` those
    * characters would silently vanish from the symbol array, breaking
    * the round-trip invariant and diverging from the oracle's RE2 `.`.
    */
  private def charSyms(word: Column): Column =
    regexp_extract_all(word, lit("(?s)."), lit(0))

  /** Round-0 symbol table for a (word, wf) frame: (syms, wf). */
  def initialSymbolTable(wordFreq: DataFrame): DataFrame =
    wordFreq.select(charSyms(col("word")).as("syms"), col("wf"))

  /** Weighted adjacent-pair counts over a symbol table (syms, wf):
    * (a, b, pair_wf), pair multiplicity within a word counted.
    */
  def pairCounts(symTable: DataFrame): DataFrame =
    symTable
      .select(
        col("wf"),
        explode(when(size(col("syms")) >= 2,
          transform(
            sequence(lit(1), size(col("syms")) - 1),
            i => struct(
              element_at(col("syms"), i).as("a"),
              element_at(col("syms"), i + 1).as("b"))))
          .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("__p"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(sum("wf").as("pair_wf"))

  /** One greedy left-to-right merge pass of (a, b) → a+b over a symbol
    * array — the standard BPE within-word application (non-overlapping:
    * "aaa" under (a,a) → ["aa", "a"]).
    */
  private def mergeOnce(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Train `numMerges` BPE merges over the corpus. Returns the merge list
    * in training order — the model IS this O(numMerges) list, so it lives
    * on the driver by design (the [[Similarity]] centroid precedent).
    * Rounds stop early when no pair reaches `minPairCount`.
    */
  def trainMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 1L): Seq[(String, String)] =
    mergeLoop(initialSymbolTable(wordFrequencies(docs, textCol)), Vector.empty,
      numMerges, minPairCount)((_, _, _) => ())

  /** [[trainMerges]] over the byte alphabet: merges are strings of
    * Latin-1 byte chars. Pair with [[encodeFastBytes]]/[[encodeBytes]];
    * the trained model can never hit OOV input.
    */
  def trainMergesBytes(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 1L): Seq[(String, String)] =
    mergeLoop(initialSymbolTable(wordFrequenciesBytes(docs, textCol)), Vector.empty,
      numMerges, minPairCount)((_, _, _) => ())

  /** The one BPE merge loop, from symbol table `initial` with `stored`
    * merges already applied, until `numMerges` merges or no pair reaches
    * `minPairCount`. A round is: the argmax pair (highest weighted
    * count, ties to the lexicographically smaller (a, b)), one greedy
    * merge projection of the table, an [[Iterate.cut]] of the result
    * and an [[Iterate.release]] of the previous table — only ONE table
    * is live, and every round plans over a constant-size LogicalRDD. (A
    * persisted table would instead carry its predecessor's cached plan,
    * and an adaptive cached plan renders its child twice — initial and
    * final plan — so the plan string each round's jobs build would
    * double per round.) `onRound(merges, table, end)` runs after every
    * round with `end = false` and once more, with `end = true`, before
    * the last table is released. Returns every merge, `stored` first.
    */
  private def mergeLoop(
      initial: DataFrame,
      stored: Vector[(String, String)],
      numMerges: Int,
      minPairCount: Long)(
      onRound: (Vector[(String, String)], DataFrame, Boolean) => Unit): Vector[(String, String)] = {
    require(numMerges >= 1, "numMerges must be at least 1")
    require(minPairCount >= 1L, "minPairCount must be at least 1")
    var table = Iterate.cut(initial)
    var merges = stored
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val top = pairCounts(table)
        .where(col("pair_wf") >= minPairCount)
        .orderBy(col("pair_wf").desc, col("a").asc, col("b").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getAs[String]("a"), top(0).getAs[String]("b"))
        merges = merges :+ ((a, b))
        val prev = table
        table = Iterate.cut(prev.select(mergeOnce(col("syms"), a, b).as("syms"), col("wf")))
        Iterate.release(prev)
        onRound(merges, table, false)
      }
    }
    onRound(merges, table, true)
    Iterate.release(table)
    merges
  }

  // --- checkpointed (resumable) training -----------------------------

  /** [[trainMerges]] with durable state at `path` — the production shape
    * for vocabularies whose training outlives a session (10⁴ merges = 10⁴
    * sequential Spark jobs; a crash at round 9,000 must not restart at
    * round 0). State on disk, both via atomic staged swap:
    * {{{
    *   path/merges/   (rank, a, b)        — the model so far, AUTHORITATIVE
    *   path/table/    (syms, wf, rounds)  — symbol-table snapshot CACHE
    * }}}
    * Merges are always written BEFORE the table, so a crash leaves the
    * table at T ≤ M rounds; resume replays merges T+1..M onto the stale
    * snapshot with the JVM merge core (deterministic — the redo is
    * byte-identical) and continues training. A missing table rebuilds
    * from the corpus the same way. Checkpoint cost: one table write per
    * `checkpointEvery` rounds, vocabulary-scale; crash redo is at most
    * `checkpointEvery` rounds of the JVM replay (not Spark jobs). If the
    * stored model already has ≥ `numMerges` merges, its prefix is
    * returned without touching the corpus.
    */
  def trainMergesCheckpointed(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      path: String,
      minPairCount: Long = 1L,
      checkpointEvery: Int = 100): Seq[(String, String)] = {
    require(numMerges >= 1, "numMerges must be at least 1")
    require(minPairCount >= 1L, "minPairCount must be at least 1")
    require(checkpointEvery >= 1, "checkpointEvery must be at least 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val mergesDir = s"$path/merges"
    val tableDir = s"$path/table"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    val stored: Vector[(String, String)] =
      if (fs.exists(new org.apache.hadoop.fs.Path(mergesDir)))
        spark.read.parquet(mergesDir).orderBy("rank")
          .select("a", "b").as[(String, String)].collect().toVector
      else Vector.empty
    if (stored.size >= numMerges) return stored.take(numMerges)

    // exhaustion marker: a completed-but-short run means no pair reaches
    // minPairCount anymore — rebuilding the table to re-discover that
    // would waste a corpus pass, so completion is recorded in the table
    // snapshot's `rounds` (== -(M+1) when exhausted at M merges)
    def writeMerges(ms: Vector[(String, String)]): Unit =
      graft.sources.Sinks.writePartitionedAtomic(
        ms.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
          .toDF("rank", "a", "b").coalesce(1),
        mergesDir, Nil)
    def writeTable(t: DataFrame, rounds: Long): Unit =
      graft.sources.Sinks.writePartitionedAtomic(
        t.select(col("syms"), col("wf"), lit(rounds).as("rounds")), tableDir, Nil)
    def replay(t: DataFrame, ms: Seq[(String, String)]): DataFrame =
      if (ms.isEmpty) t.select("syms", "wf")
      else {
        val list = ms.toVector
        t.select(col("syms"), col("wf")).as[(Seq[String], Long)]
          .mapPartitions(_.map { case (syms, wf) => (mergeSymsJvm(syms.toVector, list), wf) })
          .toDF("syms", "wf")
      }

    // resume: stale snapshot + known merges → deterministic repair
    val (startTable, exhausted0) =
      if (fs.exists(new org.apache.hadoop.fs.Path(tableDir))) {
        val snap = spark.read.parquet(tableDir)
        val rounds = snap.select("rounds").as[Long].head()
        if (rounds == -(stored.size + 1L)) (null: DataFrame, true)
        else {
          require(rounds >= 0L && rounds <= stored.size,
            s"table snapshot at $rounds rounds is ahead of the $mergesDir model — corrupt state")
          (replay(snap, stored.drop(rounds.toInt)), false)
        }
      } else
        (replay(initialSymbolTable(wordFrequencies(docs, textCol)), stored), false)
    if (exhausted0) return stored

    mergeLoop(startTable, stored, numMerges, minPairCount) { (merges, table, end) =>
      if (end || merges.size % checkpointEvery == 0) {
        // the loop ends short of numMerges only when no pair qualifies
        val exhausted = end && merges.size < numMerges
        writeMerges(merges)
        writeTable(table, if (exhausted) -(merges.size + 1L) else merges.size.toLong)
      }
    }
  }

  /** Tokenize `textCol` with a trained merge list: one subword-array
    * column `subwords` per document (word boundaries never merged). Pure
    * projection — zero shuffle, no model join.
    */
  def encode(docs: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame =
    docs.withColumn(
      "subwords",
      flatten(transform(text.tokens(col(textCol)),
        w => merges.foldLeft(charSyms(w))((c, m) => mergeOnce(c, m._1, m._2)))))

  /** Byte-level [[encode]]: each word passes through [[toByteAlphabet]]
    * before the same round-0 split and merge replay, so subwords are
    * byte-alphabet strings ([[fromByteAlphabet]] on their per-word concat
    * recovers the text — BpeSpec pins the round trip, OOV input included).
    */
  def encodeBytes(docs: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame =
    docs.withColumn(
      "subwords",
      flatten(transform(text.tokens(col(textCol)),
        w => merges.foldLeft(charSyms(toByteAlphabet(w)))((c, m) => mergeOnce(c, m._1, m._2)))))

  // --- production-scale encoder -------------------------------------

  /** Sequential (training-order) JVM replay of a merge list over a
    * symbol array — the shared core of [[encodeFast]] and the
    * checkpoint-resume repair in [[trainMergesCheckpointed]].
    */
  private def mergeSymsJvm(initial: Vector[String], merges: Seq[(String, String)]): Vector[String] = {
    var syms = initial
    for ((a, b) <- merges if syms.length >= 2) {
      // presence skip: most of a real 10⁴-merge list touches nothing in a
      // given word — only pay the merge pass when both halves occur
      if (syms.contains(a) && syms.contains(b)) {
        val out = Vector.newBuilder[String]
        var last: String = null
        for (x <- syms) {
          if (last == a && x == b) last = a + b
          else { if (last != null) out += last; last = x }
        }
        if (last != null) out += last
        syms = out.result()
      }
    }
    syms
  }

  /** JVM twin of the [[encode]] per-word pipeline, bit-compatible with
    * the Catalyst expressions it mirrors: tokens = `text.tokens`
    * (trim + split `\s+` + drop empties), symbols = the `.` regex of
    * [[charSyms]], merge = the greedy left-to-right pass of [[mergeOnce]]
    * applied in TRAINING ORDER (sequential replay, not rank-priority
    * re-selection — re-selection would re-fire an early merge whose pair
    * string coincidentally reappears after a later one, diverging from
    * what training computed).
    */
  private def encodeWordJvm(word: String, merges: Seq[(String, String)]): Vector[String] =
    mergeSymsJvm("(?s).".r.findAllIn(word).toVector, merges)

  /** The trained tokenizer's vocabulary: (subword, weight) — each
    * subword's corpus occurrence count under the merge list (weight =
    * Σ word_frequency over its appearances). Computed from the WORD
    * FREQUENCY table, not the corpus (the [[trainMerges]] economy:
    * vocabulary-scale input, one aggregation), encoding each distinct
    * word once via the JVM replay. This is the artifact shipped with
    * the merges — its size is what "vocab_size" means downstream.
    */
  def vocabulary(docs: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame = {
    val wf = wordFrequencies(docs, textCol)
    encodeFast(wf, "word", merges)
      .select(explode(col("subwords")).as("subword"), col("wf"))
      .groupBy("subword")
      .agg(sum("wf").as("weight"))
  }

  /** [[vocabulary]] for a byte-level model: subwords are byte-alphabet
    * strings. The word-frequency table is already byte-mapped, so the
    * replay is the PLAIN char-level encode over it — running
    * [[encodeFastBytes]] here would remap Latin-1 chars to their own
    * UTF-8 bytes and corrupt every symbol ≥ U+0080.
    */
  def vocabularyBytes(docs: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame = {
    val wf = wordFrequenciesBytes(docs, textCol)
    encodeFast(wf, "word", merges)
      .select(explode(col("subwords")).as("subword"), col("wf"))
      .groupBy("subword")
      .agg(sum("wf").as("weight"))
  }

  /** [[encode]] at production merge counts: identical output (BpeSpec
    * pins equality), but the merge replay runs as plain JVM code inside
    * ONE `mapPartitions` instead of a Catalyst expression tree of depth
    * O(numMerges) — a 10⁴-merge vocabulary would not even compile as the
    * HOF fold, and here costs O(len · merges-present) per DISTINCT word:
    * a per-partition memo encodes each word once (natural-language
    * partitions repeat most of their tokens), the documented last-resort
    * `mapPartitions` shape ([[graft.operators.Packing.greedyBins]]
    * precedent). Zero shuffle; scales with input splits.
    */
  def encodeFast(docs: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame = {
    val mergeList = merges.toVector
    encodeFastWith(docs, textCol, w => encodeWordJvm(w, mergeList))
  }

  /** Byte-level [[encodeFast]]: identical output to [[encodeBytes]]
    * (BpeSpec pins equality), production cost shape.
    */
  def encodeFastBytes(docs: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame = {
    val mergeList = merges.toVector
    encodeFastWith(docs, textCol,
      w => mergeSymsJvm(toByteAlphabetJvm(w).map(_.toString).toVector, mergeList))
  }

  private def encodeFastWith(
      docs: DataFrame,
      textCol: String,
      encodeWord: String => Vector[String]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val outSchema = docs.schema.add("subwords", ArrayType(StringType, containsNull = true))
    val textIdx = docs.schema.fieldIndex(textCol)
    docs.mapPartitions { it =>
      // bounded memo: natural-language vocabulary fits easily, and an
      // adversarial all-unique-words partition degrades to re-encoding
      // instead of growing task memory without limit
      val memo = scala.collection.mutable.HashMap.empty[String, Vector[String]]
      val memoCap = 1 << 20
      it.map { row =>
        val t = row.getString(textIdx)
        val sub: Seq[String] =
          if (t == null) null
          else t.trim.split("\\s+").iterator.filter(_.nonEmpty).flatMap { w =>
            memo.getOrElse(w, {
              val enc = encodeWord(w)
              if (memo.size < memoCap) memo.update(w, enc)
              enc
            })
          }.toVector
        Row.fromSeq(row.toSeq :+ sub)
      }
    }(Encoders.row(outSchema))
  }
}
