package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar int8 embedding quantization (the FAISS `SQ8` storage point):
  * each vector stores one byte per component plus one float scale —
  * 4× smaller than float32 at far higher fidelity than product
  * quantization ([[Pq]], 32×). At 100 TB the embedding column is the
  * storage bill, and SQ8 is the standard first step: the codes ride
  * every scan 4× cheaper, and cosine over codes needs no reconstruction
  * at all (see below), so the probe path gets the same 4× read-volume
  * cut.
  *
  * Encoding is SYMMETRIC per-vector: `scale = amax / 127` with
  * `amax = max_i |x_i|`, `code_i = floor(x_i·127/amax + 0.5)` ∈
  * [−127, 127]. The reconstruction `x̂_i = code_i·amax/127` is within
  * `scale/2` of `x_i` per component.
  *
  * The ranking trick that makes this ORACLE-EXPRESSIBLE end to end:
  * cosine of the RECONSTRUCTED vectors equals
  * `dot(codes_a, codes_q) / (√‖codes_a‖² · √‖codes_q‖²)` — the per-
  * vector scales cancel — so the SQ8 probe is exact integer arithmetic
  * over the codes (the q30c face) and an external engine reproduces
  * the top-k SET, VALUES and ORDER bit-for-bit. Every float step that
  * remains (amax selection, the code rounding) is a fixed-shape
  * correctly-rounded double expression both engines share.
  */
object Quantize {

  /** max_i |x_i| as a double — a SELECTION over exact casts (no
    * summation), so any engine agrees on it bitwise.
    */
  private def amaxOf(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** 1-BIT quantization: pack the sign bits of a fixed-`dim` float
    * vector into one BIGINT — bit i set iff `vec[i] > 0` (exact float
    * comparison: 0.0 and −0.0 clear the bit on every engine). 64× the
    * storage cut of the raw floats and the input to Hamming-distance
    * search ([[Similarity.hammingTopK]]): for mean-centered embeddings
    * the sign pattern preserves angular neighborhoods (Charikar 2002's
    * hyperplane-LSH with axis-aligned planes). Built as `dim` static
    * literal-mask terms — pure codegen'd integer arithmetic, no HOF —
    * and, unlike the float ANN faces, EXACTLY replayable by an
    * external engine. NULL vectors stay NULL (the quarantine-not-rank
    * contract); vectors shorter than `dim` are a caller error.
    */
  def signBits(vec: Column, dim: Int = 64): Column = {
    require(dim >= 1 && dim <= 64, s"signBits packs into one long; got dim=$dim")
    val packed = (0 until dim).map { i =>
      when(element_at(vec, i + 1) > lit(0f), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _) // bits are distinct → addition is bitwise OR, carry-free
    when(vec.isNull, lit(null).cast("long")).otherwise(packed)
  }

  /** Encode to (idCol, codes: array<tinyint>, amax: double). Zero
    * vectors (amax 0) encode to all-zero codes with amax 0 — decode
    * restores the zero vector; NULL vectors pass through as NULL codes.
    */
  def sq8Encode(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(
      col(idCol),
      sq8Codes(col(vecCol)).as("codes"),
      amaxOf(col(vecCol)).as("amax"))

  /** The code array of one vector (see object doc for the formula).
    * `amax` rides an `array_repeat` so it is evaluated ONCE per row —
    * referencing it inside the lambda directly would re-run the
    * array_max fold per ELEMENT (the projection-collapse/no-CSE hazard
    * every HOF operator in this repo guards against).
    */
  def sq8Codes(vec: Column): Column =
    zip_with(vec, array_repeat(amaxOf(vec), size(vec)), (x, m) =>
      when(m === 0.0, lit(0L))
        .otherwise(floor(x.cast("double") * lit(127.0) / m + lit(0.5)))
        .cast("byte"))

  /** Top-k by cosine over an SQ8-encoded corpus against the encoded
    * query `queryId`: exact integer dot/norm² over the codes (scales
    * cancel — object doc), the q30c emission (id, dot, norm2), ranked
    * by the IEEE-deterministic cosine with id tie-break. Plan shape:
    * 1-row broadcast, map-side scoring, TakeOrderedAndProject — no
    * global sort, no reconstruction.
    */
  def sq8TopKExactInt(
      encoded: DataFrame,
      idCol: String,
      queryId: Long,
      k: Int): DataFrame = {
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, v) => acc + v)
    // loud on a bad query (the queryDim convention of the exact-int ANN
    // twins): an absent id would return a silently empty result, a
    // NULL-codes row NULL scores and an arbitrary k rows
    encoded.where(col(idCol) === queryId).select(col("codes")).take(1) match {
      case Array(r) if !r.isNullAt(0) => ()
      case Array(_) => throw new IllegalArgumentException(
        s"query id $queryId has NULL codes — nothing to probe with")
      case _ => throw new IllegalArgumentException(
        s"query id $queryId not present in the encoded corpus (column $idCol)")
    }
    val q = encoded
      .where(col(idCol) === queryId)
      .select(col("codes").as("__qc"))
      .select(col("__qc"), idot(col("__qc"), col("__qc")).as("qnorm2"))
    // NULL-vector rows have no codes and no cosine — excluded, the same
    // quarantine-not-rank contract as the other probe faces
    Partitioning.spread(encoded.where(col(idCol) =!= queryId && col("codes").isNotNull))
      .join(broadcast(q))
      .select(
        col(idCol),
        idot(col("codes"), col("__qc")).as("dot"),
        idot(col("codes"), col("codes")).as("norm2"),
        col("qnorm2"))
      .orderBy(
        when(col("norm2") === 0L || col("qnorm2") === 0L, lit(0.0))
          .otherwise(col("dot").cast("double") /
            (sqrt(col("norm2").cast("double")) * sqrt(col("qnorm2").cast("double")))).desc,
        col(idCol))
      .limit(k)
      .select(idCol, "dot", "norm2")
  }
}
