package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-replication fixture generator: `runMain graft.MakeScale <sfDir>
  * <outDir> <factor>` writes a `factor`× replica of a testdata SF dir
  * with RE-SALTED identities, so measured scaling reflects a genuinely
  * larger workload rather than a duplicate-inflated one:
  *
  *  - every entity key (order/cust/part/supp/event/user/doc/vec) shifts
  *    by `replica · 10⁷` — key cardinality scales with the data, join
  *    fan-outs and group counts keep their per-key shape;
  *  - replica>0 document text gets a replica token injected every three
  *    words: cross-replica shingle Jaccard falls to ~0.14, far below
  *    the 0.5 near-dup threshold, so dedup workloads scale by corpus
  *    size, not by a quadratic planted-duplicate blowup (`n_chars` is
  *    recomputed to keep the length invariant);
  *  - replica>0 embeddings get deterministic per-element jitter
  *    (xxhash64-seeded, ±0.1), breaking colinearity so ANN buckets
  *    scale in occupancy, not in exact-duplicate multiplicity;
  *  - `region`/`nation` stay fixed (dimension tables, as in TPC-H
  *    scaling); replica 0 is byte-identical to the source.
  *
  * Used for the recorded 10× bench run in BENCH_NOTES.md (sf0.1 →
  * sf1-equivalent under `target/sf1`). Dev tooling, not an operator:
  * the engine under test never calls this.
  */
object MakeScale {
  private final val Off = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = Sessions.local("graft-makescale")

    def src(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")

    def replicate(name: String)(xform: (DataFrame, Int) => DataFrame): Unit = {
      val base = src(name)
      val out = (0 until factor).map(k => xform(base, k)).reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      // count the WRITTEN parquet — counting `out` would re-execute the
      // whole factor-way transform a second time just for the log line
      val written = spark.read.parquet(s"$outDir/$name.parquet").count()
      println(s"[make-scale] $name: ${base.count()} -> $written rows")
    }

    def shift(df: DataFrame, k: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(Off * k)))

    // dimension tables: fixed, as in TPC-H scaling
    for (name <- Seq("region", "nation")) {
      src(name).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[make-scale] $name: copied")
    }

    replicate("customer")((df, k) => shift(df, k, "c_custkey"))
    replicate("supplier")((df, k) => shift(df, k, "s_suppkey"))
    replicate("part")((df, k) => shift(df, k, "p_partkey"))
    replicate("orders")((df, k) => shift(df, k, "o_orderkey", "o_custkey"))
    replicate("lineitem")((df, k) => shift(df, k, "l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events")((df, k) => shift(df, k, "event_id", "user_id"))
    replicate("documents") { (df, k) =>
      val shifted = shift(df, k, "doc_id")
      if (k == 0) shifted
      else shifted
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+ \\S+ \\S+ )", s"$$1zr$k "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    replicate("embeddings") { (df, k) =>
      val shifted = shift(df, k, "vec_id")
      if (k == 0) shifted
      else shifted.withColumn("embedding",
        zip_with(
          col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => (x +
            (pmod(xxhash64(col("vec_id"), i, lit(k)), lit(1000L)).cast("double") / 1000.0 - 0.5)
              .cast("float") * lit(0.2f)).cast("float")))
    }
    spark.stop()
  }
}
