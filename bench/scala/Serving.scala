package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Queries
import graft.operators.{AnnIndex, Caches, DedupIndex, TextIndex}

/** New batches into three standing indexes while the catalog serves: each
  * timed step appends one seeded slice to the text, ANN and dedup indexes,
  * answers one probe per index, then runs one pass over a subset of the
  * catalog's read entries (see [[CatalogPass]]).
  */
final class IndexIngest(spark: SparkSession, plan: Plan) extends Workload {
  def name = "index_ingest"
  private val catalog = new CatalogPass(spark, plan)
  private val in = plan.dir("index_in")
  private val root = plan.dir("indexes")
  private val text = s"$root/text"
  private val ann = s"$root/ann"
  private val dedup = s"$root/dedup"
  private val terms = Seq("spark", "merge", "window")
  private val wrote = mutable.ArrayBuffer.empty[Dirs.Written]

  private def docs(k: Int) = spark.read.parquet(f"$in/slice_$k%04d_documents.parquet").select("doc_id", "text")
  private def embs(k: Int) = spark.read.parquet(f"$in/slice_$k%04d_embeddings.parquet").select("vec_id", "embedding")

  def prepare(): Unit = {
    val baseDocs = spark.read.parquet(s"$in/base_documents.parquet").select("doc_id", "text")
    val baseEmb = spark.read.parquet(s"$in/base_embeddings.parquet").select("vec_id", "embedding")
    Runner.note("build text index")
    TextIndex.build(baseDocs, "doc_id", "text", text)
    Runner.note("build ann index")
    AnnIndex.buildPq(baseEmb, "vec_id", "embedding", ann, nlist = 16, m = 32, ksub = 256)
    Runner.note("build dedup index")
    DedupIndex.build(baseDocs, "text", "doc_id", dedup)
  }

  private var filesBefore = Set.empty[AnyRef]

  override def before(i: Int): Unit = filesBefore = Dirs.keys(root)

  final case class Step(label: String, textHits: Long,
      annPairs: Set[(Long, Long)], dedupPairs: Set[(Long, Long)])

  /** Operation `i` lands slice `i`. */
  def op(ctx: Ctx, i: Int): Step = {
    val label = f"${i + 2}%08d" // the build committed 00000001
    val d = docs(i)
    val e = embs(i)
    ctx.parts.time("text.append_s")(ctx.span("text.append_s")(TextIndex.append(d, "doc_id", "text", text, label)))
    ctx.parts.time("ann.append_s")(ctx.span("ann.append_s")(AnnIndex.append(e, "vec_id", "embedding", ann, label)))
    ctx.parts.time("dedup.append_s")(ctx.span("dedup.append_s")(DedupIndex.append(d, "text", "doc_id", dedup, label)))
    val hits = ctx.parts.time("text.probe_s")(ctx.span("text.probe_s")(
      TextIndex.searchTopK(spark, text, terms, 20).collect().length.toLong))
    val annPairs = ctx.parts.time("ann.probe_s")(ctx.span("ann.probe_s")(
      AnnIndex.crossNeighborsPq(e, "vec_id", "embedding", ann, threshold = 0.95, nprobe = 4, margin = 0.15)
        .select("batch_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
    val dedupPairs = ctx.parts.time("dedup.probe_s")(ctx.span("dedup.probe_s")(
      DedupIndex.crossPairs(d, "text", "doc_id", dedup, threshold = 0.7)
        .select("batch_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
    catalog.run(ctx)
    Step(label, hits, annPairs, dedupPairs)
  }

  def check(i: Int, out: Any): Seq[String] = {
    val s = out.asInstanceOf[Step]
    wrote += Dirs.written(root, filesBefore)
    val problems = mutable.ArrayBuffer.empty[String]
    if (!TextIndex.batches(spark, text).contains(s.label)) problems += s"text index lacks batch ${s.label}"
    if (!AnnIndex.batches(spark, ann).contains(s.label)) problems += s"ann index lacks batch ${s.label}"
    if (!DedupIndex.batches(spark, dedup).contains(s.label)) problems += s"dedup index lacks batch ${s.label}"
    if (s.textHits <= 0) problems += "text probe found nothing"
    def planted(kind: String): Seq[(Long, Long)] =
      plan.get(s"planted.$i.$kind").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map { p =>
        val Array(a, b) = p.split(":"); (a.toLong, b.toLong)
      }
    planted("embeddings").filterNot(s.annPairs).foreach(p => problems += s"ann probe missed planted pair $p")
    planted("documents").filterNot(s.dedupPairs).foreach(p => problems += s"dedup probe missed planted pair $p")
    problems ++= (if (i == 0) catalog.record() else catalog.check())
    problems.toSeq
  }

  override def extra(): Map[String, Double] =
    if (wrote.isEmpty) Map.empty
    else Map(
      "index.bytes_written" -> wrote.map(_.bytes.toDouble).sum / wrote.size,
      "index.files_written" -> wrote.map(_.files.toDouble).sum / wrote.size)
}

/** One pass over a subset of the catalog's read entries, each forced by a
  * noop write, in a seeded order per pass: relational (aggregation,
  * broadcast join, SCD2 windows) and iterative (PageRank) entries over the
  * generated testdata tables. Planning, scheduling and the
  * `operators`/`expressions`/`plans` behind the entries do the work.
  */
final class CatalogPass(spark: SparkSession, plan: Plan) {
  private val dir = plan.dir("tables")
  private val out = plan.dir("catalog_out")
  private val rng = new scala.util.Random(plan.long("seed"))
  val entries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_broadcast_join_agg", "q05_scd2_dim", "q102_pagerank_authority")
  private def frame(n: String): DataFrame = Queries.queries(n)(spark, dir)
  private val digests = mutable.Map.empty[String, String]

  def run(ctx: Ctx): Unit =
    rng.shuffle(entries).foreach { n =>
      Caches.release(blocking = true)
      spark.catalog.clearCache()
      ctx.parts.time(s"catalog.$n.s")(ctx.span(s"catalog.$n.s")(Runner.noop(frame(n))))
    }

  /** After the first pass: dumps every entry's output, with its oracle
    * SQL, for the DuckDB comparison run.py makes after the run, and
    * records the digest every later pass must reproduce.
    */
  def record(): Seq[String] = {
    entries.foreach { n =>
      frame(n).write.mode("overwrite").parquet(s"$out/$n")
      digests(n) = Digest.of(spark.read.parquet(s"$out/$n"))
    }
    val sql = entries.flatMap(n => Queries.oracleSql.get(n).map(n -> _))
      .map { case (n, q) => s"${Json.str(n)}:${Json.str(q)}" }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      sql.mkString("{", ",", "}").getBytes("UTF-8"))
    if (sql.size != entries.size) Seq(s"only ${sql.size} of ${entries.size} catalog entries have oracle SQL") else Nil
  }

  /** Every entry must give the recorded answer on every pass. */
  def check(): Seq[String] =
    entries.flatMap { n =>
      val d = Digest.of(frame(n))
      if (d != digests(n)) Some(s"$n digest $d differs from the first pass's ${digests(n)}") else None
    }
}
