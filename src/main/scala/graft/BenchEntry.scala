package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** An index a probe entry serves from. `kind` keys the one standing copy
  * per scale factor; `build(spark, sfDir)` writes a fresh copy from the
  * tables under `sfDir` and returns its path.
  */
final case class StandingIndex(kind: String, build: (SparkSession, String) => String)

/** One bench entry. [[BenchEntry.all]] is the registry that Bench,
  * BenchProbe and PlanDump read; [[BenchRun]] runs an entry.
  */
sealed trait BenchEntry { def name: String }

object BenchEntry {

  /** A frame-shaped entry, forced end-to-end by a noop write (count() would
    * let Catalyst prune the expensive projections away and fake the
    * timing).
    */
  final case class Frame(name: String, fn: (SparkSession, String) => DataFrame)
      extends BenchEntry

  /** Times a fresh build of `index` into a scratch directory. */
  final case class Build(name: String, index: StandingIndex) extends BenchEntry

  /** Serves `probe(spark, sfDir, indexPath)` from the standing copy of
    * `index`, built once per scale factor outside any timed pass.
    */
  final case class Probe(
      name: String,
      index: StandingIndex,
      probe: (SparkSession, String, String) => DataFrame)
      extends BenchEntry

  private val text = StandingIndex("text", Queries.buildTextIndexBatches)
  private val ann = StandingIndex("ann", Queries.buildAnnPqIndex)
  private val annAuto = StandingIndex("annauto", Queries.buildAnnPqAutoIndex)
  private val annImi = StandingIndex("annimi", Queries.buildAnnPqImiIndex)
  private val annBulk = StandingIndex("annbulk", Queries.buildAnnBulkIndex)
  private val dsir = StandingIndex("dsir", Queries.buildDsirModels)

  // Catalog headlines whose serving path is SPLIT into build vs probe below.
  // Fused, a 2.5 s number can hide a 10x probe-latency regression behind
  // build noise; split, the probe — the metric a standing index actually
  // serves — regresses observably.
  private val servingSplit = Set(
    "q84_text_index_search", "q65b_ann_index_dedup_pq", "q106_dsir_importance")

  val all: Seq[BenchEntry] =
    Queries.headlines.filterNot(q => servingSplit(q.name))
      .map(q => Frame(q.name, q.fn)) ++ Seq(
      Build("q84_build", text),
      Probe("q84_probe", text, (s, _, i) => Queries.textIndexProbe(s, i)),
      Build("q65b_build", ann),
      Probe("q65b_probe", ann, Queries.annPqProbe),
      // the same serving workload at buildPqAuto's corpus-scaled geometry:
      // the production default path; q65b_* keeps the pinned nlist = 16
      Build("q65b_auto_build", annAuto),
      Probe("q65b_auto_probe", annAuto, Queries.annPqAutoProbe),
      // the coarse router on the two-level product grid: the probe helper
      // is shared with q65b_auto, so the pair differs ONLY in the quantizer
      Build("q65b_imi_build", annImi),
      Probe("q65b_imi_probe", annImi, Queries.annPqAutoProbe),
      // the q65k-shaped BULK serving pair: the probe side SHUFFLES by cell
      // instead of broadcasting, the shape with no batch-size broadcast
      // ceiling
      Build("q65k_bulk_build", annBulk),
      Probe("q65k_bulk_probe", annBulk, Queries.annBulkProbe),
      Build("q106_build", dsir),
      Probe("q106_probe", dsir, Queries.dsirScore),
      // codec-bound workload class: full-corpus PNG encode → real decode →
      // dHash → banded near-dup pairs — none of the relational headlines
      // exercise a media decode path
      Frame("q123_media_near_dup", Queries.mediaNearDupFull))

  /** Every index a probe entry serves from, each once. */
  def standingIndexes: Seq[StandingIndex] =
    all.collect { case p: Probe => p.index }.distinct
}

/** The entries' state on one session. Standing indexes are built once per
  * (kind, sfDir) and survive the run. A Build entry's index lands in a
  * scratch directory that [[dropScratch]] deletes after each timing sample
  * (cleanup excluded from the sample), so repeated passes do not accrete
  * full index copies in java.io.tmpdir.
  */
final class BenchRun(spark: SparkSession) {
  import BenchEntry._

  private val standing = scala.collection.mutable.Map.empty[(String, String), String]
  private val scratch = scala.collection.mutable.ListBuffer.empty[String]

  def standingPath(index: StandingIndex, sfDir: String): String =
    standing.getOrElseUpdate((index.kind, sfDir), index.build(spark, sfDir))

  /** The entry's result frame; None for a Build entry, which writes an
    * index rather than returning one frame.
    */
  def frame(e: BenchEntry, sfDir: String): Option[DataFrame] = e match {
    case Frame(_, fn) => Some(fn(spark, sfDir))
    case Probe(_, index, probe) => Some(probe(spark, sfDir, standingPath(index, sfDir)))
    case _: Build => None
  }

  /** One sample of the entry: a noop write of its frame, or a scratch build. */
  def run(e: BenchEntry, sfDir: String): Unit = e match {
    case Build(_, index) => scratch += index.build(spark, sfDir)
    case _ => frame(e, sfDir).foreach(BenchRun.noopWrite)
  }

  /** The untimed JVM/codegen warm-up pass every tool gives an entry, on
    * the smallest scale factor.
    */
  def warmUp(e: BenchEntry): Unit =
    try run(e, BenchRun.warmUpSfDir) finally dropScratch()

  def dropScratch(): Unit = {
    scratch.foreach(BenchRun.rmrf)
    scratch.clear()
  }

  /** Drop operator-pinned prep tables and everything else in the cache
    * manager: leftover storage memory from a previous query (the dedup
    * sketch tables especially) pressures execution memory and skews later
    * timings. Blocking — async eviction would overlap the next timed pass.
    */
  def clearCaches(): Unit = {
    graft.operators.Caches.release(blocking = true)
    spark.catalog.clearCache()
  }
}

object BenchRun {
  private val warmUpSfDir = "/root/testdata/sf0.001"

  def noopWrite(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def rmrf(root: String): Unit = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(root)
    if (Files.exists(p)) {
      // Files.walk holds a directory stream open until closed — an
      // unclosed walk leaks one fd per cleanup for the JVM's life
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }
}
