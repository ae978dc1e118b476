package graft.bench

import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.banking.{GoldPipeline, Ingest}
import graft.operators.CdcMerge
import graft.sources.Sinks

/** The medallion path, untraced (the public entry points as users call
  * them) or traced (the same public functions in the pipeline's order,
  * each layer's output forced at its boundary).
  */
final class Medallion(spark: SparkSession, plan: Plan) extends Workload {
  def name = "medallion_full"
  private val bronze = plan.dir("bronze")
  private val work = plan.dir("work")
  private val cpus = plan.cpus
  private val written = mutable.ArrayBuffer.empty[(Long, Long)] // (silver bytes, bronze bytes)
  private val layerAcc = new LayerAcc
  private var goldRows: Option[Map[String, Long]] = None

  def prepare(): Unit = Class.forName("org.apache.derby.jdbc.EmbeddedDriver")

  /** A pass's outputs; `gold` holds row counts when a traced pass counted them. */
  final case class Pass(silver: String, db: String, gold: Map[String, Long])

  def op(ctx: Ctx, i: Int): Pass = {
    val silver = s"$work/silver_$i"
    val db = s"$work/dwh_$i"
    val cfg = Banking.derby(db)
    if (!ctx.traced) {
      ctx.parts.time("silver")(GoldPipeline.bronzeToSilver(spark, bronze, silver))
      ctx.parts.time("gold_dwh") {
        val gold = GoldPipeline.silverToGold(spark, silver)
        GoldPipeline.loadToDwh(gold, cfg, numPartitions = cpus)
      }
      Pass(silver, db, Map.empty)
    } else {
      ctx.parts.time("silver")(ctx.span("stage.silver_s")(Banking.tracedSilver(spark, ctx, bronze, silver, layerAcc)))
      val rows = ctx.parts.time("gold_dwh")(Banking.tracedGoldDwh(spark, ctx, silver, cfg, cpus, layerAcc))
      Pass(silver, db, rows)
    }
  }

  def check(i: Int, out: Any): Seq[String] = {
    val p = out.asInstanceOf[Pass]
    try {
      val problems = mutable.ArrayBuffer.empty[String]
      Ingest.entities.foreach { e =>
        val n = spark.read.parquet(s"${p.silver}/${e.name}").count()
        val want = plan.long(s"expect.silver.${e.name}")
        if (n != want) problems += s"silver ${e.name} has $n rows, generator expects $want"
      }
      val w = Dirs.written(p.silver, Set.empty) // every silver file is new
      written += ((w.bytes, plan.long("bronze_bytes")))
      if (p.gold.nonEmpty) layerAcc.silverWritten(w)
      // every pass loads the same extract, so gold's row counts are
      // computed once (traced passes count them anyway) and each pass's
      // DWH must match them
      val gold = if (p.gold.nonEmpty) p.gold else goldRows.getOrElse {
        val g = GoldPipeline.silverToGold(spark, p.silver)
        val rows = GoldPipeline.dwhTables(g).map { case (n, df) => n -> df.count() }.toMap
        goldRows = Some(rows)
        rows
      }
      problems ++= Banking.checkDwh(p.db, gold, plan)
      problems.toSeq
    } finally cleanup(p)
  }

  private def cleanup(p: Pass): Unit = {
    Banking.shutdown(p.db)
    Dirs.rmrf(p.silver)
    Dirs.rmrf(p.db)
  }

  override def extra(): Map[String, Double] =
    layerAcc.metrics ++ (if (written.isEmpty) Map.empty
    else Map("write_amp" -> written.map(_._1.toDouble).sum / written.map(_._2.toDouble).sum))
}

/** Layer counters the traced banking operations accumulate. */
final class LayerAcc {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private var ops = 0
  def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
  def silverWritten(w: Dirs.Written): Unit = {
    ops += 1
    add("sinks.silver_bytes_written", w.bytes.toDouble)
    add("sinks.silver_files_written", w.files.toDouble)
    add("sinks.partitions_rewritten", w.dirs.size.toDouble)
  }
  def metrics: Map[String, Double] = {
    val n = ops.max(1)
    val m = sums.map { case (k, v) => k -> v / n }.toMap
    val ratio = for (in <- m.get("ingest.rows_in"); kept <- m.get("ingest.rows_kept") if in > 0)
      yield "ingest.kept_ratio" -> kept / in
    val rate = for (rows <- m.get("dwh.rows"); s <- m.get("dwh.load_s") if s > 0)
      yield "dwh.rows_per_s" -> rows / s
    m ++ ratio ++ rate
  }
}

object Banking {

  def derby(db: String): Sinks.JdbcConfig =
    Sinks.JdbcConfig(s"jdbc:derby:$db;create=true", "bench", "bench",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")

  def shutdown(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // a clean shutdown always throws

  /** bronzeToSilver's body with each layer under its own span: ingest and
    * merge outputs are persisted and forced at the boundary, so the next
    * layer's span holds only its own work.
    */
  def tracedSilver(spark: SparkSession, ctx: Ctx, bronzeDir: String, silverDir: String, acc: LayerAcc): Unit =
    Ingest.entities.foreach { e =>
      val fresh = ctx.span("ingest.read_s") {
        val f = Ingest.readBronze(spark, bronzeDir, e).persist()
        acc.add("ingest.rows_kept", f.count().toDouble)
        f
      }
      acc.add("ingest.rows_in", countCsvRows(s"$bronzeDir/${e.name}.csv").toDouble)
      val merged = ctx.span("cdc.merge_s") {
        val existing = CdcMerge.readIfExists(spark, s"$silverDir/${e.name}").map(_.persist())
        existing.foreach(x => acc.add("cdc.rows_existing", x.count().toDouble))
        val m = CdcMerge.mergeFullHistory(existing, fresh, e.mergeKeys).persist()
        acc.add("cdc.rows_fresh", fresh.count().toDouble)
        acc.add("cdc.rows_out", m.count().toDouble)
        existing.foreach(_.unpersist())
        m
      }
      ctx.span("sinks.silver_write_s")(Sinks.writePartitionedAtomic(merged, s"$silverDir/${e.name}", e.partitionCols))
      merged.unpersist()
      fresh.unpersist()
    }

  private val goldSpan = Map(
    "dim_account" -> "gold.dim_account_s",
    "dim_person" -> "gold.dim_person_s",
    "bridge_account_person" -> "gold.bridge_s",
    "dim_date" -> "gold.dim_date_s",
    "fact_account_snapshot" -> "gold.fact_s")

  /** silverToGold with each gold table persisted and forced under its own
    * span, then each table's JDBC load under its own span. Returns the gold
    * row counts.
    */
  def tracedGoldDwh(
      spark: SparkSession,
      ctx: Ctx,
      silverDir: String,
      cfg: Sinks.JdbcConfig,
      cpus: Int,
      acc: LayerAcc): Map[String, Long] = {
    val tables = ctx.span("stage.gold_s") {
      val gold = GoldPipeline.silverToGold(spark, silverDir)
      GoldPipeline.dwhTables(gold).map { case (n, df) =>
        ctx.span(goldSpan(n)) {
          val p = df.persist()
          val rows = p.count()
          acc.add(s"gold.$n.rows", rows.toDouble)
          (n, p, rows)
        }
      }
    }
    try ctx.span("stage.dwh_s") {
      tables.foreach { case (n, df, rows) =>
        val t0 = System.nanoTime()
        ctx.span(s"dwh.$n.load_s")(Sinks.writeJdbc(df, cfg, n, cpus))
        acc.add("dwh.load_s", (System.nanoTime() - t0) / 1e9)
        acc.add("dwh.rows", rows.toDouble)
      }
    } finally tables.foreach(_._2.unpersist())
    tables.map(t => t._1 -> t._3).toMap
  }

  def countCsvRows(path: String): Long = {
    val src = scala.io.Source.fromFile(path)
    try (src.getLines().size - 1).max(0).toLong finally src.close()
  }

  /** DWH read-back checks through plain JDBC. */
  def checkDwh(db: String, gold: Map[String, Long], plan: Plan): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val conn = DriverManager.getConnection(s"jdbc:derby:$db", "bench", "bench")
    try {
      val st = conn.createStatement()
      def one(sql: String): Long = {
        val rs = st.executeQuery(sql)
        try { rs.next(); rs.getLong(1) } finally rs.close()
      }
      gold.foreach { case (t, n) =>
        val got = one(s"SELECT COUNT(*) FROM $t")
        if (got != n) problems += s"DWH $t has $got rows, gold has $n"
      }
      // dim_account rows read back; Derby stores strings as CLOBs, which
      // it cannot sort or group, so the checks run here
      val rs = st.executeQuery(
        "SELECT \"acc_no\", \"effective_start_date\", \"effective_end_date\", \"is_current\" FROM dim_account")
      val versions = mutable.Map.empty[String, mutable.ArrayBuffer[(java.sql.Date, java.sql.Date, Boolean)]]
      try while (rs.next())
        versions.getOrElseUpdate(rs.getString(1), mutable.ArrayBuffer.empty) +=
          ((rs.getDate(2), rs.getDate(3), rs.getBoolean(4)))
      finally rs.close()
      val accounts = plan.long("expect.accounts")
      if (versions.size != accounts)
        problems += s"dim_account covers ${versions.size} accounts, generator expects $accounts"
      val notOneCurrent = versions.count(_._2.count(_._3) != 1)
      if (notOneCurrent > 0) problems += s"$notOneCurrent accounts do not have exactly one current dim_account row"
      val overlapping = versions.count { case (_, vs) =>
        val sorted = vs.sortBy(_._1.getTime)
        sorted.exists(v => v._2.before(v._1)) ||
          sorted.zip(sorted.drop(1)).exists { case (a, b) => !b._1.after(a._2) }
      }
      if (overlapping > 0) problems += s"$overlapping accounts have overlapping or inverted intervals"
      val orphan = one("SELECT COUNT(*) FROM fact_account_snapshot WHERE \"account_sk\" IS NULL")
      if (orphan > 0) problems += s"$orphan fact rows have no account_sk"
      val facts = plan.long("expect.fact_rows")
      val gotFacts = one("SELECT COUNT(*) FROM fact_account_snapshot")
      if (gotFacts != facts) problems += s"fact has $gotFacts rows, generator expects $facts"
    } finally conn.close()
    problems.toSeq
  }
}
