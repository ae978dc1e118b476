package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BatchTable

/** The batch-table commit protocol every index and streaming ingest
  * lands through: refusal, invisibility of staging, failure atomicity,
  * retry convergence, label allocation, compact and vacuum.
  */
class BatchTableSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def table(companions: Int = 1): BatchTable = {
    val root = Files.createTempDirectory("graft_batch_table_spec").toString
    BatchTable(spark, s"$root/marker", (1 to companions).map(i => s"$root/c$i"))
  }

  private def frame(ids: Long*): DataFrame = ids.toDF("id")

  private def rows(dir: String, label: String): Seq[Long] =
    spark.read.parquet(s"$dir/batch=$label").as[Long].collect().toSeq.sorted

  private def entries(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (d.exists) d.list().toSeq.sorted else Seq.empty
  }

  test("a duplicate label is refused in every table; the winner's data is intact") {
    val t = table()
    t.commit("00000001", frame(1L, 2L), _ => Seq(frame(10L)))
    val e = intercept[java.io.IOException] {
      t.commit("00000001", frame(3L), _ => Seq(frame(30L)))
    }
    assert(e.getMessage.contains("batch=00000001"), s"the refusal must name the batch: ${e.getMessage}")
    assert(rows(t.marker, "00000001") == Seq(1L, 2L))
    assert(rows(t.companions.head, "00000001") == Seq(10L))
    // a companion half alone also holds the label
    BatchTable(spark, t.companions.head).commit("00000002", frame(20L))
    val half = intercept[java.io.IOException] {
      t.commit("00000002", frame(4L), _ => Seq(frame(40L)))
    }
    assert(half.getMessage.contains("batch=00000002"))
    assert(t.committed == Seq("00000001"))
    assert(entries(t.marker).forall(!_.startsWith(".")), "a refused commit stages nothing")
  }

  test("the staged marker is invisible to spark.read.parquet until promoted") {
    val t = table()
    t.commit("00000001", frame(1L), _ => Seq(frame(10L)))
    t.commit("00000002", frame(2L, 3L), staged => {
      assert(new java.io.File(staged).getName.startsWith(".staging_"))
      assert(spark.read.parquet(staged).count() == 2L, "the staging write is complete")
      assert(spark.read.parquet(t.marker).count() == 1L, "readers of the table must not see it")
      assert(!t.isCommitted("00000002"))
      Seq(frame(20L))
    })
    assert(spark.read.parquet(t.marker).count() == 3L)
    assert(t.committed == Seq("00000001", "00000002"))
  }

  test("a failing companion leaves no marker batch and no staging; commitOnce converges") {
    val failing = spark.range(3)
      .select(when(col("id") >= 0L, raise_error(lit("injected companion failure")))
        .otherwise(col("id")).as("id"))
    val t = table(companions = 2)
    intercept[Exception] {
      t.commit("00000001", frame(1L, 2L), _ => Seq(frame(10L), failing))
    }
    assert(t.committed.isEmpty, "no marker batch after a failed companion")
    (t.marker +: t.companions).foreach { dir =>
      assert(entries(dir).forall(!_.startsWith(".")), s"staging residue in $dir: ${entries(dir)}")
    }
    assert(entries(t.companions(1)).isEmpty)
    // the first companion landed before the failure: an uncommitted half
    assert(t.labels(t.companions.head) == Seq("00000001"))

    t.commitOnce("00000001", frame(1L, 2L), _ => Seq(frame(10L), frame(11L)))
    val clean = table(companions = 2)
    clean.commit("00000001", frame(1L, 2L), _ => Seq(frame(10L), frame(11L)))
    assert(t.committed == clean.committed)
    (t.marker +: t.companions).zip(clean.marker +: clean.companions).foreach { case (a, b) =>
      assert(rows(a, "00000001") == rows(b, "00000001"))
      assert(entries(a) == entries(b))
    }
    // committed: a replay is a no-op and never evaluates its frame
    t.commitOnce("00000001", sys.error("a committed label must not evaluate its frame"))
  }

  test("a failed write returns only after its straggler tasks end; no staging survives them") {
    // a second of work that ignores interrupts, as a task mid-write does
    val slow = udf { (id: Long) =>
      val end = System.nanoTime() + 1000L * 1000 * 1000
      while (System.nanoTime() < end) try Thread.sleep(20L) catch { case _: InterruptedException => }
      id
    }.asNondeterministic()
    // partition 0 raises at once; partition 1 sleeps, then writes its row
    val straggling = spark.range(0, 2, 1, 2)
      .select(when(col("id") === 0L, raise_error(lit("injected companion failure")))
        .otherwise(slow(col("id"))).as("id"))
    val t = table()
    intercept[Exception] {
      t.commit("00000001", frame(1L), _ => Seq(straggling))
    }
    Thread.sleep(2000L) // past the straggler's write, had the commit not waited for it
    assert(t.committed.isEmpty)
    (t.marker +: t.companions).foreach { dir =>
      assert(entries(dir).forall(!_.startsWith(".")), s"staging residue in $dir: ${entries(dir)}")
    }
  }

  test("nextLabel numbers over numeric labels only; s-labels do not count") {
    val t = table(companions = 0)
    assert(t.nextLabel == "00000001")
    t.commit(BatchTable.streamLabel(9L), frame(1L))
    assert(t.nextLabel == "00000001")
    t.commit("00000002", frame(2L))
    t.commit(BatchTable.streamLabel(10L), frame(3L))
    assert(BatchTable.streamLabel(10L) == "s00000010")
    assert(t.committed == Seq("00000002", "s00000009", "s00000010"))
    assert(t.nextLabel == "00000003")
  }

  test("compact folds every batch under the next label, past a crashed compact's half") {
    val t = table()
    t.commit("00000001", frame(1L), _ => Seq(frame(10L)))
    assert(t.compact(_ => sys.error("a single batch is not rewritten")) == "00000001")
    t.commit(BatchTable.streamLabel(5L), frame(2L), _ => Seq(frame(20L)))
    // a compact that landed its companion and crashed before the promote
    BatchTable(spark, t.companions.head).commit("00000002", frame(99L))
    val merged = t.compact { old =>
      def read(dir: String) = spark.read.parquet(old.map(l => s"$dir/batch=$l"): _*)
      (read(t.marker), _ => Seq(read(t.companions.head)))
    }
    assert(merged == "00000002")
    assert(t.committed == Seq("00000002"))
    assert(t.labels(t.companions.head) == Seq("00000002"))
    assert(rows(t.marker, "00000002") == Seq(1L, 2L))
    assert(rows(t.companions.head, "00000002") == Seq(10L, 20L))
  }

  test("vacuum removes staging residue and uncommitted halves, never a committed batch") {
    val t = table()
    t.commit("00000001", frame(1L), _ => Seq(frame(10L)))
    BatchTable(spark, t.companions.head).commit("00000002", frame(20L))
    val fs = new Path(t.marker).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (t.marker +: t.companions).foreach(d => fs.mkdirs(new Path(d, ".staging_00000003_deadbeef")))
    t.vacuum()
    assert(entries(t.marker) == Seq("batch=00000001"))
    assert(entries(t.companions.head) == Seq("batch=00000001"))
    assert(rows(t.marker, "00000001") == Seq(1L))
    assert(rows(t.companions.head, "00000001") == Seq(10L))
  }

  test("labels that are not a plain path segment are rejected") {
    val t = table()
    for (bad <- Seq("", "a/b", ".x")) {
      intercept[IllegalArgumentException](t.commit(bad, frame(1L), _ => Seq(frame(10L))))
      intercept[IllegalArgumentException](t.commitOnce(bad, frame(1L), _ => Seq(frame(10L))))
    }
    assert(entries(t.marker).isEmpty && entries(t.companions.head).isEmpty)
  }
}
