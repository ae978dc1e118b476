package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SnapshotDiff

class SnapshotDiffSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // (k, status, amt) — nullable amt exercises null-safe comparison
  private val oldSnap = Seq(
    (1L, "open", Some(10.0)),   // unchanged
    (2L, "open", Some(20.0)),   // status changes
    (3L, "open", None),         // null → value  (update via <=>)
    (4L, "done", Some(40.0)),   // deleted
    (5L, "done", None)          // unchanged, with null
  ).toDF("k", "status", "amt")

  private val newSnap = Seq(
    (1L, "open", Some(10.0)),
    (2L, "held", Some(20.0)),
    (3L, "open", Some(30.0)),
    (5L, "done", Option.empty[Double]),
    (6L, "new", Some(60.0))     // inserted
  ).toDF("k", "status", "amt")

  private lazy val d = SnapshotDiff.diff(oldSnap, newSnap, Seq("k"))

  /** Replays a diff onto the snapshot it was taken from: drop every
    * touched key (null-safe, so a null-keyed update suppresses its old
    * image), then append the `new_` image of inserts and updates. Equal
    * to the target snapshot iff the diff missed no change.
    */
  private def replay(
      oldDf: org.apache.spark.sql.DataFrame,
      diffDf: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    val tracked = oldDf.columns.filterNot(keys.contains).toSeq
    val idx = keys.indices
    val touched = diffDf.select(idx.map(i => col(keys(i)).as(s"__tk_$i")): _*)
    val incoming = diffDf
      .where(col("change_type").isin("insert", "update"))
      .select(keys.map(col) ++ tracked.map(c => col(s"new_$c").as(c)): _*)
    oldDf
      .join(touched, idx.map(i => col(keys(i)) <=> col(s"__tk_$i")).reduce(_ && _), "left_anti")
      .unionByName(incoming.select(oldDf.columns.map(col): _*))
  }

  test("classifies insert/delete/update and drops unchanged keys") {
    val types = d.select("k", "change_type").as[(Long, String)].collect().toMap
    assert(types === Map(2L -> "update", 3L -> "update", 4L -> "delete", 6L -> "insert"))
  }

  test("changed_cols names exactly the <=>-distinct columns; empty for insert/delete") {
    val cc = d.select("k", "changed_cols").as[(Long, Seq[String])].collect().toMap
    assert(cc(2L) === Seq("status"))
    assert(cc(3L) === Seq("amt")) // null -> 30.0 is a change; status is not
    assert(cc(4L) === Nil && cc(6L) === Nil)
  }

  test("both images are carried: old_ null on insert, new_ null on delete") {
    val r6 = d.where($"k" === 6L).head()
    assert(r6.getAs[String]("old_status") == null &&
      r6.getAs[String]("new_status") == "new")
    val r4 = d.where($"k" === 4L).head()
    assert(r4.getAs[String]("new_status") == null &&
      r4.getAs[String]("old_status") == "done")
  }

  test("replaying the diff onto the old snapshot reproduces the new snapshot") {
    val replayed = replay(oldSnap, d, Seq("k"))
    assert(replayed.exceptAll(newSnap).isEmpty && newSnap.exceptAll(replayed).isEmpty)
  }

  test("compareCols narrows tracking: changes outside the list are invisible") {
    val narrowed = SnapshotDiff.diff(oldSnap, newSnap, Seq("k"), compareCols = Seq("status"))
    val types = narrowed.select("k", "change_type").as[(Long, String)].collect().toMap
    // k=3 changed only amt → not a change under status-only tracking
    assert(types === Map(2L -> "update", 4L -> "delete", 6L -> "insert"))
  }

  test("identical snapshots diff to zero rows") {
    assert(SnapshotDiff.diff(oldSnap, oldSnap, Seq("k")).isEmpty)
  }

  test("null keys are keys: an unchanged null-keyed row is no change, a changed one is an update") {
    val o = Seq((Some(1L), "a"), (Option.empty[Long], "x")).toDF("k", "status")
    val nSame = Seq((Some(1L), "a"), (Option.empty[Long], "x")).toDF("k", "status")
    assert(SnapshotDiff.diff(o, nSame, Seq("k")).isEmpty,
      "identical snapshots with a null key must diff to nothing")
    val nChanged = Seq((Some(1L), "a"), (Option.empty[Long], "y")).toDF("k", "status")
    val d2 = SnapshotDiff.diff(o, nChanged, Seq("k"))
    val r = d2.collect()
    assert(r.length === 1 && r.head.getAs[String]("change_type") === "update" &&
      r.head.isNullAt(r.head.fieldIndex("k")))
    // and the replay invariant holds through the null key
    val replayed = replay(o, d2, Seq("k"))
    assert(replayed.exceptAll(nChanged).isEmpty && nChanged.exceptAll(replayed).isEmpty)
  }

  test("the diff plan is one join and no more") {
    val joins = d.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size === 1 &&
      joins.head.joinType === org.apache.spark.sql.catalyst.plans.FullOuter)
  }
}
