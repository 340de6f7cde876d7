package graft

import graft.pipeline.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SCD2 invariants (SURVEY §5.3): exactly one open row per present
  * key, non-overlapping contiguous validity intervals, hard-delete
  * closes, and the nullable-compare-column regression (a key whose
  * tracked value is legitimately NULL and unchanged must keep exactly
  * one open row).
  */
class SnapshotSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val t1 = "2024-01-01 00:00:00"
  private val t2 = "2024-02-01 00:00:00"
  private val t3 = "2024-03-01 00:00:00"

  private def step(prev: Option[DataFrame], rows: Seq[(Long, String)],
                   asOf: String): DataFrame =
    Snapshot.scd2(prev, rows.toDF("id", "v"), Seq("id"), Seq("v"), asOf)

  private def openRows(df: DataFrame) = df.filter(col("valid_to").isNull)

  test("one open row per present key; changed keys close and reopen") {
    val s1 = step(None, Seq((1L, "a"), (2L, "b")), t1)
    val s2 = step(Some(s1), Seq((1L, "a"), (2L, "B2")), t2)
    assert(s2.count() == 3) // key 1 open, key 2 closed + reopened
    val open = openRows(s2).orderBy("id").as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp])].collect()
    assert(open.map(r => (r._1, r._2)).toSeq == Seq((1L, "a"), (2L, "B2")))
    val closed = s2.filter(col("valid_to").isNotNull).head()
    assert(closed.getAs[Long]("id") == 2L)
    assert(closed.getAs[java.sql.Timestamp]("valid_to").toString.startsWith("2024-02-01"))
  }

  test("intervals are contiguous and non-overlapping across 3 steps") {
    val s1 = step(None, Seq((1L, "a")), t1)
    val s2 = step(Some(s1), Seq((1L, "b")), t2)
    val s3 = step(Some(s2), Seq((1L, "c")), t3)
    val hist = s3.orderBy("valid_from")
      .select("v", "valid_from", "valid_to")
      .as[(String, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect()
    assert(hist.map(_._1).toSeq == Seq("a", "b", "c"))
    // each version closes exactly when the next opens
    assert(hist(0)._3.contains(hist(1)._2))
    assert(hist(1)._3.contains(hist(2)._2))
    assert(hist(2)._3.isEmpty)
    assert(openRows(s3).count() == 1)
  }

  test("hard delete closes the row and leaves no open version") {
    val s1 = step(None, Seq((1L, "a"), (2L, "b")), t1)
    val s2 = step(Some(s1), Seq((1L, "a")), t2) // key 2 vanished
    assert(openRows(s2).count() == 1)
    val gone = s2.filter(col("id") === 2L).head()
    assert(gone.getAs[java.sql.Timestamp]("valid_to") != null)
  }

  test("unchanged NULL tracked value keeps exactly one open row") {
    val s1 = Snapshot.scd2(None,
      Seq((1L, Option.empty[String]), (2L, Some("x"))).toDF("id", "v"),
      Seq("id"), Seq("v"), t1)
    val s2 = Snapshot.scd2(Some(s1),
      Seq((1L, Option.empty[String]), (2L, Some("x"))).toDF("id", "v"),
      Seq("id"), Seq("v"), t2)
    // regression: the old first-compare-col null check duplicated key 1
    assert(s2.count() == 2)
    assert(openRows(s2).filter(col("id") === 1L).count() == 1)
  }

  test("NULL → value transition versions correctly") {
    val s1 = Snapshot.scd2(None,
      Seq((1L, Option.empty[String])).toDF("id", "v"),
      Seq("id"), Seq("v"), t1)
    val s2 = Snapshot.scd2(Some(s1),
      Seq((1L, Some("now-set"))).toDF("id", "v"),
      Seq("id"), Seq("v"), t2)
    assert(s2.count() == 2)
    assert(openRows(s2).head.getAs[String]("v") == "now-set")
  }

  // ---------------- timestamp strategy (dbt updated_at) ------------------

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("timestamp strategy: validity carries ROW time, not run time") {
    def src(rows: Seq[(Long, String, String)]) =
      rows.map { case (id, v, u) => (id, v, ts(u)) }
        .toDF("id", "v", "updated_at")
    // step 1: two keys, row times differ from the run clock t1
    val (c1, o1) = Snapshot.scd2StepTimestamp(None,
      src(Seq((1L, "a", "2023-12-01 00:00:00"),
        (2L, "b", "2023-12-15 00:00:00"))),
      Seq("id"), Seq("v", "updated_at"), "updated_at", t1)
    assert(c1.count() == 0)
    assert(o1.filter(col("id") === 1L).head()
      .getAs[java.sql.Timestamp]("valid_from")
      == ts("2023-12-01 00:00:00"), "valid_from = the row's own time")
    // step 2: key 1 updated (newer ts), key 2 same ts but DIFFERENT
    // value (must NOT reopen — timestamp strategy ignores values),
    // key 3 new
    val (c2, o2) = Snapshot.scd2StepTimestamp(Some(o1),
      src(Seq((1L, "a2", "2024-01-10 00:00:00"),
        (2L, "B-IGNORED", "2023-12-15 00:00:00"),
        (3L, "c", "2024-01-20 00:00:00"))),
      Seq("id"), Seq("v", "updated_at"), "updated_at", t2)
    val closed = c2.collect()
    assert(closed.length == 1 && closed(0).getAs[Long]("id") == 1L)
    assert(closed(0).getAs[java.sql.Timestamp]("valid_to")
      == ts("2024-01-10 00:00:00"),
      "superseded row closes at its successor's row time")
    val open = o2.orderBy("id").collect()
    assert(open.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L))
    assert(open(0).getAs[String]("v") == "a2")
    assert(open(1).getAs[String]("v") == "b",
      "same-ts value change must not create a version")
    // step 3: key 2 hard-deleted → closes at the RUN clock
    val (c3, _) = Snapshot.scd2StepTimestamp(Some(o2),
      src(Seq((1L, "a2", "2024-01-10 00:00:00"),
        (3L, "c", "2024-01-20 00:00:00"))),
      Seq("id"), Seq("v", "updated_at"), "updated_at", t3)
    val del = c3.collect()
    assert(del.length == 1 && del(0).getAs[Long]("id") == 2L)
    assert(del(0).getAs[java.sql.Timestamp]("valid_to") == ts(t3))
  }

  test("timestamp strategy: NULL updated_at neither deletes nor vanishes") {
    def src(rows: Seq[(Long, String, Option[String])]) =
      rows.map { case (id, v, u) => (id, v, u.map(ts)) }
        .toDF("id", "v", "updated_at")
    // open rows: key 1 has a ts, key 2 has NULL ts (first insert of a
    // never-updated record)
    val (_, o1) = Snapshot.scd2StepTimestamp(None,
      src(Seq((1L, "a", Some("2024-01-01 00:00:00")),
        (2L, "b", None))),
      Seq("id"), Seq("v", "updated_at"), "updated_at", t1)
    assert(o1.count() == 2)
    // incoming: key 1 with NULL ts (must NOT read as a hard delete or
    // a new version), key 2 with a real ts (non-null beats null →
    // versions), key 2's open NULL row must close at the new row time
    val (c2, o2) = Snapshot.scd2StepTimestamp(Some(o1),
      src(Seq((1L, "a-IGNORED", None),
        (2L, "b2", Some("2024-02-15 00:00:00")))),
      Seq("id"), Seq("v", "updated_at"), "updated_at", t2)
    val closed = c2.collect()
    assert(closed.length == 1 && closed(0).getAs[Long]("id") == 2L)
    assert(closed(0).getAs[java.sql.Timestamp]("valid_to")
      == ts("2024-02-15 00:00:00"))
    val open = o2.orderBy("id").collect()
    assert(open.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L),
      "no key may vanish on NULL ts")
    assert(open(0).getAs[String]("v") == "a")
    assert(open(1).getAs[String]("v") == "b2")
  }

  // ---------------- hard_deletes modes (dbt 1.9) -------------------------

  import graft.pipeline.HardDeletes

  private def stepHd(prev: Option[DataFrame], rows: Seq[(Long, String)],
      asOf: String, hd: HardDeletes): (DataFrame, DataFrame) =
    Snapshot.scd2Step(prev, rows.toDF("id", "v"), Seq("id"), Seq("v"),
      asOf, hd)

  test("hard_deletes=ignore: vanished keys stay open, unclosed") {
    val (_, o1) = stepHd(None, Seq((1L, "a"), (2L, "b")), t1,
      HardDeletes.Ignore)
    val (c2, o2) = stepHd(Some(o1), Seq((1L, "a")), t2, HardDeletes.Ignore)
    assert(c2.count() == 0, "nothing closes on a hard delete")
    assert(o2.orderBy("id").select("id", "v").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("hard_deletes=new_record: marker row, idempotent absence, resurrection") {
    val hd = HardDeletes.NewRecord
    val (_, o1) = stepHd(None, Seq((1L, "a"), (2L, "b")), t1, hd)
    assert(o1.columns.contains(Snapshot.DeletedCol))
    assert(o1.filter(col(Snapshot.DeletedCol)).count() == 0)
    // key 2 vanishes: its live row closes at the clock AND a marker
    // row opens with the same values, flagged deleted
    val (c2, o2) = stepHd(Some(o1), Seq((1L, "a")), t2, hd)
    assert(c2.count() == 1 && c2.head.getAs[Long]("id") == 2L)
    val marker = o2.filter(col(Snapshot.DeletedCol)).collect()
    assert(marker.length == 1)
    assert(marker(0).getAs[Long]("id") == 2L)
    assert(marker(0).getAs[String]("v") == "b", "marker keeps last values")
    assert(marker(0).getAs[java.sql.Timestamp]("valid_from") == ts(t2))
    // still absent next run: the existing marker stays open untouched
    // (no re-close, no second marker)
    val (c3, o3) = stepHd(Some(o2), Seq((1L, "a")), t3, hd)
    assert(c3.count() == 0)
    assert(o3.filter(col(Snapshot.DeletedCol)).count() == 1)
    assert(o3.filter(col("id") === 2L).head()
      .getAs[java.sql.Timestamp]("valid_from") == ts(t2))
    // resurrection with UNCHANGED values: marker closes, a live row
    // opens (dbt 1.9 re-appearing record semantics)
    val (c4, o4) = stepHd(Some(o3), Seq((1L, "a"), (2L, "b")),
      "2024-04-01 00:00:00", hd)
    assert(c4.count() == 1 && c4.head.getAs[Boolean](Snapshot.DeletedCol))
    val back = o4.filter(col("id") === 2L).collect()
    assert(back.length == 1 && !back(0).getAs[Boolean](Snapshot.DeletedCol))
    assert(back(0).getAs[java.sql.Timestamp]("valid_from")
      == ts("2024-04-01 00:00:00"))
  }

  test("hard_deletes=new_record: pre-switch open rows default to live") {
    // a table snapshotted WITHOUT the flag column, then switched
    val (_, o1) = stepHd(None, Seq((1L, "a"), (2L, "b")), t1,
      HardDeletes.Invalidate)
    assert(!o1.columns.contains(Snapshot.DeletedCol))
    val (c2, o2) = stepHd(Some(o1), Seq((1L, "a")), t2,
      HardDeletes.NewRecord)
    assert(c2.count() == 1)
    assert(o2.filter(col(Snapshot.DeletedCol)).count() == 1)
    assert(o2.filter(!col(Snapshot.DeletedCol)).count() == 1)
  }

  test("timestamp strategy + new_record: delete marks, resurrection versions") {
    def src(rows: Seq[(Long, String, String)]) =
      rows.map { case (id, v, u) => (id, v, ts(u)) }
        .toDF("id", "v", "updated_at")
    val hd = HardDeletes.NewRecord
    val (_, o1) = Snapshot.scd2StepTimestamp(None,
      src(Seq((1L, "a", "2023-12-01 00:00:00"),
        (2L, "b", "2023-12-15 00:00:00"))),
      Seq("id"), Seq("v", "updated_at"), "updated_at", t1, hd)
    // key 2 hard-deleted → closes at run clock, marker opens
    val (c2, o2) = Snapshot.scd2StepTimestamp(Some(o1),
      src(Seq((1L, "a", "2023-12-01 00:00:00"))),
      Seq("id"), Seq("v", "updated_at"), "updated_at", t2, hd)
    assert(c2.count() == 1 && c2.head.getAs[java.sql.Timestamp]("valid_to")
      == ts(t2))
    assert(o2.filter(col(Snapshot.DeletedCol)).count() == 1)
    // resurrection with the SAME row ts: marker closes at the run
    // clock, live row reopens even though updated_at didn't advance
    val (c3, o3) = Snapshot.scd2StepTimestamp(Some(o2),
      src(Seq((1L, "a", "2023-12-01 00:00:00"),
        (2L, "b", "2023-12-15 00:00:00"))),
      Seq("id"), Seq("v", "updated_at"), "updated_at", t3, hd)
    assert(c3.count() == 1 && c3.head.getAs[Boolean](Snapshot.DeletedCol))
    assert(c3.head.getAs[java.sql.Timestamp]("valid_to") == ts(t3))
    val back = o3.filter(col("id") === 2L).collect()
    assert(back.length == 1 && !back(0).getAs[Boolean](Snapshot.DeletedCol))
    // the resurrected row opens at the RUN CLOCK (mirroring the
    // marker's valid_to), not at its own unchanged updated_at — the
    // row ts predates the deletion, so opening there would overlap
    // the closed pre-delete version: an as-of query inside the
    // deleted window would see the key twice
    assert(back(0).getAs[java.sql.Timestamp]("valid_from") == ts(t3),
      s"resurrection must not backdate into the deleted interval: " +
        back(0).toString)
    // full history for key 2 tiles without overlap: [t_row, t2) closed,
    // marker [t2, t3) closed, live [t3, ∞)
    val hist = (c2.unionByName(c3).unionByName(
        o3.filter(col("id") === 2L)))
      .filter(col("id") === 2L)
      .select("valid_from", "valid_to").collect()
      .map(r => (r.getTimestamp(0), Option(r.getTimestamp(1))))
      .sortBy(_._1.getTime)
    hist.sliding(2).foreach {
      case Array((_, Some(to)), (from2, _)) =>
        assert(!from2.before(to), s"overlapping validity: ${hist.toSeq}")
      case _ =>
    }
  }

  test("timestamp + new_record: resurrection ts inside/after the " +
      "deleted window") {
    def src(rows: Seq[(Long, String, String)]) =
      rows.map { case (id, v, u) => (id, v, ts(u)) }
        .toDF("id", "v", "updated_at")
    val hd = HardDeletes.NewRecord
    val cols = Seq("v", "updated_at")
    val (_, o1) = Snapshot.scd2StepTimestamp(None,
      src(Seq((1L, "a", "2023-12-01 00:00:00"))),
      Seq("id"), cols, "updated_at", t1, hd)
    // delete at t2: marker opens with valid_from = t2
    val (_, o2) = Snapshot.scd2StepTimestamp(Some(o1), src(Nil),
      Seq("id"), cols, "updated_at", t2, hd)
    // resurrection whose ts ADVANCED past the carried tsCol but still
    // predates the deletion instant (restore-from-backup / late
    // update): u1 < u2 < t2. Must hand off at the RUN CLOCK — the
    // row ts would invert the marker interval and overlap the closed
    // pre-delete version
    val (c3, o3) = Snapshot.scd2StepTimestamp(Some(o2),
      src(Seq((1L, "b", "2024-01-15 00:00:00"))),
      Seq("id"), cols, "updated_at", t3, hd)
    val marker3 = c3.head
    assert(marker3.getAs[Boolean](Snapshot.DeletedCol))
    assert(marker3.getAs[java.sql.Timestamp]("valid_to") == ts(t3),
      s"marker must close at the run clock, not inside the deleted " +
        s"window: $marker3")
    assert(!marker3.getAs[java.sql.Timestamp]("valid_to")
      .before(marker3.getAs[java.sql.Timestamp]("valid_from")),
      s"inverted marker interval: $marker3")
    val live3 = o3.head
    assert(live3.getAs[java.sql.Timestamp]("valid_from") == ts(t3),
      s"resurrected row must not backdate into the deleted window: " +
        s"$live3")
    // second delete + resurrection whose ts is AFTER that deletion
    // instant: row-time semantics apply — marker closes and the live
    // row opens at the row's own updated_at
    val t4 = "2024-04-01 00:00:00"
    val t5 = "2024-05-01 00:00:00"
    val (_, o4) = Snapshot.scd2StepTimestamp(Some(o3), src(Nil),
      Seq("id"), cols, "updated_at", t4, hd)
    val (c5, o5) = Snapshot.scd2StepTimestamp(Some(o4),
      src(Seq((1L, "c", "2024-04-20 00:00:00"))),
      Seq("id"), cols, "updated_at", t5, hd)
    assert(c5.head.getAs[java.sql.Timestamp]("valid_to")
      == ts("2024-04-20 00:00:00"))
    assert(o5.head.getAs[java.sql.Timestamp]("valid_from")
      == ts("2024-04-20 00:00:00"))
  }

  test("runner snapshot: an untracked source column is not schema " +
      "drift; dropping a tracked column still fails with the diff") {
    import graft.pipeline._
    val w = java.nio.file.Files.createTempDirectory("snapshot_wh").toString
    def runner(rows: => DataFrame) = new PipelineRunner(spark,
      PipelineSpec(
        models = Seq(Model("sc_src", Nil, Materialization.Table,
          (_, _) => rows)),
        snapshots = Seq(SnapshotDef("sc_snap", "sc_src", Seq("id"),
          Seq("v")))), w)
    // check_cols = [v]: the stored open rows hold id, v — never extra
    assert(runner(Seq((1L, "a", 7L), (2L, "b", 8L)).toDF("id", "v", "extra"))
      .run(Seq("run", "snapshot --at 2024-01-01T00:00:00")).success)
    val r2 = runner(Seq((1L, "a2", 9L), (2L, "b", 8L))
      .toDF("id", "v", "extra"))
    assert(r2.runCommand("run").success)
    val res2 = r2.runCommand("snapshot --at 2024-02-01T00:00:00")
    assert(res2.success, res2.error)
    val snap = r2.readTable("sc_snap")
    assert(snap.columns.toSet == Set("id", "v", "valid_from", "valid_to"))
    assert(openRows(snap).orderBy("id").select("id", "v").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a2"), (2L, "b")))
    assert(snap.count() == 3) // key 1 closed and reopened
    // the tracked column v vanishes from the source: history cannot
    // absorb that — loud failure naming both shapes
    val r3 = runner(Seq((1L, 9L)).toDF("id", "extra"))
    assert(r3.runCommand("run").success)
    val res3 = r3.runCommand("snapshot --at 2024-03-01T00:00:00")
    assert(!res3.success)
    assert(res3.error.exists(e => e.contains("source schema changed") &&
      e.contains("stored: id,v; live: id)")), res3.error)
  }
}
