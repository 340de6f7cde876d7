package graft

import graft.pipeline._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runner semantics mirroring the reference's process contract:
  * fail-fast command loop (`dbtoperator.py:426-434`), atomic
  * write-audit-publish (a failed rebuild leaves the old generation
  * readable), incremental edge cases (null high-water mark), and
  * `--select` graph selection.
  */
class PipelineRunnerSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def wh(): String = {
    val base = java.nio.file.Paths.get("/root/repo/target/scratch-test")
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, "wh").toString
  }

  private def tableModel(name: String, data: => Seq[(Long, String)]) =
    Model(name, Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._; data.toDF("id", "v") })

  test("fail-fast: a failing command skips the remaining commands") {
    val spec = PipelineSpec(Seq(
      Model("ok_m", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._; Seq((1L, "a")).toDF("id", "v") }),
      Model("bad_m", Nil, Materialization.Table,
        (_, _) => sys.error("boom"))))
    val r = new PipelineRunner(spark, spec, wh())
    val res = r.run(Seq("run --select bad_m", "run --select ok_m"))
    assert(!res.success)
    assert(res.results.length == 1, "second command must not run")
    assert(!r.tableExists("ok_m"))
  }

  test("a failed rebuild leaves the previous generation readable") {
    val w = wh()
    val good = PipelineSpec(Seq(tableModel("t", Seq((1L, "v1"), (2L, "v1")))))
    assert(new PipelineRunner(spark, good, w).run(Seq("run")).success)

    // rebuild whose *write* fails mid-flight (udf throws per row)
    val explode = udf((s: String) =>
      if (s != null) sys.error("decode failure") else s)
    val bad = PipelineSpec(Seq(Model("t", Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._
        Seq((9L, "x")).toDF("id", "v").withColumn("v", explode(col("v"))) })))
    val r2 = new PipelineRunner(spark, bad, w)
    assert(!r2.run(Seq("run")).success)
    // old generation still live and intact
    assert(r2.readTable("t").orderBy("id").as[(Long, String)].collect()
      .toSeq == Seq((1L, "v1"), (2L, "v1")))
  }

  test("incremental append: null high-water mark appends everything") {
    val w = wh()
    def spec(rows: Seq[(Long, java.sql.Timestamp)]) =
      PipelineSpec(Seq(Model("inc", Nil,
        Materialization.IncrementalAppend("ts"),
        (sp, _) => { import sp.implicits._
          val df = rows.toDF("id", "ts")
          // keep the schema even when empty
          df })))
    val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // first run: EMPTY batch → table exists, hwm is null
    assert(new PipelineRunner(spark, spec(Nil), w).run(Seq("run")).success)
    val r1 = new PipelineRunner(spark, spec(Nil), w)
    assert(r1.readTable("inc").count() == 0)
    // second run: data arrives — null hwm must mean "append everything"
    val r2 = new PipelineRunner(spark,
      spec(Seq((1L, t(1)), (2L, t(2)))), w)
    assert(r2.run(Seq("run")).success)
    assert(r2.readTable("inc").count() == 2)
  }

  test("incremental append: overlapping batches don't duplicate rows") {
    val w = wh()
    val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    def spec(upTo: Int) = PipelineSpec(Seq(Model("inc2", Nil,
      Materialization.IncrementalAppend("ts"),
      (sp, _) => { import sp.implicits._
        (1 to upTo).map(i => (i.toLong, t(i))).toDF("id", "ts") })))
    assert(new PipelineRunner(spark, spec(5), w).run(Seq("run")).success)
    val r2 = new PipelineRunner(spark, spec(9), w)
    assert(r2.run(Seq("run")).success)
    assert(r2.readTable("inc2").count() == 9)
    assert(r2.readTable("inc2").select("id").distinct().count() == 9)
  }

  test("insert_overwrite replaces touched partitions and accepts new ones") {
    val w = wh()
    def spec(rows: Seq[(Long, String, Int)]) = PipelineSpec(Seq(Model(
      "iow", Nil, Materialization.IncrementalInsertOverwrite(Seq("part")),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "part", "ver") })))
    // batch 1: partitions A and B at v1
    assert(new PipelineRunner(spark,
      spec(Seq((1L, "A", 1), (2L, "A", 1), (3L, "B", 1))), w)
      .run(Seq("run")).success)
    // batch 2: replace A, introduce brand-new partition C; B untouched
    val r2 = new PipelineRunner(spark,
      spec(Seq((9L, "A", 2), (10L, "C", 2))), w)
    assert(r2.run(Seq("run")).success)
    val state = r2.readTable("iow").orderBy("id")
      .select("id", "part", "ver").as[(Long, String, Int)].collect().toSeq
    assert(state == Seq((3L, "B", 1), (9L, "A", 2), (10L, "C", 2)))
  }

  test("insert_overwrite keeps numeric-looking string partition values") {
    // regression: partition-column type inference on read-back turned
    // "01" into 1; the stored generation schema must prevent that
    val w = wh()
    def spec(rows: Seq[(Long, String)]) = PipelineSpec(Seq(Model(
      "iowp", Nil, Materialization.IncrementalInsertOverwrite(Seq("month_code")),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "month_code") })))
    assert(new PipelineRunner(spark,
      spec(Seq((1L, "01"), (2L, "02"))), w).run(Seq("run")).success)
    val r2 = new PipelineRunner(spark, spec(Seq((9L, "01"))), w)
    assert(r2.run(Seq("run")).success)
    val state = r2.readTable("iowp").orderBy("id")
      .select("id", "month_code").as[(Long, String)].collect().toSeq
    assert(state == Seq((2L, "02"), (9L, "01")))
  }

  // live generation = highest committed id; manifests are
  // self-contained (header lines + one member path per line)
  private def liveManifestLines(r: PipelineRunner, t: String): Seq[String] = {
    val root = java.nio.file.Paths.get(r.tablePath(t))
    val gen = r.generations(t).last
    java.nio.file.Files.readString(root.resolve(gen))
      .linesIterator.filter(_.nonEmpty).toSeq
  }

  private def manifestMembers(r: PipelineRunner, t: String): Set[String] =
    liveManifestLines(r, t).filterNot(_.startsWith("#")).toSet

  private def manifestSidecar(r: PipelineRunner, t: String,
      key: String): Option[String] =
    liveManifestLines(r, t).collectFirst {
      case l if l.startsWith(s"#sidecar.$key:") =>
        l.stripPrefix(s"#sidecar.$key:")
          .replace("%0D", "\r").replace("%0A", "\n").replace("%25", "%")
    }

  test("merge is partition-scoped: untouched buckets are not rewritten") {
    val w = wh()
    def spec(rows: Seq[(Long, String)]) = PipelineSpec(Seq(Model("pm", Nil,
      Materialization.IncrementalMerge(Seq("id"), buckets = 8),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "v") })))
    val r1 = new PipelineRunner(spark,
      spec((1L to 50L).map(i => (i, "v1"))), w)
    assert(r1.run(Seq("run")).success)
    val m1 = manifestMembers(r1, "pm")
    // second run: upsert a single key → exactly one bucket touched
    val r2 = new PipelineRunner(spark, spec(Seq((1L, "v2"))), w)
    assert(r2.run(Seq("run")).success)
    val m2 = manifestMembers(r2, "pm")
    val dropped = m1 -- m2
    assert(dropped.size == 1,
      s"exactly one bucket member should be replaced, dropped=$dropped")
    assert((m1 & m2).size == m1.size - 1,
      "all other bucket members must keep their exact file paths")
    // merge semantics intact: id=1 updated, everything else kept
    val state = r2.readTable("pm").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(state.size == 50 && state.head == ((1L, "v2")))
    assert(state.tail.forall(_._2 == "v1"))
    // the hidden bucket column never leaks into the table surface
    assert(!r2.readTable("pm").columns.contains("__gbucket"))
  }

  test("merge upserts a key even when its row moves between batches") {
    val w = wh()
    def spec(rows: Seq[(Long, String)]) = PipelineSpec(Seq(Model("pm2", Nil,
      Materialization.IncrementalMerge(Seq("id"), buckets = 4),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "v") })))
    assert(new PipelineRunner(spark,
      spec(Seq((1L, "a"), (2L, "a"))), w).run(Seq("run")).success)
    assert(new PipelineRunner(spark,
      spec(Seq((2L, "b"), (3L, "b"))), w).run(Seq("run")).success)
    val r3 = new PipelineRunner(spark, spec(Seq((2L, "c"))), w)
    assert(r3.run(Seq("run")).success)
    val state = r3.readTable("pm2").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(state == Seq((1L, "a"), (2L, "c"), (3L, "b")))
  }

  test("on_schema_change: added column appends, old rows read NULL") {
    val w = wh()
    val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val spec1 = PipelineSpec(Seq(Model("ev", Nil,
      Materialization.IncrementalAppend("ts"),
      (sp, _) => { import sp.implicits._
        Seq((1L, t(1))).toDF("id", "ts") })))
    assert(new PipelineRunner(spark, spec1, w).run(Seq("run")).success)
    val spec2 = PipelineSpec(Seq(Model("ev", Nil,
      Materialization.IncrementalAppend("ts"),
      (sp, _) => { import sp.implicits._
        Seq((2L, t(2), "fresh")).toDF("id", "ts", "note") })))
    val r2 = new PipelineRunner(spark, spec2, w)
    assert(r2.run(Seq("run")).success)
    val rows = r2.readTable("ev").orderBy("id")
      .select("id", "note").as[(Long, Option[String])].collect().toSeq
    assert(rows == Seq((1L, None), (2L, Some("fresh"))))
  }

  test("on_schema_change: removed column fails loudly (append and merge)") {
    val w = wh()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    val app1 = PipelineSpec(Seq(Model("evr", Nil,
      Materialization.IncrementalAppend("ts"),
      (sp, _) => { import sp.implicits._
        Seq((1L, t0, "x")).toDF("id", "ts", "note") })))
    assert(new PipelineRunner(spark, app1, w).run(Seq("run")).success)
    val app2 = PipelineSpec(Seq(Model("evr", Nil,
      Materialization.IncrementalAppend("ts"),
      (sp, _) => { import sp.implicits._
        Seq((2L, t0)).toDF("id", "ts") })))
    val res = new PipelineRunner(spark, app2, w).run(Seq("run"))
    assert(!res.success)
    assert(res.results.head.error.exists(_.contains("on_schema_change")))

    val mg1 = PipelineSpec(Seq(Model("mgr", Nil,
      Materialization.IncrementalMerge(Seq("id")),
      (sp, _) => { import sp.implicits._
        Seq((1L, "a", "x")).toDF("id", "v", "note") })))
    assert(new PipelineRunner(spark, mg1, w).run(Seq("run")).success)
    val mg2 = PipelineSpec(Seq(Model("mgr", Nil,
      Materialization.IncrementalMerge(Seq("id")),
      (sp, _) => { import sp.implicits._
        Seq((1L, "b")).toDF("id", "v") })))
    val res2 = new PipelineRunner(spark, mg2, w).run(Seq("run"))
    assert(!res2.success)
    assert(res2.results.head.error.exists(_.contains("on_schema_change")))
  }

  test("zero-row incremental runs succeed (empty partitioned batches)") {
    val w = wh()
    def spec(rows: Seq[(Long, String, Int)]) = PipelineSpec(Seq(Model(
      "z", Nil, Materialization.IncrementalInsertOverwrite(Seq("part")),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "part", "ver") })))
    assert(new PipelineRunner(spark, spec(Seq((1L, "A", 1))), w)
      .run(Seq("run")).success)
    // a no-new-data scheduled run writes an empty partitioned batch
    // (only _SUCCESS) — the run must not fail on schema inference
    val r2 = new PipelineRunner(spark, spec(Nil), w)
    assert(r2.run(Seq("run")).success)
    assert(r2.readTable("z").count() == 1)

    def mspec(rows: Seq[(Long, String)]) = PipelineSpec(Seq(Model(
      "zm", Nil, Materialization.IncrementalMerge(Seq("id")),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "v") })))
    assert(new PipelineRunner(spark, mspec(Seq((1L, "a"))), w)
      .run(Seq("run")).success)
    val rm = new PipelineRunner(spark, mspec(Nil), w)
    assert(rm.run(Seq("run")).success)
    assert(rm.readTable("zm").count() == 1)
  }

  test("append refuses a table with partition-scoped members") {
    val w = wh()
    val iow = PipelineSpec(Seq(Model("sw2", Nil,
      Materialization.IncrementalInsertOverwrite(Seq("part")),
      (sp, _) => { import sp.implicits._
        Seq((1L, "A", 1)).toDF("id", "part", "ver") })))
    assert(new PipelineRunner(spark, iow, w).run(Seq("run")).success)
    // switching to append would compute the high-water mark from one
    // partition dir and silently duplicate rows — must fail loudly
    val app = PipelineSpec(Seq(Model("sw2", Nil,
      Materialization.IncrementalAppend("ver"),
      (sp, _) => { import sp.implicits._
        Seq((2L, "A", 2)).toDF("id", "part", "ver") })))
    val res = new PipelineRunner(spark, app, w).run(Seq("run"))
    assert(!res.success)
    assert(res.results.head.error.exists(_.contains("full-refresh")))
  }

  test("insert_overwrite refuses a table whose members aren't partitioned") {
    val w = wh()
    // built as a plain table first (whole-batch manifest member) …
    assert(new PipelineRunner(spark,
      PipelineSpec(Seq(Model("sw", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          Seq((1L, "A")).toDF("id", "part") }))), w)
      .run(Seq("run")).success)
    // … then switched to insert_overwrite without a full refresh:
    // silent partition duplication must be refused loudly
    val res = new PipelineRunner(spark,
      PipelineSpec(Seq(Model("sw", Nil,
        Materialization.IncrementalInsertOverwrite(Seq("part")),
        (sp, _) => { import sp.implicits._
          Seq((2L, "A")).toDF("id", "part") }))), w)
      .run(Seq("run"))
    assert(!res.success)
    assert(res.results.head.error.exists(_.contains("full-refresh")))
  }

  test("--select resolves ancestors, descendants, and exact") {
    val mk = (n: String, deps: Seq[String]) =>
      Model(n, deps, Materialization.Ephemeral, (sp, _) =>
        { import sp.implicits._; Seq(1).toDF("x") })
    val spec = PipelineSpec(Seq(
      mk("a", Nil), mk("b", Seq("a")), mk("c", Seq("b")), mk("d", Nil)))
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.select(Some("b")) == Set("b"))
    assert(r.select(Some("+b")) == Set("a", "b"))
    assert(r.select(Some("b+")) == Set("b", "c"))
    assert(r.select(Some("+b+")) == Set("a", "b", "c"))
    assert(r.select(None) == Set("a", "b", "c", "d"))
  }

  test("cycles are rejected") {
    val mk = (n: String, deps: Seq[String]) =>
      Model(n, deps, Materialization.Ephemeral, (sp, _) =>
        { import sp.implicits._; Seq(1).toDF("x") })
    val spec = PipelineSpec(Seq(mk("x", Seq("y")), mk("y", Seq("x"))))
    val r = new PipelineRunner(spark, spec, wh())
    assertThrows[IllegalArgumentException](r.topoOrder(Set("x", "y")))
  }

  test("generic data tests catch seeded violations and pass clean data") {
    val clean = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "v")
    assert(DataTests.unique(clean, Seq("id")).count() == 0)
    assert(DataTests.unique(dup, Seq("id")).count() == 1)
    val withNull = Seq((1L, "a"), (2L, null)).toDF("id", "v")
    assert(DataTests.notNull(withNull, "v").count() == 1)
    assert(DataTests.acceptedValues(clean, "v", Seq("a", "b")).count() == 0)
    assert(DataTests.acceptedValues(clean, "v", Seq("a")).count() == 1)
    val parent = Seq(Tuple1(1L)).toDF("pid")
    val child = Seq(Tuple1(1L), Tuple1(7L)).toDF("cid")
    val orphans = DataTests.relationships(child, "cid", parent, "pid").collect()
    assert(orphans.map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("run --threads builds a diamond DAG level-parallel, same result") {
    def mkSpec() = {
      val base = Model("d_base", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          (1L to 100L).map(i => (i, i % 7)).toDF("id", "g") })
      val l = Model("d_left", Seq("d_base"), Materialization.Table,
        (_, in) => in("d_base").groupBy("g")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n")))
      val r = Model("d_right", Seq("d_base"), Materialization.Table,
        (_, in) => in("d_base").groupBy("g")
          .agg(org.apache.spark.sql.functions.sum("id").as("s")))
      val top = Model("d_top", Seq("d_left", "d_right"), Materialization.Table,
        (_, in) => in("d_left").join(in("d_right"), "g"))
      PipelineSpec(Seq(base, l, r, top))
    }
    val seq = new PipelineRunner(spark, mkSpec(), wh())
    assert(seq.run(Seq("run")).success)
    val par = new PipelineRunner(spark, mkSpec(), wh())
    assert(par.run(Seq("run --threads 4")).success)
    val a = seq.readTable("d_top").orderBy("g")
      .as[(Long, Long, Long)].collect().toSeq
    val b = par.readTable("d_top").orderBy("g")
      .as[(Long, Long, Long)].collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("run --threads still fails fast across levels") {
    val spec = PipelineSpec(Seq(
      Model("f_a", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._; Seq(1L).toDF("x") }),
      Model("f_bad", Nil, Materialization.Table,
        (_, _) => sys.error("boom")),
      Model("f_down", Seq("f_bad"), Materialization.Table,
        (_, in) => in("f_bad"))))
    val r = new PipelineRunner(spark, spec, wh())
    val res = r.run(Seq("run --threads 4"))
    assert(!res.success)
    assert(!r.tableExists("f_down"), "downstream of failure must not build")
  }

  test("run --threads starts a model once its own deps settle, not its level") {
    // slow and fast start together; after_fast depends only on fast,
    // so it must be built and published while slow is still building
    var r: PipelineRunner = null
    val startedAt = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    @volatile var slowReturnedAt = 0L
    @volatile var afterFastAtSlowReturn = false
    val spec = PipelineSpec(Seq(
      Model("slow", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          startedAt.put("slow", System.nanoTime())
          Thread.sleep(1500)
          afterFastAtSlowReturn = r.tableExists("after_fast")
          slowReturnedAt = System.nanoTime()
          Seq((1L, "slow")).toDF("id", "v") }),
      Model("fast", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          startedAt.put("fast", System.nanoTime())
          Seq((1L, "fast")).toDF("id", "v") }),
      Model("after_fast", Seq("fast"), Materialization.Table,
        (_, in) => { startedAt.put("after_fast", System.nanoTime())
          in("fast") })))
    r = new PipelineRunner(spark, spec, wh())
    assert(r.run(Seq("run --threads 2")).success)
    assert(startedAt.get("after_fast") < slowReturnedAt,
      "after_fast must start while slow is still building")
    assert(afterFastAtSlowReturn,
      "after_fast must be published before slow's build returns")
    assert(r.readTable("after_fast").as[(Long, String)].collect().toSeq ==
      Seq((1L, "fast")))
  }

  test("PipelineLogger keeps every line logged from concurrent threads") {
    val logger = new PipelineLogger(LogLevel.DEBUG)
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 1000).foreach(i =>
        logger.log(LogLevel.INFO, s"t$t line $i")))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val logged = logger.lines.map(_._2)
    val (n, distinct) = (logged.size, logged.toSet.size)
    assert(n == 8000 && distinct == 8000)
  }

  test("time travel: superseded generations stay readable until vacuum") {
    val w = wh()
    def spec(v: String) = PipelineSpec(Seq(tableModel("tt", Seq((1L, v)))))
    assert(new PipelineRunner(spark, spec("v1"), w).run(Seq("run")).success)
    val r2 = new PipelineRunner(spark, spec("v2"), w)
    assert(r2.run(Seq("run")).success)
    val gens = r2.generations("tt")
    assert(gens.size == 2)
    assert(r2.readTableAt("tt", gens.head)
      .as[(Long, String)].collect().toSeq == Seq((1L, "v1")))
    assert(r2.readTable("tt")
      .as[(Long, String)].collect().toSeq == Seq((1L, "v2")))
    r2.vacuum("tt", minAgeMs = 0L)
    assert(r2.generations("tt") == Seq(gens.last))
    assertThrows[IllegalArgumentException](r2.readTableAt("tt", gens.head))
  }

  test("merge-on-read: O(delta) append, base files byte-untouched, " +
      "latest-wins reads, compact folds, key-change guard") {
    val w = wh()
    def spec(rows: Seq[(Long, String)]) = PipelineSpec(Seq(Model("mr", Nil,
      Materialization.IncrementalMergeOnRead(Seq("id")),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "v") })))
    assert(new PipelineRunner(spark, spec((1L to 20L).map((_, "a"))), w)
      .run(Seq("run")).success)
    val r = new PipelineRunner(spark, spec(Seq((1L, "b"), (21L, "c"))), w)
    val baseMember = manifestMembers(r, "mr").head
    val basePath = java.nio.file.Paths.get(r.tablePath("mr"), baseMember)
    def baseFiles() = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(basePath)
      try s.iterator().asScala
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p)).toMap
      finally s.close()
    }
    val before = baseFiles()
    assert(r.run(Seq("run")).success)
    assert(manifestMembers(r, "mr").size == 2,
      "a MoR merge appends exactly one member")
    assert(baseFiles() == before,
      "MoR must not touch a single existing file")
    val st = r.readTable("mr").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(st.size == 21 && st.head == ((1L, "b")) &&
      st.last == ((21L, "c")), s"$st")
    assert(st.slice(1, 20).forall(_._2 == "a"))
    assert(!r.readTable("mr").columns.contains("__gver"),
      "the version column is storage layout, not surface")
    // compaction folds superseded versions; reads identical after
    r.compact("mr")
    assert(manifestMembers(r, "mr").size == 1)
    assert(r.readTable("mr").orderBy("id")
      .as[(Long, String)].collect().toSeq == st)
    // merging keeps working after compaction (version stays monotonic)
    val r3 = new PipelineRunner(spark, spec(Seq((2L, "d"))), w)
    assert(r3.run(Seq("run")).success)
    val st3 = r3.readTable("mr").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(st3.size == 21 && st3(0) == ((1L, "b")) &&
      st3(1) == ((2L, "d")), s"$st3")
    // changing the unique_key without --full-refresh fails loudly
    val bad = PipelineSpec(Seq(Model("mr", Nil,
      Materialization.IncrementalMergeOnRead(Seq("v")),
      (sp, _) => { import sp.implicits._
        Seq((99L, "x")).toDF("id", "v") })))
    assert(!new PipelineRunner(spark, bad, w).run(Seq("run")).success)
    // full refresh resets table and version ledger
    val r5 = new PipelineRunner(spark, spec(Seq((9L, "z"))), w)
    assert(r5.run(Seq("run --full-refresh")).success)
    assert(r5.readTable("mr")
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    val r6 = new PipelineRunner(spark, spec(Seq((9L, "y"))), w)
    assert(r6.run(Seq("run")).success)
    assert(r6.readTable("mr")
      .as[(Long, String)].collect().toSeq == Seq((9L, "y")))
  }

  test("full-refresh away from merge_on_read clears its sidecars; " +
      "reads and later appends work") {
    val w = wh()
    def mor(rows: Seq[(Long, String)]) = PipelineSpec(Seq(Model("sw", Nil,
      Materialization.IncrementalMergeOnRead(Seq("id")),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "v") })))
    assert(new PipelineRunner(spark, mor(Seq((1L, "a"))), w)
      .run(Seq("run")).success)
    assert(new PipelineRunner(spark, mor(Seq((1L, "b"))), w)
      .run(Seq("run")).success)
    // switch to a plain table materialization (full refresh by nature)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    val r = new PipelineRunner(spark,
      PipelineSpec(Seq(Model("sw", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          Seq((7L, t0)).toDF("id", "ts") }))), w)
    assert(r.run(Seq("run")).success)
    assert(r.readTable("sw")
      .as[(Long, java.sql.Timestamp)].collect().toSeq == Seq((7L, t0)),
      "reads must not try to version-reconcile a non-MoR generation")
    assert(manifestSidecar(r, "sw", "mor_keys").isEmpty,
      "mor sidecars must not survive a non-MoR full refresh")
    // the append-onto-MoR guard is satisfied again after the refresh
    val app = PipelineSpec(Seq(Model("sw", Nil,
      Materialization.IncrementalAppend("ts"),
      (sp, _) => { import sp.implicits._
        Seq((8L, t1)).toDF("id", "ts") })))
    assert(new PipelineRunner(spark, app, w).run(Seq("run")).success)
    assert(new PipelineRunner(spark, app, w).readTable("sw").count() == 2)
  }

  test("merge-on-read CDC tombstones: delete hides the key, compact " +
      "makes it physical, a later upsert resurrects") {
    val w = wh()
    def spec(rows: Seq[(Long, String, Boolean)]) = PipelineSpec(Seq(Model(
      "cd", Nil,
      Materialization.IncrementalMergeOnRead(Seq("id"),
        deleteCol = Some("del")),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "v", "del") })))
    assert(new PipelineRunner(spark,
      spec(Seq((1L, "a", false), (2L, "a", false))), w)
      .run(Seq("run")).success)
    val r = new PipelineRunner(spark, spec(Seq((1L, "x", true))), w)
    assert(r.run(Seq("run")).success)
    assert(r.readTable("cd").orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((2L, "a")),
      "a winning tombstone hides its key")
    assert(!r.readTable("cd").columns.contains("del"),
      "the CDC flag column is consumed, never surfaced")
    // compaction drops the tombstone AND its key physically
    r.compact("cd")
    val folded = spark.read.parquet(
      s"${r.tablePath("cd")}/${manifestMembers(r, "cd").head}")
    assert(folded.filter(col("id") === 1L).count() == 0,
      "compact must not retain deleted keys in the folded base")
    // resurrection: a later upsert brings the key back
    val r2 = new PipelineRunner(spark, spec(Seq((1L, "c", false))), w)
    assert(r2.run(Seq("run")).success)
    assert(r2.readTable("cd").orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "c"), (2L, "a")))
  }

  test("mergeBatchOnRead: exactly-once versioned upserts, one member " +
      "per micro-batch, replay is a no-op") {
    val w = wh()
    val r = new PipelineRunner(spark, PipelineSpec(Nil), w)
    assert(r.mergeBatchOnRead("ms",
      Seq((1L, "a"), (2L, "a")).toDF("id", "v"), 0L, Seq("id")) == 2L)
    assert(r.mergeBatchOnRead("ms",
      Seq((1L, "b")).toDF("id", "v"), 1L, Seq("id")) == 1L)
    // a replayed micro-batch commits nothing — even with new content
    assert(r.mergeBatchOnRead("ms",
      Seq((1L, "z")).toDF("id", "v"), 1L, Seq("id")) == 0L)
    assert(r.readTable("ms").orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "b"), (2L, "a")))
    assert(manifestMembers(r, "ms").size == 2,
      "one appended member per committed micro-batch")
    // out-of-order delivery folds into the ledger like appendBatch
    assert(r.mergeBatchOnRead("ms",
      Seq((2L, "c")).toDF("id", "v"), 3L, Seq("id")) == 1L)
    assert(r.mergeBatchOnRead("ms",
      Seq((3L, "d")).toDF("id", "v"), 2L, Seq("id")) == 1L)
    assert(r.mergeBatchOnRead("ms",
      Seq((3L, "x")).toDF("id", "v"), 2L, Seq("id")) == 0L)
    assert(r.readTable("ms").orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "b"), (2L, "c"), (3L, "d")))
  }

  test("restoreTable: metadata-only rollback, refuses vacuumed targets") {
    val w = wh()
    def spec(v: String) = PipelineSpec(Seq(tableModel("rs", Seq((1L, v)))))
    assert(new PipelineRunner(spark, spec("good"), w).run(Seq("run")).success)
    val r = new PipelineRunner(spark, spec("bad"), w)
    assert(r.run(Seq("run")).success)
    val gens = r.generations("rs")
    val dataDir = java.nio.file.Paths.get(r.tablePath("rs"), "data")
    def batches() = java.nio.file.Files.list(dataDir).count()
    val nBefore = batches()
    r.restoreTable("rs", gens.head)
    assert(batches() == nBefore, "restore must not copy or write data")
    assert(r.generations("rs").size == 3,
      "restore commits a new generation; history is append-only")
    assert(r.readTable("rs")
      .as[(Long, String)].collect().toSeq == Seq((1L, "good")))
    // the rolled-back "bad" generation stays time-travelable
    assert(r.readTableAt("rs", gens.last)
      .as[(Long, String)].collect().toSeq == Seq((1L, "bad")))
    // restoring to a vacuumed generation fails loudly, nothing commits
    r.vacuum("rs", keepGenerations = 1, minAgeMs = 0L)
    val before = r.generations("rs")
    assertThrows[IllegalArgumentException](r.restoreTable("rs", gens.head))
    assert(r.generations("rs") == before)
  }

  test("restoreTable carries the exactly-once stream ledger forward") {
    val w = wh()
    val r = new PipelineRunner(spark, PipelineSpec(Nil), w)
    val df = Seq((1L, "a")).toDF("id", "v")
    assert(r.appendBatch("sl", df, 0L) == 1L)
    assert(r.appendBatch("sl", df, 1L) == 1L)
    r.restoreTable("sl", r.generations("sl").head)
    assert(r.readTable("sl").count() == 1,
      "content rolled back to the batch-0-only generation")
    // replayed micro-batch ids must STILL be no-ops after the rollback
    assert(r.appendBatch("sl", df, 0L) == 0L)
    assert(r.appendBatch("sl", df, 1L) == 0L)
    assert(r.appendBatch("sl", df, 2L) == 1L)
  }

  test("MoR guards: appendBatch and copy-on-write merge refuse a " +
      "merge_on_read table, nothing commits") {
    val w = wh()
    val r = new PipelineRunner(spark, PipelineSpec(Nil), w)
    assert(r.mergeBatchOnRead("mg",
      Seq((1L, "a")).toDF("id", "v"), 0L, Seq("id")) == 1L)
    val gensBefore = r.generations("mg")
    // version-less appended rows would tie with base rows in the
    // latest-wins reconcile instead of appending — refused loudly
    val ex = intercept[IllegalArgumentException](
      r.appendBatch("mg", Seq((2L, "b")).toDF("id", "v"), 1L))
    assert(ex.getMessage.contains("merge_on_read"))
    assert(r.generations("mg") == gensBefore,
      "a refused append must not commit a generation")
    // the refused batchId must NOT have been marked committed — the
    // same batch still lands via the sanctioned MoR path
    assert(r.mergeBatchOnRead("mg",
      Seq((2L, "b")).toDF("id", "v"), 1L, Seq("id")) == 1L)
    assert(r.readTable("mg").orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("copy-on-write merge onto a merge_on_read table fails the run, " +
      "table content is untouched") {
    val w = wh()
    val r0 = new PipelineRunner(spark, PipelineSpec(Nil), w)
    assert(r0.mergeBatchOnRead("cw",
      Seq((1L, "a")).toDF("id", "v"), 0L, Seq("id")) == 1L)
    val gensBefore = r0.generations("cw")
    val cow = PipelineSpec(Seq(Model("cw", Nil,
      Materialization.IncrementalMerge(Seq("id")),
      (sp, _) => { import sp.implicits._
        Seq((2L, "c")).toDF("id", "v") })))
    assert(!new PipelineRunner(spark, cow, w).run(Seq("run")).success,
      "copy-on-write merge must refuse a version-reconciled table")
    assert(r0.generations("cw") == gensBefore)
    assert(r0.readTable("cw")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // full refresh IS the sanctioned escape hatch
    assert(new PipelineRunner(spark, cow, w)
      .run(Seq("run --full-refresh")).success)
    assert(r0.readTable("cw")
      .as[(Long, String)].collect().toSeq == Seq((2L, "c")))
  }

  test("restoreTable re-publishes a MoR generation's own sidecars " +
      "after a full refresh away from merge_on_read") {
    val w = wh()
    def mor(rows: Seq[(Long, String)]) = PipelineSpec(Seq(Model("rm", Nil,
      Materialization.IncrementalMergeOnRead(Seq("id")),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "v") })))
    assert(new PipelineRunner(spark, mor(Seq((1L, "a"), (2L, "a"))), w)
      .run(Seq("run")).success)
    assert(new PipelineRunner(spark, mor(Seq((1L, "b"))), w)
      .run(Seq("run")).success)
    // full-refresh switch to a plain table drops the MoR sidecars
    val r = new PipelineRunner(spark,
      PipelineSpec(Seq(tableModel("rm", Seq((9L, "t"))))), w)
    assert(r.run(Seq("run")).success)
    assert(manifestSidecar(r, "rm", "mor_keys").isEmpty)
    val gens = r.generations("rm")
    // restore the 2-member MoR generation: its OWN sidecars must come
    // back, so reads version-reconcile instead of surfacing raw rows
    r.restoreTable("rm", gens(1))
    assert(manifestSidecar(r, "rm", "mor_keys").nonEmpty,
      "restore must re-publish the restored generation's MoR sidecars")
    assert(r.readTable("rm").orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "b"), (2L, "a")),
      "the restored MoR generation must reconcile latest-version-wins")
    // and restoring the non-MoR generation drops them again
    r.restoreTable("rm", gens(2))
    assert(manifestSidecar(r, "rm", "mor_keys").isEmpty)
    assert(r.readTable("rm")
      .as[(Long, String)].collect().toSeq == Seq((9L, "t")))
  }

  test("compact collapses members, preserves data and merge layout") {
    val w = wh()
    val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    def appSpec(upTo: Int) = PipelineSpec(Seq(Model("ca", Nil,
      Materialization.IncrementalAppend("ts"),
      (sp, _) => { import sp.implicits._
        (1 to upTo).map(i => (i.toLong, t(i))).toDF("id", "ts") })))
    new PipelineRunner(spark, appSpec(3), w).run(Seq("run"))
    new PipelineRunner(spark, appSpec(6), w).run(Seq("run"))
    val r = new PipelineRunner(spark, appSpec(9), w)
    assert(r.run(Seq("run")).success)
    assert(manifestMembers(r, "ca").size == 3)
    r.compact("ca")
    assert(manifestMembers(r, "ca").size == 1)
    assert(r.readTable("ca").count() == 9)
    // incremental keeps working after compaction (hwm from last member)
    val r2 = new PipelineRunner(spark, appSpec(12), w)
    assert(r2.run(Seq("run")).success)
    assert(r2.readTable("ca").count() == 12)

    // merge table: compaction must keep the bucket dirs so later
    // merges stay partition-scoped
    def mSpec(rows: Seq[(Long, String)]) = PipelineSpec(Seq(Model("cm", Nil,
      Materialization.IncrementalMerge(Seq("id"), buckets = 4),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "v") })))
    new PipelineRunner(spark, mSpec((1L to 20L).map((_, "a"))), w)
      .run(Seq("run"))
    val rm = new PipelineRunner(spark, mSpec(Seq((1L, "b"))), w)
    assert(rm.run(Seq("run")).success)
    rm.compact("cm")
    assert(manifestMembers(rm, "cm").forall(_.contains("__gbucket=")))
    val rm2 = new PipelineRunner(spark, mSpec(Seq((2L, "c"))), w)
    assert(rm2.run(Seq("run")).success)
    val st = rm2.readTable("cm").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(st.size == 20 && st(0) == ((1L, "b")) && st(1) == ((2L, "c")))
    assert(st.drop(2).forall(_._2 == "a"))
  }

  test("vacuum grace protects FRESH generations and batches from a " +
      "stale keep-set (cross-JVM commit race)") {
    val w = wh()
    def spec(v: String) = PipelineSpec(Seq(tableModel("vg", Seq((1L, v)))))
    (1 to 3).foreach(i => assert(
      new PipelineRunner(spark, spec(s"v$i"), w).run(Seq("run")).success))
    val r = new PipelineRunner(spark, spec("x"), w)
    val gensBefore = r.generations("vg")
    assert(gensBefore.size == 3)
    // DEFAULT grace: everything here is seconds old — keep=1 must
    // delete NOTHING (a freshly committed generation from another
    // JVM would be invisible to the keep-set snapshot; age is the
    // only cross-process signal)
    r.vacuum("vg", keepGenerations = 1)
    assert(r.generations("vg") == gensBefore,
      "a fresh generation must survive the default vacuum grace")
    // explicit no-grace: the single-writer CI path still reclaims
    r.vacuum("vg", keepGenerations = 1, minAgeMs = 0L)
    assert(r.generations("vg").size == 1)
    assert(r.readTable("vg")
      .as[(Long, String)].collect().toSeq == Seq((1L, "v3")))
  }

  test("vacuum retention keeps the newest N generations time-travelable") {
    val w = wh()
    def spec(v: String) = PipelineSpec(Seq(tableModel("rt", Seq((1L, v)))))
    for (v <- Seq("v1", "v2", "v3"))
      assert(new PipelineRunner(spark, spec(v), w).run(Seq("run")).success)
    val r = new PipelineRunner(spark, spec("ignored"), w)
    val gens = r.generations("rt")
    assert(gens.size == 3)
    r.vacuum("rt", keepGenerations = 2, minAgeMs = 0L)
    // oldest gone, newest two still readable (manifests AND batches)
    assert(r.generations("rt") == gens.drop(1))
    assert(r.readTableAt("rt", gens(1))
      .as[(Long, String)].collect().toSeq == Seq((1L, "v2")))
    assert(r.readTable("rt")
      .as[(Long, String)].collect().toSeq == Seq((1L, "v3")))
    assertThrows[IllegalArgumentException](r.readTableAt("rt", gens.head))
    // default retention = live generation only
    r.vacuum("rt", minAgeMs = 0L)
    assert(r.generations("rt") == Seq(gens.last))
    assert(r.readTable("rt")
      .as[(Long, String)].collect().toSeq == Seq((1L, "v3")))
  }

  test("vacuum drops superseded generations, current stays readable") {
    val w = wh()
    def spec(v: String) = PipelineSpec(Seq(tableModel("vt", Seq((1L, v)))))
    assert(new PipelineRunner(spark, spec("v1"), w).run(Seq("run")).success)
    val r2 = new PipelineRunner(spark, spec("v2"), w)
    assert(r2.run(Seq("run")).success)
    val dataDir = java.nio.file.Paths.get(r2.tablePath("vt"), "data")
    def batches() = java.nio.file.Files.list(dataDir).count()
    assert(batches() == 2) // superseded v1 batch still on disk
    r2.vacuum("vt", minAgeMs = 0L)
    assert(batches() == 1)
    assert(r2.readTable("vt").as[(Long, String)].collect()
      .toSeq == Seq((1L, "v2")))
  }

  test("vacuum post-delete collision check quarantines a racing " +
      "generation that re-referenced swept batches; table falls back " +
      "to the newest intact generation") {
    val w = wh()
    def spec(v: String) = PipelineSpec(Seq(tableModel("qt", Seq((1L, v)))))
    val r1 = new PipelineRunner(spark, spec("v1"), w)
    assert(r1.run(Seq("run")).success)
    val r2 = new PipelineRunner(spark, spec("v2"), w)
    assert(r2.run(Seq("run")).success)
    val root = java.nio.file.Paths.get(r2.tablePath("qt"))
    def membersOf(gen: String): Set[String] =
      java.nio.file.Files.readString(root.resolve(gen)).linesIterator
        .filterNot(_.startsWith("#")).filter(_.nonEmpty)
        .map(_.split('/').take(2).mkString("/")).toSet
    val gen1Batches = membersOf("gen_1")
    assert(gen1Batches.nonEmpty && membersOf("gen_2") != gen1Batches)
    // the race, replayed deterministically: a cross-process restore
    // commits gen_3 pointing back at gen_1's ancient batches while
    // vacuum (keep=1) is sweeping them — by the time the post-delete
    // check runs, gen_3 exists and its batches are gone
    r2.restoreTable("qt", "gen_1") // commits gen_3 = gen_1's members
    gen1Batches.foreach { b =>
      val dir = root.resolve(b)
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(dir)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val bad = r2.quarantineClobberedGens("qt", gen1Batches,
      Seq("gen_2", "gen_3"))
    assert(bad == Seq("gen_3"), s"quarantined: $bad")
    assert(!java.nio.file.Files.exists(root.resolve("gen_3")))
    assert(java.nio.file.Files.exists(root.resolve("_aborted_gen_3")))
    // the table is READABLE again, at the newest intact generation
    assert(r2.readTable("qt").as[(Long, String)].collect()
      .toSeq == Seq((1L, "v2")))
    // an intact generation set is left alone
    assert(r2.quarantineClobberedGens("qt", gen1Batches,
      Seq("gen_2")).isEmpty)
    // vacuum GCs the quarantined abort; the table stays readable
    r2.vacuum("qt", minAgeMs = 0L)
    assert(!java.nio.file.Files.exists(root.resolve("_aborted_gen_3")))
    assert(r2.readTable("qt").as[(Long, String)].collect()
      .toSeq == Seq((1L, "v2")))
  }

  test("SQL-text models: {{ ref }}/{{ source }} resolve through spark.sql") {
    val w = wh()
    val srcDir = wh() + "/src_orders"
    Seq((1L, "F", 10.0), (2L, "O", 20.0), (3L, "F", 30.0))
      .toDF("id", "status", "amt").write.parquet(srcDir)
    val spec = PipelineSpec(
      models = Seq(
        Model.sql("sb",
          "SELECT id, amt FROM {{ source('raw') }} WHERE status = 'F'",
          Materialization.Ephemeral),
        Model.sql("sv",
          "SELECT id, amt * 2 AS amt2 FROM {{ ref('sb') }}",
          Materialization.View),
        Model.sql("st",
          "SELECT count(*) AS n, CAST(sum(amt2) AS DOUBLE) AS s FROM {{ ref('sv') }}",
          Materialization.Table)),
      sources = Map("raw" -> srcDir))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run")).success)
    val row = r.readTable("st").head()
    assert(row.getLong(0) == 2L && row.getDouble(1) == 80.0)
  }

  test("SQL-text models sharing a dep run level-parallel, no view collision") {
    val w = wh()
    val spec = PipelineSpec(models = Seq(
      Model("sql_base", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._; (1L to 10L).toDF("id") }),
      Model.sql("sql_left",
        "SELECT count(*) AS n FROM {{ ref('sql_base') }}",
        Materialization.Table),
      Model.sql("sql_right",
        "SELECT sum(id) AS s FROM {{ ref('sql_base') }}",
        Materialization.Table)))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run --threads 2")).success)
    assert(r.readTable("sql_left").head().getLong(0) == 10L)
    assert(r.readTable("sql_right").head().getLong(0) == 55L)
  }

  test("SQL-text model deps are parsed from refs and drive --select") {
    val spec = PipelineSpec(models = Seq(
      Model.sql("p_a", "SELECT 1 AS x", Materialization.Ephemeral),
      Model.sql("p_b", "SELECT x FROM {{ ref('p_a') }}",
        Materialization.Ephemeral),
      Model.sql("p_c", "SELECT x FROM {{ ref('p_b') }}",
        Materialization.Ephemeral)))
    val r = new PipelineRunner(spark, spec, wh())
    assert(spec.models(1).deps == Seq("p_a"))
    assert(r.select(Some("+p_c")) == Set("p_a", "p_b", "p_c"))
  }

  test("{{ var() }} renders textually: override, default, quoted default") {
    assert(Model.renderVars("m", "x = {{ var('k') }}",
      Map("k" -> "7")) == "x = 7")
    // Jinja semantics: a string value renders BARE; the model text
    // supplies the SQL quotes
    assert(Model.renderVars("m", "s = '{{ var(\"k\") }}'",
      Map("k" -> "F")) == "s = 'F'")
    assert(Model.renderVars("m", "x = {{ var('k', 42) }}",
      Map.empty) == "x = 42")
    // a 'quoted' default renders its content, like a Jinja string
    assert(Model.renderVars("m", "s = '{{ var('k', 'dflt') }}'",
      Map.empty) == "s = 'dflt'")
    val e = intercept[RuntimeException](
      Model.renderVars("m", "{{ var('missing') }}", Map.empty))
    assert(e.getMessage.contains("missing"))
  }

  test("{% for %} expands literal lists with {{ x }} and the " +
    "loop.last separator guard; an end-to-end UNION model runs") {
    // pure-renderer checks
    assert(Model.renderFor("m",
      "{% for t in ['a', 'b'] %}<{{ t }}>{% endfor %}") == "<a><b>")
    assert(Model.renderFor("m",
      "{% for s in [1, 2, 3] %}{{ s }}" +
        "{% if not loop.last %},{% endif %}{% endfor %}") == "1,2,3")
    // the canonical dbt use: generated UNION ALL branches
    val spec = PipelineSpec(models = Seq(
      Model.sql("u_out",
        """{% for seg in ['A', 'B'] %}
          |SELECT '{{ seg }}' AS seg
          |{% if not loop.last %}UNION ALL{% endif %}
          |{% endfor %}""".stripMargin,
        Materialization.Table)))
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.run(Seq("run")).success)
    assert(r.readTable("u_out").orderBy("seg")
      .collect().map(_.getString(0)).toSeq == Seq("A", "B"))
    // quoted items keep literal commas (a naive comma-split would
    // shred them into corrupted SQL)
    assert(Model.renderFor("m",
      "{% for t in ['a,b', 'c'] %}<{{ t }}>{% endfor %}") == "<a,b><c>")
    // malformed lists fail loudly, never render corrupted text
    intercept[IllegalArgumentException](
      Model.renderFor("m", "{% for t in ['a] %}{{ t }}{% endfor %}"))
    intercept[IllegalArgumentException](
      Model.renderFor("m", "{% for t in [a'b] %}{{ t }}{% endfor %}"))
    // an unterminated for is rejected loudly, not submitted to Spark
    val bad = PipelineSpec(models = Seq(
      Model.sql("u_bad", "{% for x in ['a'] %}SELECT 1",
        Materialization.Table)))
    assert(!new PipelineRunner(spark, bad, wh()).run(Seq("run")).success)
  }

  test("{% macro %} defs expand with positional/keyword/default args, " +
      "compose with for/var passes, and fail loudly on misuse") {
    val lib = Map("money" -> Model.MacroDef("money",
      Seq("col" -> None, "alias" -> Some("total")),
      "CAST(SUM({{ col }}) AS DOUBLE) AS {{ alias }}"))
    // positional + default
    assert(Model.renderMacros("m", "SELECT {{ money('x') }}", lib)
      == "SELECT CAST(SUM(x) AS DOUBLE) AS total")
    // keyword override
    assert(Model.renderMacros("m", "SELECT {{ money('x', alias=sx) }}", lib)
      == "SELECT CAST(SUM(x) AS DOUBLE) AS sx")
    // macro calling macro expands within depth
    val lib2 = lib + ("money2" -> Model.MacroDef("money2",
      Seq("c" -> None), "{{ money('{{ c }}') }}"))
    assert(Model.renderMacros("m", "{{ money2('y') }}", lib2)
      .contains("CAST(SUM(y) AS DOUBLE)"))
    // missing required arg / unknown kwarg fail loudly
    intercept[RuntimeException](
      Model.renderMacros("m", "{{ money() }}", lib))
    intercept[IllegalArgumentException](
      Model.renderMacros("m", "{{ money('x', nope=1) }}", lib))
    // unknown names are untouched (rendered later: var(), ref(), …)
    assert(Model.renderMacros("m", "{{ var('k') }}", lib)
      == "{{ var('k') }}")
    // file-local macro end-to-end through a SQL-text model
    val spec = PipelineSpec(models = Seq(
      Model.sql("mac_out",
        """{% macro double(c) %}({{ c }} + {{ c }}){% endmacro %}
          |SELECT {{ double(2) }} AS v""".stripMargin,
        Materialization.Table)))
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.run(Seq("run")).success)
    assert(r.readTable("mac_out").head().getInt(0) == 4)
    // a ref inside a macro body declares the DAG edge
    val (defs, _) = Model.parseMacros("t",
      "{% macro src() %}{{ ref('up') }}{% endmacro %}")
    val m2 = Model.sql("down", "SELECT * FROM {{ src() }}",
      Materialization.Table, macros = defs.map(d => d.name -> d).toMap)
    assert(m2.deps == Seq("up"),
      s"macro-body ref must declare the dep: ${m2.deps}")
  }

  test("a KNOWN macro call with parens in its arguments fails the " +
      "compile loudly instead of leaking '{{ … }}' into Spark SQL") {
    val (lib, _) = Model.parseMacros("t",
      "{% macro money(col) %}SUM({{ col }}){% endmacro %}")
    val macros = lib.map(d => d.name -> d).toMap
    val e = intercept[RuntimeException](Model.renderMacros("m",
      "SELECT {{ money(round(x)) }}", macros))
    assert(e.getMessage.contains("money") &&
      e.getMessage.contains("parenthes"), e.getMessage)
    // unknown names with parens stay untouched (engine functions
    // rendered later, e.g. {{ var(...) }})
    assert(Model.renderMacros("m", "{{ other(f(x)) }}", macros)
      == "{{ other(f(x)) }}")
  }

  test("package macros (packages/<pkg>/macros) resolve qualified " +
      "always and bare when unshadowed; project macros win; two-" +
      "package bare names stay qualified-only") {
    val proj = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target/scratch-test"), "pkgm")
    def write(rel: String, text: String): Unit = {
      val p = proj.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, text): Unit
    }
    write("macros/local.sql",
      "{% macro tag() %}'project'{% endmacro %}")
    write("packages/pkg_a/macros/m.sql",
      "{% macro tag() %}'pkg_a'{% endmacro %}\n" +
        "{% macro only_a() %}'only_a'{% endmacro %}\n" +
        "{% macro both() %}'a_both'{% endmacro %}")
    write("packages/pkg_b/macros/m.sql",
      "{% macro both() %}'b_both'{% endmacro %}")
    write("models/out.sql",
      """{{ config(materialized='table') }}
        |SELECT {{ tag() }} AS t_project,
        |  {{ pkg_a.tag() }} AS t_qual,
        |  {{ only_a() }} AS t_bare,
        |  {{ pkg_a.both() }} AS t_a, {{ pkg_b.both() }} AS t_b""".stripMargin)
    val spec = PipelineProject.load(proj.toString)
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.run(Seq("run")).success)
    val row = r.readTable("out").head()
    assert(row.getString(0) == "project") // project shadows pkg_a.tag
    assert(row.getString(1) == "pkg_a")   // qualified reaches it anyway
    assert(row.getString(2) == "only_a")  // unambiguous bare resolves
    assert(row.getString(3) == "a_both" && row.getString(4) == "b_both")
    // an AMBIGUOUS bare name is not bound: the call stays unexpanded
    // and the model fails at compile/run, not silently wrong
    write("models/amb.sql",
      "{{ config(materialized='table') }}\nSELECT {{ both() }} AS x")
    val spec2 = PipelineProject.load(proj.toString)
    val r2 = new PipelineRunner(spark, spec2, wh())
    val res = r2.run(Seq("run", "--select", "amb"))
    assert(!res.success, "ambiguous bare package macro must not build")
  }

  test("{% set %} binds scalars into {{ name }} and lists into " +
      "{% for %} sources") {
    assert(Model.renderSet("m",
      "{% set x = 'abc' %}SELECT '{{ x }}'") == "SELECT 'abc'")
    assert(Model.renderSet("m",
      "{% set n = 42 %}LIMIT {{ n }}") == "LIMIT 42")
    val listForm = Model.renderSet("m",
      "{% set cols = ['a', 'b'] %}" +
        "{% for c in cols %}<{{ c }}>{% endfor %}")
    assert(Model.renderFor("m", listForm) == "<a><b>", listForm)
    // end-to-end through a model with the for pass
    val spec = PipelineSpec(models = Seq(
      Model.sql("set_out",
        """{% set segs = ['A', 'B'] %}
          |{% for seg in segs %}
          |SELECT '{{ seg }}' AS seg
          |{% if not loop.last %}UNION ALL{% endif %}
          |{% endfor %}""".stripMargin,
        Materialization.Table)))
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.run(Seq("run")).success)
    assert(r.readTable("set_out").orderBy("seg")
      .collect().map(_.getString(0)).toSeq == Seq("A", "B"))
  }

  test("run --vars: quoted JSON span drives SQL models; vars reset after") {
    val spec = PipelineSpec(models = Seq(
      Model.sql("v_out",
        "SELECT {{ var('n', 1) }} AS n, '{{ var(\"tag\", 'none') }}' AS tag",
        Materialization.Table)))
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.run(Seq("""run --vars '{"n": 5, "tag": "a b"}'""")).success)
    val row = r.readTable("v_out").head()
    assert(row.getInt(0) == 5 && row.getString(1) == "a b")
    // a later command without --vars must NOT inherit the previous map
    assert(r.run(Seq("run")).success)
    val row2 = r.readTable("v_out").head()
    assert(row2.getInt(0) == 1 && row2.getString(1) == "none")
  }

  test("run --vars: missing required var fails the command loudly") {
    val spec = PipelineSpec(models = Seq(
      Model.sql("v_req", "SELECT {{ var('cutoff') }} AS c",
        Materialization.Table)))
    val r = new PipelineRunner(spark, spec, wh())
    val res = r.runCommand("run")
    assert(!res.success && res.error.get.contains("cutoff"))
    assert(r.runCommand("""run --vars '{"cutoff": 3}'""").success)
  }

  test("--vars payload validation: nested values and torn quotes fail") {
    val spec = PipelineSpec(models = Seq(
      Model.sql("v_x", "SELECT {{ var('k', 0) }} AS k",
        Materialization.Table)))
    val r = new PipelineRunner(spark, spec, wh())
    assert(!r.runCommand("""run --vars '{"k": {"nested": 1}}'""").success)
    assert(!r.runCommand("run --vars '{\"k\": 1}").success) // unterminated
    assert(!r.runCommand("run --vars notjson").success)
    // malformed JSON fails loudly instead of being half-read
    for (bad <- Seq("""{"a": 1 "b": 2}""", """{"a": tru}""")) {
      val res = r.runCommand(s"run --vars '$bad'")
      assert(!res.success && res.error.exists(_.contains("--vars")),
        s"$bad: $res")
    }
  }

  test("project artifact round-trip: pack → zip → load → run") {
    val proj = java.nio.file.Paths.get(wh())
    java.nio.file.Files.createDirectories(proj.resolve("models"))
    java.nio.file.Files.createDirectories(proj.resolve("seeds"))
    java.nio.file.Files.writeString(proj.resolve("seeds/codes.csv"),
      "code,label\n1,one\n2,two\n")
    java.nio.file.Files.writeString(proj.resolve("seeds/codes.ddl"),
      "code INT, label STRING")
    java.nio.file.Files.writeString(proj.resolve("models/lbl.sql"),
      """{{ config(materialized='table') }}
        |SELECT label FROM {{ ref('codes') }} WHERE code = 2""".stripMargin)
    java.nio.file.Files.writeString(proj.resolve("tests.conf"),
      """# generic tests travel with the artifact
        |unique:lbl:label
        |not_null:lbl:label
        |accepted_values:codes:label:one|two
        |relationships:lbl:label:codes:label""".stripMargin)
    java.nio.file.Files.writeString(proj.resolve("snapshots.conf"),
      "codes_snap:codes:code:label")
    val zip = s"${wh()}/p.zip"
    PipelineProject.pack(proj.toString, zip)
    val spec = PipelineProject.loadZip(zip, wh())
    assert(spec.models.map(_.name) == Seq("lbl"))
    assert(spec.models.head.deps == Seq("codes"))
    assert(spec.seeds.map(_.name) == Seq("codes"))
    assert(spec.tests.map(_.name) == Seq("unique_lbl_label",
      "not_null_lbl_label", "accepted_values_codes_label",
      "relationships_lbl_label__codes_label"))
    assert(spec.snapshots ==
      Seq(SnapshotDef("codes_snap", "codes", Seq("code"), Seq("label"))))
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.run(Seq("seed", "run", "test",
      "snapshot --at 2024-01-01T00:00:00")).success)
    assert(r.readTable("lbl").as[String].collect().toSeq == Seq("two"))
    assert(r.readTable("codes_snap").count() == 2)
  }

  test("project config headers map to every materialization") {
    val proj = java.nio.file.Paths.get(wh())
    java.nio.file.Files.createDirectories(proj.resolve("models"))
    def m(name: String, cfg: String): Unit =
      java.nio.file.Files.writeString(proj.resolve(s"models/$name.sql"),
        s"{{ config($cfg) }}\nSELECT 1 AS x")
    m("m_v", "materialized='view'")
    m("m_t", "materialized='table'")
    m("m_e", "materialized='ephemeral'")
    m("m_a", "materialized='incremental', strategy='append', ts_col='ts'")
    m("m_o", "materialized='incremental', strategy='insert_overwrite', " +
      "partition_by='p1,p2'")
    m("m_m", "materialized='incremental', strategy='merge', " +
      "unique_key='k1,k2', buckets='32'")
    m("m_mr", "materialized='incremental', strategy='merge_on_read', " +
      "unique_key='k1'")
    m("m_mb", "materialized='incremental', strategy='microbatch', " +
      "event_time='ts', batch_size='day', begin='2024-01-01', lookback='2'")
    m("m_et", "materialized='table', event_time='ts'")
    java.nio.file.Files.writeString(proj.resolve("models/m_d.sql"),
      "SELECT 1 AS x") // no header → dbt default (view)
    // source with a declared event_time
    java.nio.file.Files.writeString(proj.resolve("sources.conf"),
      "ev=/tmp/ev.parquet|event_time=ts\nplain=/tmp/plain.parquet\n")
    val spec = PipelineProject.load(proj.toString)
    val mats = spec.models.map(mo => mo.name -> mo.materialization).toMap
    assert(mats("m_v") == Materialization.View)
    assert(mats("m_t") == Materialization.Table)
    assert(mats("m_e") == Materialization.Ephemeral)
    assert(mats("m_a") == Materialization.IncrementalAppend("ts"))
    assert(mats("m_o") ==
      Materialization.IncrementalInsertOverwrite(Seq("p1", "p2")))
    assert(mats("m_m") ==
      Materialization.IncrementalMerge(Seq("k1", "k2"), 32))
    assert(mats("m_mr") ==
      Materialization.IncrementalMergeOnRead(Seq("k1")))
    assert(mats("m_mb") == Materialization.IncrementalMicrobatch(
      "ts", "day", "2024-01-01", lookback = 2))
    assert(spec.models.find(_.name == "m_et").get.eventTime == Some("ts"))
    assert(mats("m_d") == Materialization.View)
    assert(spec.sources == Map("ev" -> "/tmp/ev.parquet",
      "plain" -> "/tmp/plain.parquet"))
    assert(spec.sourceEventTime == Map("ev" -> "ts"))
  }

  test("project loads singular tests, unit tests, tags and severity") {
    val proj = java.nio.file.Paths.get(wh())
    import java.nio.file.{Files => F}
    F.createDirectories(proj.resolve("models"))
    F.createDirectories(proj.resolve("tests"))
    F.createDirectories(proj.resolve("unit_tests/prj_ut"))
    F.writeString(proj.resolve("models/prj_m.sql"),
      """{{ config(materialized='table', tags='gold,daily') }}
        |SELECT code, label FROM {{ ref('prj_codes') }}""".stripMargin)
    F.createDirectories(proj.resolve("seeds"))
    F.writeString(proj.resolve("seeds/prj_codes.csv"),
      "code,label\n1,one\n2,two\n")
    F.writeString(proj.resolve("seeds/prj_codes.ddl"),
      "code INT, label STRING")
    // generic test with a severity config
    F.writeString(proj.resolve("tests.conf"),
      "accepted_values:prj_m:label:one|three:severity=warn\n")
    // singular test: labels must be lowercase (none violate)
    F.writeString(proj.resolve("tests/prj_lower.sql"),
      "SELECT * FROM {{ ref('prj_m') }} WHERE label <> lower(label)")
    // unit test over a mocked seed
    F.writeString(proj.resolve("unit_tests/prj_ut/model"), "prj_m\n")
    F.writeString(proj.resolve("unit_tests/prj_ut/given_prj_codes.csv"),
      "code,label\n7,seven\n")
    F.writeString(proj.resolve("unit_tests/prj_ut/given_prj_codes.ddl"),
      "code INT, label STRING")
    F.writeString(proj.resolve("unit_tests/prj_ut/expect.csv"),
      "code,label\n7,seven\n")
    F.writeString(proj.resolve("unit_tests/prj_ut/expect.ddl"),
      "code INT, label STRING")

    val spec = PipelineProject.load(proj.toString)
    assert(spec.models.head.tags == Seq("gold", "daily"))
    assert(spec.tests.map(_.name).toSet ==
      Set("accepted_values_prj_m_label", "prj_lower"))
    assert(spec.tests.collectFirst {
      case t: DataTest.AcceptedValues => t.config.severity
    }.contains(Severity.Warn))
    assert(spec.unitTests.map(_.name) == Seq("prj_ut"))

    val r = new PipelineRunner(spark, spec, wh())
    // build: seed -> unit test gate -> model -> tests; the warn-
    // severity accepted_values violation ('two') must NOT fail it
    val res = r.run(Seq("build"))
    assert(res.success, res.results.flatMap(_.error).mkString("; "))
    assert(r.readTable("prj_m").count() == 2)
    // tag selection reaches project models
    val r2 = new PipelineRunner(spark, spec, wh())
    assert(r2.run(Seq("seed", "run -s tag:gold")).success)
    assert(r2.tableExists("prj_m"))
  }

  test("zip entries escaping the extraction dir are rejected") {
    val zip = s"${wh()}/evil.zip"
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(zip)))
    zos.putNextEntry(new java.util.zip.ZipEntry("../escape.sql"))
    zos.write("SELECT 1".getBytes)
    zos.closeEntry(); zos.close()
    assertThrows[IllegalArgumentException](
      PipelineProject.loadZip(zip, wh()))
  }

  test("debug command checks source resolvability") {
    val ok = new PipelineRunner(spark, PipelineSpec(Nil), wh())
    assert(ok.run(Seq("debug")).success)
    val bad = new PipelineRunner(spark,
      PipelineSpec(Nil, sources = Map("nope" -> "/definitely/missing")), wh())
    // initialize() itself fails on the unreadable source path
    assert(!bad.run(Seq("debug")).success)
  }

  test("seed command loads the CSV with its declared schema") {
    import org.apache.spark.sql.types._
    val seed = Seed("s1",
      Seq("id,name", "1,aa", "2,bb"),
      StructType(Seq(StructField("id", IntegerType),
        StructField("name", StringType))))
    val r = new PipelineRunner(spark, PipelineSpec(Nil, seeds = Seq(seed)), wh())
    val res = r.run(Seq("seed"))
    assert(res.success)
    assert(res.results.head.rowCounts == Map("s1" -> 2L))
    assert(r.readTable("s1").schema("id").dataType == IntegerType)
    // re-seeding is idempotent (full refresh, not append)
    assert(r.run(Seq("seed")).success)
    assert(r.readTable("s1").count() == 2)
  }

  test("snapshot command persists SCD2 history across runs") {
    val w = wh()
    def spec(v: String) = PipelineSpec(
      models = Seq(Model("dim", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._; Seq((1L, v)).toDF("id", "v") })),
      snapshots = Seq(SnapshotDef("dim_snap", "dim", Seq("id"), Seq("v"))))
    assert(new PipelineRunner(spark, spec("a"), w)
      .run(Seq("run", "snapshot --at 2024-01-01T00:00:00")).success)
    val r2 = new PipelineRunner(spark, spec("b"), w)
    assert(r2.run(Seq("run", "snapshot --at 2024-02-01T00:00:00")).success)
    val hist = r2.readTable("dim_snap").orderBy("valid_from")
      .select("v", "valid_to")
      .as[(String, Option[java.sql.Timestamp])].collect().toSeq
    assert(hist.map(_._1) == Seq("a", "b"))
    assert(hist(0)._2.isDefined && hist(1)._2.isEmpty)
  }

  test("snapshot check_cols=all tracks every non-key column") {
    val w = wh()
    def spec(v: String, extra: Long) = PipelineSpec(
      models = Seq(Model("adim", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          Seq((1L, v, extra)).toDF("id", "v", "extra") })),
      snapshots = Seq(SnapshotDef("adim_snap", "adim", Seq("id"),
        Seq("all"))))
    assert(new PipelineRunner(spark, spec("a", 10L), w)
      .run(Seq("run", "snapshot --at 2024-01-01T00:00:00")).success)
    // change only `extra` — an explicit Seq("v") config would miss it;
    // check_cols=all closes the old row
    val r2 = new PipelineRunner(spark, spec("a", 20L), w)
    assert(r2.run(Seq("run", "snapshot --at 2024-02-01T00:00:00")).success)
    val hist = r2.readTable("adim_snap").orderBy("valid_from")
      .select("extra", "valid_to")
      .as[(Long, Option[java.sql.Timestamp])].collect().toSeq
    assert(hist.map(_._1) == Seq(10L, 20L))
    assert(hist(0)._2.isDefined && hist(1)._2.isEmpty)
  }

  test("snapshot closed history is append-only (members never rewritten)") {
    val w = wh()
    def spec(v: String) = PipelineSpec(
      models = Seq(Model("sdim", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          Seq((1L, v), (2L, "keep")).toDF("id", "v") })),
      snapshots = Seq(SnapshotDef("sdim_snap", "sdim", Seq("id"), Seq("v"))))
    assert(new PipelineRunner(spark, spec("a"), w)
      .run(Seq("run", "snapshot --at 2024-01-01T00:00:00")).success)
    val r2 = new PipelineRunner(spark, spec("b"), w)
    assert(r2.run(Seq("run", "snapshot --at 2024-02-01T00:00:00")).success)
    val m2 = manifestMembers(r2, "sdim_snap")
    val r3 = new PipelineRunner(spark, spec("c"), w)
    assert(r3.run(Seq("run", "snapshot --at 2024-03-01T00:00:00")).success)
    val m3 = manifestMembers(r3, "sdim_snap")
    val closed2 = m2.filter(_.endsWith("__open=false"))
    assert(closed2.nonEmpty && closed2.subsetOf(m3),
      s"closed members must carry over with identical paths: $closed2 vs $m3")
    assert(m3.count(_.endsWith("__open=true")) == 1)
    // history intact through the incremental storage: id=1 a→b→c
    // (two closed + one open), id=2 one open row; layout col hidden
    val hist = r3.readTable("sdim_snap")
    assert(hist.count() == 4)
    assert(hist.filter(col("valid_to").isNull).count() == 2)
    assert(!hist.columns.contains("__open"))
  }

  test("partitioned merge rewrites touched-partition ∩ touched-bucket only") {
    val w = wh()
    def spec(rows: Seq[(Long, String, String)]) = PipelineSpec(Seq(Model(
      "pmp", Nil,
      Materialization.IncrementalMerge(Seq("id"), buckets = 4,
        partitionBy = Seq("dt")),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "dt", "v") })))
    // batch 1: two date partitions, keys spread over all buckets
    val r1 = new PipelineRunner(spark,
      spec((1L to 40L).map(i =>
        (i, if (i <= 20) "2024-01-01" else "2024-01-02", "v1"))), w)
    assert(r1.run(Seq("run")).success)
    val m1 = manifestMembers(r1, "pmp")
    assert(m1.forall(m => m.contains("dt=") && m.contains("__gbucket=")),
      s"members must be partition+bucket scoped: $m1")
    // batch 2: a delta of MANY keys, all confined to one partition —
    // with hash-only buckets this would touch every bucket of the
    // whole table; with the composed layout it must leave every
    // dt=2024-01-02 member's exact file path unmoved
    val r2 = new PipelineRunner(spark,
      spec((1L to 20L).map(i => (i, "2024-01-01", "v2"))), w)
    assert(r2.run(Seq("run")).success)
    val m2 = manifestMembers(r2, "pmp")
    val day2Before = m1.filter(_.contains("dt=2024-01-02"))
    assert(day2Before.subsetOf(m2),
      s"untouched partition's members must keep exact paths: " +
        s"missing=${day2Before -- m2}")
    assert((m1 -- m2).forall(_.contains("dt=2024-01-01")))
    // merge semantics intact across partitions
    val state = r2.readTable("pmp").orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(state.size == 40)
    assert(state.take(20).forall(_._2 == "v2"))
    assert(state.drop(20).forall(_._2 == "v1"))
    assert(!r2.readTable("pmp").columns.contains("__gbucket"))
  }

  test("partitioned merge ≡ hash-only merge final state (property)") {
    val rnd = new scala.util.Random(5)
    def part(id: Long) = "p" + (id % 3) // stable partition per key
    val batches = (0 until 3).map { b =>
      (0 until 25).map { _ =>
        val id = rnd.nextInt(40).toLong
        (id, part(id), s"b$b-${rnd.nextInt(100)}")
      }.distinctBy(_._1)
    }
    def run(partitioned: Boolean): Seq[(Long, String, String)] = {
      val w = wh()
      val mat =
        if (partitioned)
          Materialization.IncrementalMerge(Seq("id"), 4, Seq("part"))
        else Materialization.IncrementalMerge(Seq("id"), 4)
      batches.foreach { rows =>
        val spec = PipelineSpec(Seq(Model("pq", Nil, mat,
          (sp, _) => { import sp.implicits._; rows.toDF("id", "part", "v") })))
        assert(new PipelineRunner(spark, spec, w).run(Seq("run")).success)
      }
      new PipelineRunner(spark, PipelineSpec(Nil), w)
        .readTable("pq").orderBy("id")
        .as[(Long, String, String)].collect().toSeq
    }
    val a = run(partitioned = true)
    val b = run(partitioned = false)
    assert(a == b && a.nonEmpty,
      s"layouts disagree: partitioned=$a hashOnly=$b")
  }

  test("run --full-refresh rebuilds through a materialization switch") {
    val w = wh()
    // built as incremental append first (whole-batch members) …
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    val app = PipelineSpec(Seq(Model("fr", Nil,
      Materialization.IncrementalAppend("ts"),
      (sp, _) => { import sp.implicits._
        Seq((1L, t0, "old")).toDF("id", "ts", "v") })))
    assert(new PipelineRunner(spark, app, w).run(Seq("run")).success)
    // … switching to merge without full refresh trips the layout guard
    def mergeSpec(v: String) = PipelineSpec(Seq(Model("fr", Nil,
      Materialization.IncrementalMerge(Seq("id"), buckets = 4),
      (sp, _) => { import sp.implicits._
        Seq((1L, t0, v), (2L, t0, v)).toDF("id", "ts", "v") })))
    val guarded = new PipelineRunner(spark, mergeSpec("new"), w).run(Seq("run"))
    assert(!guarded.success)
    assert(guarded.results.head.error.exists(_.contains("full-refresh")))
    // --full-refresh is the escape hatch: rebuilds in merge layout
    val r2 = new PipelineRunner(spark, mergeSpec("new"), w)
    assert(r2.run(Seq("run --full-refresh")).success)
    assert(manifestMembers(r2, "fr").forall(_.contains("__gbucket=")))
    // subsequent *incremental* merges now work
    val r3 = new PipelineRunner(spark, mergeSpec("newer"), w)
    assert(r3.run(Seq("run")).success)
    assert(r3.readTable("fr").orderBy("id").select("v")
      .as[String].collect().toSeq == Seq("newer", "newer"))
    // --select composes with --full-refresh
    assert(new PipelineRunner(spark, mergeSpec("x"), w)
      .run(Seq("run --full-refresh --select fr")).success)
  }

  test("a failing level settles before the command returns (threads)") {
    val w = wh()
    val spec = PipelineSpec(Seq(
      Model("lv_bad", Nil, Materialization.Table,
        (_, _) => sys.error("boom")),
      Model("lv_slow", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          Thread.sleep(1500)
          Seq((1L, "slow")).toDF("id", "v") })))
    val r = new PipelineRunner(spark, spec, w)
    val res = r.run(Seq("run --threads 2"))
    assert(!res.success)
    // the level was awaited: the slow sibling either published before
    // the command returned or not at all — nothing publishes AFTER
    val existedAtReturn = r.tableExists("lv_slow")
    Thread.sleep(2000)
    assert(r.tableExists("lv_slow") == existedAtReturn,
      "no sibling may publish after the command has returned failure")
  }

  test("streamids sidecar stays O(tail) over many batches") {
    val w = wh()
    val r = new PipelineRunner(spark, PipelineSpec(Nil), w)
    val df = Seq((1L, "x")).toDF("id", "v")
    // out-of-order commits: hwm + tail must fold correctly
    assert(r.appendBatch("sb", df, 0L) == 1L)
    assert(r.appendBatch("sb", df, 2L) == 1L)
    assert(r.appendBatch("sb", df, 1L) == 1L)
    // replays of anything ≤ hwm or in tail are no-ops
    assert(r.appendBatch("sb", df, 0L) == 0L)
    assert(r.appendBatch("sb", df, 2L) == 0L)
    for (id <- 3L until 200L) assert(r.appendBatch("sb", df, id) == 1L)
    assert(r.appendBatch("sb", df, 150L) == 0L)
    val sidecar = manifestSidecar(r, "sb", "streamids").get
    assert(sidecar.trim == "hwm:199",
      s"sidecar must be a folded hwm, not an id list: '$sidecar'")
    // compaction preserves the bookkeeping
    r.compact("sb")
    assert(r.appendBatch("sb", df, 42L) == 0L)
    assert(r.appendBatch("sb", df, 200L) == 1L)
    assert(r.readTable("sb").count() == 201L)
  }

  test("mergeBatch: exactly-once streaming upsert with bucket-scoped I/O") {
    val w = wh()
    val r = new PipelineRunner(spark, PipelineSpec(Nil), w)
    def df(rows: (Long, String)*) = rows.toDF("id", "v")
    // batch 0 seeds, batch 1 upserts one key and inserts one
    assert(r.mergeBatch("su", df((1L, "a"), (2L, "a")), 0L,
      uniqueKey = Seq("id"), buckets = 4) == 2L)
    val m1 = manifestMembers(r, "su")
    assert(r.mergeBatch("su", df((2L, "b"), (3L, "b")), 1L,
      uniqueKey = Seq("id"), buckets = 4) == 2L)
    // replayed micro-batch (restart recovery) is a no-op
    assert(r.mergeBatch("su", df((2L, "XXX"), (3L, "XXX")), 1L,
      uniqueKey = Seq("id"), buckets = 4) == 0L)
    val state = r.readTable("su").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(state == Seq((1L, "a"), (2L, "b"), (3L, "b")))
    // untouched buckets kept their exact member paths
    val m2 = manifestMembers(r, "su")
    assert(m1.exists(m2.contains),
      s"some untouched bucket must survive verbatim: $m1 vs $m2")
    // empty micro-batch still records its id (no member churn)
    assert(r.mergeBatch("su", df().limit(0), 2L,
      uniqueKey = Seq("id"), buckets = 4) == 0L)
    assert(r.mergeBatch("su", df((9L, "no")), 2L,
      uniqueKey = Seq("id"), buckets = 4) == 0L,
      "an id committed by an empty batch must stay committed")
  }

  test("a model rebuild preserves the streaming ledger (sidecar carry)") {
    val w = wh()
    val r = new PipelineRunner(spark, PipelineSpec(Nil), w)
    val df = Seq((1L, "x")).toDF("id", "v")
    assert(r.appendBatch("lc", df, 0L) == 1L)
    assert(r.appendBatch("lc", df, 1L) == 1L)
    // a non-streaming publish on the same table (e.g. a scheduled
    // rebuild): the exactly-once ledger must survive it
    val spec = PipelineSpec(Seq(Model("lc", Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._; Seq((9L, "rebuilt")).toDF("id", "v") })))
    assert(new PipelineRunner(spark, spec, w).run(Seq("run")).success)
    assert(r.appendBatch("lc", df, 1L) == 0L,
      "replayed batch must stay a no-op after a model rebuild")
    assert(r.appendBatch("lc", df, 2L) == 1L)
  }

  test("compact preserves visible partition layout (insert_overwrite)") {
    val w = wh()
    def spec(rows: Seq[(Long, String, Int)]) = PipelineSpec(Seq(Model(
      "cio", Nil, Materialization.IncrementalInsertOverwrite(Seq("part")),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "part", "ver") })))
    assert(new PipelineRunner(spark,
      spec(Seq((1L, "A", 1), (2L, "B", 1))), w).run(Seq("run")).success)
    val r2 = new PipelineRunner(spark, spec(Seq((3L, "B", 2))), w)
    assert(r2.run(Seq("run")).success)
    r2.compact("cio")
    // members stay partition-scoped, so the NEXT incremental run's
    // layout guard passes and replacement stays partition-granular
    assert(manifestMembers(r2, "cio").forall(_.contains("part=")),
      s"compacted members must keep part= dirs: ${manifestMembers(r2, "cio")}")
    val r3 = new PipelineRunner(spark, spec(Seq((9L, "A", 3))), w)
    assert(r3.run(Seq("run")).success)
    val state = r3.readTable("cio").orderBy("id")
      .select("id", "part", "ver").as[(Long, String, Int)].collect().toSeq
    assert(state == Seq((3L, "B", 2), (9L, "A", 3)))
  }

  test("zero-member batches are vacuumable, and gen ids are ordered") {
    val w = wh()
    // a no-new-data insert_overwrite run writes a _SUCCESS-only batch
    // dir that commits ZERO manifest members — it must not stay
    // "staged" forever and dodge vacuum for the runner's lifetime
    def spec(rows: Seq[(Long, String)]) = PipelineSpec(Seq(Model(
      "gv", Nil, Materialization.IncrementalInsertOverwrite(Seq("part")),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "part") })))
    val r = new PipelineRunner(spark, spec(Seq((1L, "A"))), w)
    assert(r.run(Seq("run", "run --select gv")).success)
    // second run wrote a batch; rerun with no data:
    val rEmpty = new PipelineRunner(spark, spec(Nil), w)
    assert(rEmpty.run(Seq("run")).success)
    val dataDir = java.nio.file.Paths.get(r.tablePath("gv"), "data")
    def batches() = java.nio.file.Files.list(dataDir).count()
    assert(batches() >= 3, "empty run leaves a _SUCCESS-only batch dir")
    rEmpty.vacuum("gv", minAgeMs = 0L)
    assert(batches() == 1,
      "vacuum must GC zero-member and superseded batches")
    assert(rEmpty.readTable("gv").count() == 1)
    // generation ids are small monotonic ints (cross-process safe),
    // not per-boot nanoTime
    val r2 = new PipelineRunner(spark, spec(Seq((2L, "B"))), w)
    assert(r2.run(Seq("run")).success)
    val ids = r2.generations("gv").map(_.stripPrefix("gen_").toLong)
    assert(ids == ids.sorted && ids.last < 1000000L,
      s"gen ids must be monotonic counters: $ids")
  }

  test("test --select scopes generic tests to the selected model") {
    val w = wh()
    val spec = PipelineSpec(
      models = Seq(
        tableModel("ts_ok", Seq((1L, "a"), (2L, "b"))),
        tableModel("ts_bad", Seq((1L, "a"), (1L, "b")))), // dup id
      tests = Seq(
        DataTest.Unique("ts_ok", Seq("id")),
        DataTest.Unique("ts_bad", Seq("id"))))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run")).success)
    // scoped to the clean model → passes; unscoped → the dup fails
    val ok = r.runCommand("test --select ts_ok")
    assert(ok.success && ok.modelsRun == Seq("unique_ts_ok_id"))
    val all = r.runCommand("test")
    assert(!all.success)
    assert(all.error.exists(_.contains("unique_ts_bad_id")))
  }

  test("project artifacts carry freshness configs") {
    val proj = java.nio.file.Paths.get(wh())
    java.nio.file.Files.createDirectories(proj.resolve("models"))
    java.nio.file.Files.writeString(proj.resolve("models/m1.sql"),
      "SELECT 1 AS x")
    java.nio.file.Files.writeString(proj.resolve("freshness.conf"),
      "raw_events:ts:3600:7200\n")
    val spec = PipelineProject.load(proj.toString)
    assert(spec.freshness ==
      Seq(FreshnessDef("raw_events", "ts", 3600L, 7200L)))
  }

  test("build: DAG order, tests interleaved, skip-on-failure") {
    val w = wh()
    val seed = Seed("bs_seed", Seq("id,v", "1,a", "2,b"),
      org.apache.spark.sql.types.StructType.fromDDL("id LONG, v STRING"))
    val spec = PipelineSpec(
      models = Seq(
        Model("b_m1", Seq("bs_seed"), Materialization.Table,
          (_, in) => in("bs_seed")),
        // duplicate ids → its unique test fails → b_m3 must skip
        Model("b_m2", Seq("b_m1"), Materialization.Table,
          (sp, _) => { import sp.implicits._
            Seq((1L, "x"), (1L, "y")).toDF("id", "v") }),
        Model("b_m3", Seq("b_m2"), Materialization.Table,
          (_, in) => in("b_m2")),
        tableModel("b_m4", Seq((9L, "z"))), // independent — still runs
        Model("b_err", Nil, Materialization.Table,
          (_, _) => sys.error("boom")),
        Model("b_err_child", Seq("b_err"), Materialization.Table,
          (_, in) => in("b_err"))),
      tests = Seq(
        DataTest.Unique("b_m1", Seq("id")),
        DataTest.Unique("b_m2", Seq("id"))),
      seeds = Seq(seed))
    val r = new PipelineRunner(spark, spec, w)
    val res = r.runCommand("build")
    assert(!res.success)
    // executed resources + their tests, in DAG order; skipped absent
    assert(res.modelsRun.containsSlice(
      Seq("bs_seed", "b_m1", "unique_b_m1_id", "b_m2", "unique_b_m2_id")))
    assert(res.modelsRun.contains("b_m4"))
    assert(!res.modelsRun.contains("b_m3") &&
      !res.modelsRun.contains("b_err_child"))
    assert(!r.tableExists("b_m3") && !r.tableExists("b_err_child"))
    assert(r.tableExists("b_m4"))
    val err = res.error.getOrElse("")
    assert(err.contains("failing tests: unique_b_m2_id"), err)
    assert(err.contains("b_err") && err.contains("skipped:"), err)
    assert(err.contains("b_m3") && err.contains("b_err_child"), err)
    // rowCounts cover what ran
    assert(res.rowCounts.get("bs_seed").contains(2L))
  }

  test("build runs snapshots under --at and skips them without a clock") {
    val w = wh()
    val spec = PipelineSpec(
      models = Seq(tableModel("bsn_dim", Seq((1L, "a")))),
      snapshots = Seq(SnapshotDef("bsn_snap", "bsn_dim",
        Seq("id"), Seq("v"))))
    val r = new PipelineRunner(spark, spec, w)
    val noClock = r.runCommand("build")
    assert(noClock.success) // skipping for a missing clock is not a failure
    assert(!noClock.modelsRun.contains("bsn_snap") &&
      !r.tableExists("bsn_snap"))
    val clocked = r.runCommand("build --at 2024-01-01T00:00:00")
    assert(clocked.success && clocked.modelsRun.contains("bsn_snap"))
    assert(r.readTable("bsn_snap").count() == 1)
  }

  test("ls lists kind-qualified resources with selectors") {
    val spec = PipelineSpec(
      models = Seq(
        Model("l_m1", Seq("l_seed"), Materialization.Table,
          (_, in) => in("l_seed")),
        Model("l_m2", Seq("l_m1"), Materialization.Table,
          (_, in) => in("l_m1"))),
      tests = Seq(DataTest.NotNull("l_m1", "id")),
      seeds = Seq(Seed("l_seed", Seq("id", "1"),
        org.apache.spark.sql.types.StructType.fromDDL("id LONG"))),
      snapshots = Seq(SnapshotDef("l_snap", "l_m2", Seq("id"), Nil)))
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.runCommand("ls").modelsRun == Seq("seed.l_seed",
      "model.l_m1", "test.not_null_l_m1_id", "model.l_m2",
      "snapshot.l_snap"))
    // graph selector over the UNIFIED graph: descendants of l_m1
    // include the snapshot hanging off l_m2
    assert(r.runCommand("ls --select l_m1+").modelsRun == Seq(
      "model.l_m1", "test.not_null_l_m1_id", "model.l_m2",
      "snapshot.l_snap"))
    assert(r.runCommand("ls --resource-type test").modelsRun ==
      Seq("test.not_null_l_m1_id"))
    assert(r.runCommand("ls --select +l_snap --resource-type seed")
      .modelsRun == Seq("seed.l_seed"))
  }

  test("source freshness runs as a command: pass/warn ok, error fails") {
    val w = wh()
    val spec = PipelineSpec(
      models = Seq(Model("fs_src", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
            .toDF("id", "ts") })),
      freshness = Seq(FreshnessDef("fs_src", "ts",
        warnAfterSec = 3600, errorAfterSec = 7200)))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run",
      "source freshness --at 2024-01-01T00:30:00")).success)
    // warn ages still succeed (dbt exit code 0 on warn)
    assert(r.runCommand("source freshness --at 2024-01-01T01:30:00").success)
    val err = r.runCommand("source freshness --at 2024-01-01T03:00:00")
    assert(!err.success)
    assert(err.error.exists(_.contains("fs_src")))
  }

  test("--warn-error promotes warnings to failures (tests + freshness)") {
    val w = wh()
    val spec = PipelineSpec(
      models = Seq(Model("we_m", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          Seq((1L, Option.empty[String]), (2L, Some("x")))
            .toDF("id", "v") })),
      tests = Seq(DataTest.NotNull("we_m", "v",
        TestConfig(severity = Severity.Warn))),
      freshness = Seq(FreshnessDef("we_m_ts", "ts", 3600, 7200)))
    val specOk = spec.copy(models = spec.models :+ Model("we_m_ts", Nil,
      Materialization.Table, (sp, _) => { import sp.implicits._
        Seq(Tuple1(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
          .toDF("ts") }))
    val r = new PipelineRunner(spark, specOk, w)
    assert(r.run(Seq("run")).success)
    // warn severity: plain test passes (exit 0, dbt semantics) ...
    assert(r.runCommand("test").success)
    // ... but --warn-error fails it
    val failed = r.runCommand("test --warn-error")
    assert(!failed.success)
    assert(failed.error.exists(_.contains("not_null_we_m_v")))
    // freshness: warn age passes plainly, fails under --warn-error
    assert(r.runCommand("source freshness --at 2024-01-01T01:30:00").success)
    assert(!r.runCommand(
      "source freshness --at 2024-01-01T01:30:00 --warn-error").success)
    // the flag resets per command
    assert(r.runCommand("test").success)
  }

  test("freshness status transitions on the injected clock") {
    val df = Seq(Tuple1(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("ts")
    def status(asOf: String): String =
      Freshness.check(df, "src", "ts", asOf, 3600, 7200)
        .head.getAs[String]("status")
    assert(status("2024-01-01 00:30:00") == "pass")
    assert(status("2024-01-01 01:30:00") == "warn")
    assert(status("2024-01-01 03:00:00") == "error")
  }

  test("selectors: tag:, space-union, comma-intersection, --exclude, @model") {
    val w = wh()
    def m(name: String, deps: Seq[String], tags: Seq[String]) =
      Model(name, deps, Materialization.Table,
        (sp, _) => { import sp.implicits._; Seq((1L, name)).toDF("id", "v") },
        tags)
    // DAG: sa -> sb -> sc; sd standalone; seed tagged for build/ls
    val spec = PipelineSpec(
      models = Seq(
        m("sa", Nil, Seq("nightly")),
        m("sb", Seq("sa"), Seq("nightly")),
        m("sc", Seq("sb"), Nil),
        m("sd", Nil, Seq("adhoc"))),
      seeds = Seq(Seed("sseed",
        Seq("id,v", "1,x"),
        org.apache.spark.sql.types.StructType.fromDDL("id LONG, v STRING"),
        tags = Seq("nightly"))))
    val r = new PipelineRunner(spark, spec, w)
    // tag: method, composing with graph operators
    assert(r.select(Some("tag:nightly")) == Set("sa", "sb"))
    assert(r.select(Some("tag:nightly+")) == Set("sa", "sb", "sc"))
    // @m = m + descendants + ancestors of those descendants
    assert(r.select(Some("@sb")) == Set("sa", "sb", "sc"))
    // dbt set semantics: space-separated values union...
    assert(r.runCommand("run --select sa sd").modelsRun.toSet ==
      Set("sa", "sd"))
    // ...comma-separated atoms intersect (dbt select-method docs)
    assert(r.runCommand("run --select tag:nightly,sb+").modelsRun.toSet ==
      Set("sb"))
    // --exclude subtracts its selection; -s is the dbt short flag
    assert(r.runCommand("run -s +sc --exclude sb").modelsRun.toSet ==
      Set("sa", "sc"))
    // build and ls speak the same surface, over the resource graph
    // (the tagged seed joins tag:nightly there)
    assert(r.runCommand("ls --select tag:nightly --exclude sb").modelsRun
      .toSet == Set("model.sa", "seed.sseed"))
    val b = r.runCommand("build --select @sb --exclude sc")
    assert(b.success && b.modelsRun.toSet == Set("sa", "sb"))
    // an unknown plain name still fails loudly
    assert(!r.runCommand("run --select nope").success)
  }

  test("test --select/--exclude: tags and graph atoms scope the tests") {
    val w = wh()
    def m(name: String, tags: Seq[String]) =
      Model(name, Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._; Seq((1L, "x")).toDF("id", "v") },
        tags)
    val spec = PipelineSpec(
      models = Seq(m("qa_m", Seq("qa")), m("other_m", Nil)),
      tests = Seq(DataTest.NotNull("qa_m", "id"),
        DataTest.NotNull("other_m", "id")))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run")).success)
    assert(r.runCommand("test --select tag:qa").modelsRun ==
      Seq("not_null_qa_m_id"))
    assert(r.runCommand("test --exclude other_m").modelsRun ==
      Seq("not_null_qa_m_id"))
    assert(r.runCommand("test --select qa_m other_m").modelsRun.toSet ==
      Set("not_null_qa_m_id", "not_null_other_m_id"))
  }

  test("test configs: severity warn, error_if/warn_if thresholds, where, limit") {
    // tc_m has exactly 3 NULLs in v (ids 2,3,4)
    def mk(tests: Seq[DataTest]) = {
      val spec = PipelineSpec(
        models = Seq(Model("tc_m", Nil, Materialization.Table,
          (sp, _) => { import sp.implicits._
            Seq((1, Option("a")), (2, None), (3, None), (4, None),
              (5, Option("b"))).toDF("id", "v") })),
        tests = tests)
      val r = new PipelineRunner(spark, spec, wh())
      assert(r.runCommand("run").success)
      r
    }
    def nn(cfg: TestConfig) = Seq(DataTest.NotNull("tc_m", "v", cfg))
    // severity=warn: failing test warns, command still succeeds
    assert(mk(nn(TestConfig(severity = Severity.Warn)))
      .runCommand("test").success)
    // error_if ">3": 3 violations do not cross it; warn_if default fires
    assert(mk(nn(TestConfig(errorIf = ">3"))).runCommand("test").success)
    // error_if ">=3" crosses at 3 → fail
    assert(!mk(nn(TestConfig(errorIf = ">=3"))).runCommand("test").success)
    // where scopes the tested rows: only id<=2 → 1 violation → ">1" passes
    assert(mk(nn(TestConfig(where = Some("id <= 2"), errorIf = ">1")))
      .runCommand("test").success)
    // limit caps what thresholds see: 3 violations, capped at 2 → ">2" passes
    assert(mk(nn(TestConfig(limit = Some(2), errorIf = ">2")))
      .runCommand("test").success)
    assert(!mk(nn(TestConfig(limit = Some(2), errorIf = ">1")))
      .runCommand("test").success)
  }

  test("singular tests: ref-parsed attachment, selection, build gating") {
    def base = Model("sg_a", Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._
        Seq((1, 10.0), (2, -5.0)).toDF("id", "amt") })
    def other = Model("sg_b", Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._; Seq((1, 1)).toDF("id", "k") })
    def child = Model("sg_down", Seq("sg_a"), Materialization.Table,
      (_, in) => in("sg_a"))
    val neg = DataTest.Singular("sg_a_nonneg",
      "SELECT id FROM {{ ref('sg_a') }} WHERE amt < 0")
    // refs parsed from the SQL; first ref is the attachment point
    assert(neg.refs == Seq("sg_a") && neg.model == "sg_a")
    // a where config on a singular test is rejected at construction
    intercept[IllegalArgumentException](DataTest.Singular("bad",
      "SELECT id FROM {{ ref('sg_a') }}",
      TestConfig(where = Some("1=1"))))
    val spec = PipelineSpec(Seq(base, other, child), tests = Seq(neg))
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.runCommand("run").success)
    // selection runs the singular test when any of its refs is selected
    assert(r.runCommand("test --select sg_a").modelsRun == Seq("sg_a_nonneg"))
    assert(r.runCommand("test --select sg_b").modelsRun.isEmpty)
    assert(!r.runCommand("test").success) // amt=-5 violates
    // build: the failing singular test gates sg_a's descendants
    val b = r.runCommand("build")
    assert(!b.success && b.error.get.contains("sg_down"))
    // warn severity: build proceeds through the violation
    val warnSpec = PipelineSpec(Seq(base, other, child), tests = Seq(
      DataTest.Singular("sg_a_nonneg",
        "SELECT id FROM {{ ref('sg_a') }} WHERE amt < 0",
        TestConfig(severity = Severity.Warn))))
    val r2 = new PipelineRunner(spark, warnSpec, wh())
    assert(r2.runCommand("build").success)
  }

  test("run skips a failed model's descendants, independent subgraphs run") {
    val built = scala.collection.mutable.Buffer.empty[String]
    def ok(name: String, deps: Seq[String]) =
      Model(name, deps, Materialization.Table,
        (sp, _) => { import sp.implicits._
          built += name; Seq((1L, name)).toDF("id", "v") })
    var poison = true
    val spec = PipelineSpec(Seq(
      Model("rf_a", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          if (poison) sys.error("boom-a")
          built += "rf_a"; Seq((1L, "a")).toDF("id", "v") }),
      ok("rf_b", Seq("rf_a")), ok("rf_c", Seq("rf_b")), ok("rf_x", Nil)))
    val w = wh()
    val r = new PipelineRunner(spark, spec, w)
    val res = r.runCommand("run")
    assert(!res.success)
    assert(res.error.get.contains("rf_a: boom-a"))
    assert(res.error.get.contains("skipped: rf_b,rf_c"))
    assert(built.toSeq == Seq("rf_x")) // independent subgraph still ran
    // retry: only the failed+skipped frontier reruns
    poison = false
    built.clear()
    assert(r.runCommand("retry").success)
    assert(built.sorted == Seq("rf_a", "rf_b", "rf_c")) // rf_x untouched
    // nothing left to retry: success, nothing re-executed
    built.clear()
    assert(r.runCommand("retry").success)
    assert(built.isEmpty)
  }

  test("retry restores the original command's vars and selection") {
    var poison = true
    val spec = PipelineSpec(models = Seq(
      Model("rv_gate", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          if (poison) sys.error("gate down")
          Seq((0L, "gate")).toDF("id", "v") }),
      Model.sql("rv_m", "SELECT {{ var('k') }} AS k", Materialization.Table,
        tags = Seq("seln")),
      Model("rv_out", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._; Seq((9L, "x")).toDF("id", "v") })))
    val r = new PipelineRunner(spark, spec, wh())
    // select only gate+rv_m; gate fails, rv_m runs (independent)
    val res =
      r.runCommand("""run -s rv_gate tag:seln --vars '{"k": 77}'""")
    assert(!res.success && res.error.get.contains("rv_gate"))
    assert(r.readTable("rv_m").head().getInt(0) == 77)
    poison = false
    // retry must re-apply BOTH the stored --vars and the selection:
    // rv_gate reruns, rv_out stays outside the original selection
    assert(r.runCommand("retry").success)
    assert(r.tableExists("rv_gate") && !r.tableExists("rv_out"))
  }

  test("build retry reruns a still-failing test standalone (new process)") {
    val w = wh()
    val extDir = wh() + "/ext"
    def spec(flagged: Int) = {
      Seq((1L, flagged)).toDF("id", "bad").write.mode("overwrite")
        .parquet(extDir)
      PipelineSpec(
        models = Seq(
          Model("bt_m", Nil, Materialization.Table,
            (sp, _) => { import sp.implicits._
              Seq((1L, "v")).toDF("id", "v") }),
          Model("bt_down", Seq("bt_m"), Materialization.Table,
            (_, in) => in("bt_m"))),
        tests = Seq(DataTest.Singular("bt_ext_clean",
          """SELECT m.id FROM {{ ref('bt_m') }} m
            |JOIN {{ source('bt_ext') }} f ON f.bad = 1""".stripMargin)),
        sources = Map("bt_ext" -> extDir))
    }
    val r1 = new PipelineRunner(spark, spec(flagged = 1), w)
    val res = r1.runCommand("build")
    assert(!res.success && res.error.get.contains("bt_ext_clean"))
    assert(res.error.get.contains("skipped: bt_down"))
    val gensBefore = r1.generations("bt_m").size
    // the external violation clears; a NEW runner (new process, same
    // warehouse — the reference's scheduled-task shape) retries
    val r2 = new PipelineRunner(spark, spec(flagged = 0), w)
    assert(r2.runCommand("retry").success)
    // the succeeded model was NOT rebuilt — only its test and the
    // skipped descendant ran
    assert(r2.generations("bt_m").size == gensBefore)
    assert(r2.tableExists("bt_down"))
  }

  test("table sidecars survive appends, merges, and compaction") {
    val w = wh()
    val r = new PipelineRunner(spark, PipelineSpec(Nil), w)
    val df = Seq((1L, "x")).toDF("id", "v")
    r.appendBatch("sc_t", df, 0L, sidecars = Map("fmt" -> "v2"))
    assert(r.tableSidecar("sc_t", "fmt").contains("v2"))
    // a plain append (no sidecars passed) carries the key forward
    r.appendBatch("sc_t", Seq((2L, "y")).toDF("id", "v"), 1L)
    assert(r.tableSidecar("sc_t", "fmt").contains("v2"))
    // compaction rewrites members but publishes through the same
    // carry path — table-level metadata must not vanish
    r.compact("sc_t")
    assert(r.tableSidecar("sc_t", "fmt").contains("v2"))
    assert(r.readTable("sc_t").count() == 2)
    assert(r.appendBatch("sc_t", df, 0L) == 0L,
      "replayed batch ids must still no-op after carries")
    // a merge publish (the other streaming sink, bucket-scoped
    // layout) stamps and carries sidecars across its member swaps too
    r.mergeBatch("sc_m", df, 0L, Seq("id"),
      sidecars = Map("fmt" -> "v2"))
    r.mergeBatch("sc_m", Seq((1L, "z")).toDF("id", "v"), 1L, Seq("id"))
    assert(r.tableSidecar("sc_m", "fmt").contains("v2"))
    assert(r.tableSidecar("sc_m", "streamids").isDefined,
      "streamids bookkeeping must ride alongside carried keys")
    assert(r.readTable("sc_m").filter(col("id") === 1L)
      .head.getString(1) == "z")
  }

  test("auto-compaction bounds manifest members on append-style runs") {
    val w = wh()
    val r = new PipelineRunner(spark, PipelineSpec(Nil), w,
      autoCompactMembers = 3)
    val df = Seq((1L, "x")).toDF("id", "v")
    for (id <- 0L until 5L) r.appendBatch("ac", df, id)
    // the 4th append crossed the threshold and compacted to 1 member
    assert(manifestMembers(r, "ac").size <= 3,
      s"members=${manifestMembers(r, "ac")}")
    assert(r.readTable("ac").count() == 5)
    // the exactly-once ledger survives auto-compaction
    assert(r.appendBatch("ac", df, 2L) == 0L)
    assert(r.appendBatch("ac", df, 5L) == 1L)
    assert(r.readTable("ac").count() == 6)
  }

  test("auto-compaction skips when no member reduction is possible") {
    val w = wh()
    val r = new PipelineRunner(spark, PipelineSpec(Nil), w,
      autoCompactMembers = 1)
    def df(rows: (Long, String)*) = rows.toDF("id", "v")
    // 4 bucket members, each its own partition key: size > threshold
    // but compaction cannot reduce — the no-op guard must skip the
    // O(table) rewrite
    r.mergeBatch("acm", df((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a")),
      0L, uniqueKey = Seq("id"), buckets = 4)
    val m1 = manifestMembers(r, "acm")
    assert(m1.forall(_.contains("__gbucket=")))
    // an upsert leaves new+carry siblings in a touched bucket →
    // reduction possible → auto-compact collapses to one per bucket
    r.mergeBatch("acm", df((1L, "b")), 1L, uniqueKey = Seq("id"),
      buckets = 4)
    val m2 = manifestMembers(r, "acm")
    def partKey(m: String) = m.split('/').drop(2).mkString("/")
    assert(m2.map(partKey).toSeq.distinct.size == m2.size,
      s"post-compact members must own unique partitions: $m2")
    assert(r.readTable("acm").count() == 4)
    assert(r.readTable("acm").filter($"id" === 1L && $"v" === "b")
      .count() == 1)
  }

  test("compact command: scheduled OPTIMIZE over selected tables") {
    val w = wh()
    val r = new PipelineRunner(spark, PipelineSpec(Nil), w)
    val df = Seq((1L, "x")).toDF("id", "v")
    for (id <- 0L until 3L) {
      r.appendBatch("ct1", df, id); r.appendBatch("ct2", df, id)
    }
    assert(manifestMembers(r, "ct1").size == 3)
    val res = r.runCommand("compact --select ct1")
    assert(res.success && res.modelsRun == Seq("ct1"))
    assert(manifestMembers(r, "ct1").size == 1)
    assert(manifestMembers(r, "ct2").size == 3,
      "unselected table must keep its members")
    assert(r.readTable("ct1").count() == 3)
    // ledger still intact through the command path
    assert(r.appendBatch("ct1", df, 1L) == 0L)
  }

  test("commitGen: two runner processes racing one table lose no generation") {
    // two PipelineRunner instances = two JVM-independent lock scopes
    // (the reference's deployment: one worker process per scheduled
    // task). The O_EXCL hard-link commit either wins its id or
    // retries with a fresh max+1 — a lost race may supersede rows in
    // the LIVE view, but never overwrites a committed manifest.
    val w = wh()
    val r1 = new PipelineRunner(spark, PipelineSpec(Nil), w)
    val r2 = new PipelineRunner(spark, PipelineSpec(Nil), w)
    val df = Seq((1L, "x")).toDF("id", "v")
    val start = new java.util.concurrent.CountDownLatch(1)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
    def appender(r: PipelineRunner, ids: Range) = new Thread(() => {
      start.await()
      try ids.foreach(i => r.appendBatch("race", df, i.toLong))
      catch { case t: Throwable => failed.set(t) }
    })
    val ts = Seq(appender(r1, 0 until 15), appender(r2, 100 until 115))
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join(180000))
    assert(failed.get() == null, s"appender failed: ${failed.get()}")
    assert(r1.generations("race").size == 30,
      "every commit must survive as its own generation file")
    // every manifest is fully written and self-contained: schema
    // header present, all member batches readable
    r1.generations("race").foreach { g =>
      assert(r1.readTableAt("race", g).columns.sameElements(
        Array("id", "v")), s"generation $g unreadable")
    }
  }

  test("is_incremental()/{{ this }}: guard flips across runs and full-refresh") {
    val w = wh()
    val srcDir = wh() + "/src"
    def load(n: Int): Unit =
      (1L to n.toLong).map(i => (i, i)).toDF("id", "ts")
        .write.mode("overwrite").parquet(srcDir)
    val spec = PipelineSpec(
      models = Seq(Model.sql("inc_sql",
        """SELECT id, ts,
          |  {% if is_incremental() %} 'inc' {% else %} 'full' {% endif %} AS mode
          |FROM {{ source('inc_src') }}
          |{% if is_incremental() %}
          |WHERE ts > (SELECT max(ts) FROM {{ this }})
          |{% endif %}""".stripMargin,
        Materialization.IncrementalAppend("ts"))),
      sources = Map("inc_src" -> srcDir))
    load(2)
    val r = new PipelineRunner(spark, spec, w)
    assert(r.runCommand("run").success)
    assert(r.readTable("inc_sql").select("mode").distinct()
      .as[String].collect().toSeq == Seq("full"))
    // source widens; run 2 renders the guard TRUE and appends the delta
    load(4)
    val r2 = new PipelineRunner(spark, spec, w)
    r2.initialize() // re-register the widened source view
    assert(r2.runCommand("run").success)
    assert(r2.readTable("inc_sql").orderBy("id")
      .select("id", "mode").as[(Long, String)].collect().toSeq ==
      Seq((1L, "full"), (2L, "full"), (3L, "inc"), (4L, "inc")))
    // --full-refresh flips the guard back to false: one clean load
    assert(r2.runCommand("run --full-refresh").success)
    assert(r2.readTable("inc_sql").select("mode").distinct()
      .as[String].collect().toSeq == Seq("full"))
    assert(r2.readTable("inc_sql").count() == 4)
  }

  test("{{ this }} without an existing target fails loudly") {
    val srcDir = wh() + "/src"
    Seq((1L, 1L)).toDF("id", "ts").write.mode("overwrite").parquet(srcDir)
    val spec = PipelineSpec(
      models = Seq(Model.sql("this_bare",
        "SELECT id FROM {{ source('tb_src') }} WHERE id IN (SELECT id FROM {{ this }})",
        Materialization.Table)),
      sources = Map("tb_src" -> srcDir))
    val r = new PipelineRunner(spark, spec, wh())
    val res = r.runCommand("run")
    assert(!res.success && res.error.get.contains("{{ this }}"))
  }

  test("unrecognized {% ... %} blocks are rejected, not submitted as SQL") {
    val srcDir = wh() + "/src"
    Seq((1L, 1L)).toDF("id", "ts").write.mode("overwrite").parquet(srcDir)
    val spec = PipelineSpec(
      models = Seq(Model.sql("bad_jinja",
        "SELECT id FROM {{ source('bj_src') }} {% for x in y %}{% endfor %}",
        Materialization.Table)),
      sources = Map("bj_src" -> srcDir))
    val r = new PipelineRunner(spark, spec, wh())
    val res = r.runCommand("run")
    assert(!res.success && res.error.get.contains("{%"))
  }

  test("post-hook INSERT writes audit rows; failing hook skips descendants") {
    val w = wh()
    val spec = PipelineSpec(models = Seq(
      Model.sql("hk_m", "SELECT 1 AS x UNION ALL SELECT 2",
        Materialization.Table,
        postHooks = Seq(
          "INSERT INTO hk_log SELECT 'hk_m' AS m, count(*) AS n FROM {{ this }}")),
      Model.sql("hk_down", "SELECT x FROM {{ ref('hk_m') }}",
        Materialization.Table)))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.runCommand("run").success)
    assert(r.readTable("hk_log").as[(String, Long)].collect().toSeq ==
      Seq(("hk_m", 2L)))
    // second run appends a second audit row
    assert(r.runCommand("run").success)
    assert(r.readTable("hk_log").count() == 2)

    // a failing PRE-hook fails the model before it writes, and skips
    // its descendants
    val bad = PipelineSpec(models = Seq(
      Model.sql("hf_m", "SELECT 1 AS x", Materialization.Table,
        preHooks = Seq("SELECT assert_true(false)")),
      Model.sql("hf_down", "SELECT x FROM {{ ref('hf_m') }}",
        Materialization.Table)))
    val r2 = new PipelineRunner(spark, bad, wh())
    val res = r2.runCommand("run")
    assert(!res.success && res.error.get.contains("hf_m"))
    assert(res.error.get.contains("skipped: hf_down"))
    assert(!r2.tableExists("hf_m"))
  }

  test("on-run-start/on-run-end bracket run and build commands") {
    val w = wh()
    val spec = PipelineSpec(
      models = Seq(Model.sql("orh_m", "SELECT 1 AS x",
        Materialization.Table)),
      onRunStart = Seq("INSERT INTO orh_log SELECT 'start' AS ev"),
      onRunEnd = Seq("INSERT INTO orh_log SELECT 'end' AS ev"))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.runCommand("run").success)
    assert(r.readTable("orh_log").as[String].collect().sorted.toSeq ==
      Seq("end", "start"))
    assert(r.runCommand("build").success)
    assert(r.readTable("orh_log").count() == 4)
    // a failing on-run-start aborts before any node executes
    val badStart = spec.copy(
      models = Seq(Model.sql("orh_n", "SELECT 2 AS x",
        Materialization.Table)),
      onRunStart = Seq("SELECT assert_true(false)"))
    val r2 = new PipelineRunner(spark, badStart, wh())
    val res = r2.runCommand("run")
    assert(!res.success && res.error.get.contains("on-run-start"))
    assert(!r2.tableExists("orh_n"))
    // on-run-end runs even when a model failed, and its own failure
    // marks the command failed
    val badEnd = PipelineSpec(
      models = Seq(Model.sql("orh_p", "SELECT 3 AS x",
        Materialization.Table)),
      onRunEnd = Seq("SELECT assert_true(false)"))
    val r3 = new PipelineRunner(spark, badEnd, wh())
    val res3 = r3.runCommand("run")
    assert(!res3.success && res3.error.get.contains("on-run-end"))
    assert(r3.tableExists("orh_p"), "models still ran before on-run-end")
  }

  test("project files carry pre_hook/post_hook config") {
    val proj = java.nio.file.Paths.get(wh() + "/proj")
    java.nio.file.Files.createDirectories(proj.resolve("models"))
    java.nio.file.Files.writeString(proj.resolve("models/ph_m.sql"),
      """{{ config(materialized='table', post_hook='INSERT INTO ph_audit SELECT count(*) AS n FROM {{ this }}') }}
        |SELECT 1 AS id UNION ALL SELECT 2 UNION ALL SELECT 3""".stripMargin)
    val spec = PipelineProject.load(proj.toString)
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.runCommand("run").success)
    assert(r.readTable("ph_audit").as[Long].collect().toSeq == Seq(3L))
  }

  test("state:modified selects exactly the edited model and its descendants") {
    val w = wh()
    val stateDir = wh()
    def spec(bSql: String) = PipelineSpec(models = Seq(
      Model.sql("st_a", "SELECT 1 AS x", Materialization.Table),
      Model.sql("st_b", bSql, Materialization.Table),
      Model.sql("st_c", "SELECT y FROM {{ ref('st_b') }}",
        Materialization.Table),
      Model.sql("st_d", "SELECT x FROM {{ ref('st_a') }}",
        Materialization.Table)))
    val r1 = new PipelineRunner(spark, spec("SELECT 2 AS y"), w)
    assert(r1.runCommand("run").success)
    // freeze the manifest as the CI state artifact
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(w, "manifest.json"),
      java.nio.file.Paths.get(stateDir, "manifest.json"))
    // edit st_b only; slim run rebuilds st_b and its descendant st_c
    val r2 = new PipelineRunner(spark, spec("SELECT 3 AS y"), w)
    val res = r2.runCommand(s"run -s state:modified+ --state $stateDir")
    assert(res.success, res.error.mkString)
    assert(res.modelsRun.sorted == Seq("st_b", "st_c"))
    assert(r2.generations("st_a").size == 1 &&
      r2.generations("st_d").size == 1, "unmodified subgraph untouched")
    assert(r2.generations("st_b").size == 2 &&
      r2.generations("st_c").size == 2)
    assert(r2.readTable("st_c").head().getInt(0) == 3)
    // no edits → empty selection; state:new sees only added nodes
    val r3 = new PipelineRunner(spark, spec("SELECT 3 AS y"), w)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(w, "manifest.json"),
      java.nio.file.Paths.get(stateDir, "manifest.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(r3.runCommand(s"run -s state:modified --state $stateDir")
      .modelsRun.isEmpty)
    // state: without --state fails loudly
    assert(!r3.runCommand("run -s state:modified").success)
    // a state manifest from a DIFFERENT checksum scheme is
    // incomparable: all known nodes count as modified (safe full
    // selection, warned), none as unmodified — not a silent per-node
    // diff of formula-incompatible strings
    val manifest = java.nio.file.Paths.get(stateDir, "manifest.json")
    java.nio.file.Files.writeString(manifest,
      java.nio.file.Files.readString(manifest)
        .replaceFirst(""""checksum_scheme":\d+""", """"checksum_scheme":1"""))
    assert(r3.runCommand(s"run -s state:modified --state $stateDir")
      .modelsRun.sorted == Seq("st_a", "st_b", "st_c", "st_d"))
    // nothing may claim to be verified-unmodified cross-scheme, so
    // the exclusion complement excludes nothing
    assert(r3.runCommand(
        s"run --exclude state:unmodified --state $stateDir")
      .modelsRun.sorted == Seq("st_a", "st_b", "st_c", "st_d"))
  }

  test("result:error+ selects the failures and their descendants") {
    var poison = true
    val spec = PipelineSpec(models = Seq(
      Model("re_a", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          if (poison) sys.error("boom"); Seq(1).toDF("x") }),
      Model("re_b", Seq("re_a"), Materialization.Table,
        (_, in) => in("re_a")),
      Model("re_c", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._; Seq(9).toDF("z") })))
    val r = new PipelineRunner(spark, spec, wh())
    assert(!r.runCommand("run").success) // re_a error, re_b skipped, re_c ok
    poison = false
    val res = r.runCommand("run -s result:error+")
    assert(res.success, res.error.mkString)
    assert(res.modelsRun.sorted == Seq("re_a", "re_b"),
      "failures + descendants only; re_c untouched")
    // result:skipped composes with the same artifact... which was
    // just overwritten by the successful slim run — now empty
    assert(r.runCommand("run -s result:failed").modelsRun.isEmpty)
  }

  test("manifest.json records nodes, kinds, deps, and checksums") {
    import org.apache.spark.sql.types._
    val w = wh()
    val spec = PipelineSpec(
      models = Seq(Model.sql("mf_m", "SELECT 1 AS x",
        Materialization.Table)),
      seeds = Seq(Seed("mf_seed", Seq("id", "1"),
        StructType(Seq(StructField("id", LongType))))),
      snapshots = Seq(SnapshotDef("mf_snap", "mf_m", Seq("x"), Seq("x"))))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.runCommand("ls").success)
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(w, "manifest.json"))
    assert(txt.contains(""""name":"mf_m","kind":"model""""))
    assert(txt.contains(""""name":"mf_seed","kind":"seed""""))
    assert(txt.contains(""""name":"mf_snap","kind":"snapshot""""))
    assert(txt.contains(""""deps":["mf_m"]"""))
    assert("\"checksum\":\"[a-f0-9]{64}\"".r.findAllIn(txt).size == 3)
  }

  test("compile renders SQL-text models to target/compiled") {
    val w = wh()
    val srcDir = wh() + "/src"
    Seq((1L, 10L), (2L, 20L)).toDF("id", "ts")
      .write.mode("overwrite").parquet(srcDir)
    val spec = PipelineSpec(
      models = Seq(
        Model.sql("cp_inc",
          """SELECT id, ts FROM {{ source('cp_src') }}
            |WHERE ts > {{ var('floor', 0) }}
            |{% if is_incremental() %}
            |AND ts > (SELECT max(ts) FROM {{ this }}){% endif %}"""
            .stripMargin,
          Materialization.IncrementalAppend("ts")),
        Model("cp_lambda", Nil, Materialization.Table, // no text: skipped
          (sp, _) => { import sp.implicits._; Seq(1).toDF("x") })),
      sources = Map("cp_src" -> srcDir))
    val r = new PipelineRunner(spark, spec, w)
    // before any run: target table absent → guard renders FALSE
    val res = r.runCommand("""compile --vars '{"floor": 5}'""")
    assert(res.success && res.modelsRun == Seq("cp_inc"))
    val compiled = java.nio.file.Paths.get(w, "target", "compiled")
    val txt1 = java.nio.file.Files.readString(compiled.resolve("cp_inc.sql"))
    assert(txt1 ==
      """SELECT id, ts FROM cp_src
        |WHERE ts > 5
        |""".stripMargin)
    // after a run the target exists → guard renders TRUE, {{ this }}
    // compiles to the model's own relation name
    assert(r.runCommand("run -s cp_inc").success)
    assert(r.runCommand("""compile -s cp_inc --vars '{"floor": 5}'""").success)
    val txt2 = java.nio.file.Files.readString(compiled.resolve("cp_inc.sql"))
    assert(txt2.contains("AND ts > (SELECT max(ts) FROM cp_inc)"))
    // --full-refresh flips it back
    assert(r.runCommand(
      """compile -s cp_inc --vars '{"floor": 5}' --full-refresh""").success)
    assert(!java.nio.file.Files.readString(compiled.resolve("cp_inc.sql"))
      .contains("{% if"))
  }

  test("show previews a model's rows without materializing") {
    val srcDir = wh() + "/src"
    (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(srcDir)
    val spec = PipelineSpec(
      models = Seq(Model.sql("sh_m",
        "SELECT id, v FROM {{ source('sh_src') }} ORDER BY id",
        Materialization.Table)),
      sources = Map("sh_src" -> srcDir))
    val logger = new PipelineLogger(LogLevel.INFO)
    val r = new PipelineRunner(spark, spec, wh(), logger)
    val res = r.runCommand("show --select sh_m --limit 3")
    assert(res.success && res.rowCounts == Map("sh_m" -> 3L))
    assert(!r.tableExists("sh_m"), "show must not materialize")
    assert(logger.lines.count(_._2.startsWith("show sh_m:")) == 3)
    // default limit is 5; missing --select is a loud error
    assert(r.runCommand("show -s sh_m").rowCounts("sh_m") == 5L)
    assert(!r.runCommand("show").success)
  }

  test("--vars: quoted strings may be empty, regexes, or brace-leading") {
    val spec = PipelineSpec(models = Seq(Model.sql("vq_m",
      """SELECT '{{ var("pat") }}' AS pat, '{{ var("empty") }}' AS e,
        |'{{ var("obj") }}' AS o""".stripMargin,
      Materialization.Table)))
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.runCommand(
      """run --vars '{"pat": "[a-z]+", "empty": "", "obj": "{x}"}'""").success)
    val row = r.readTable("vq_m").head()
    assert(row.getString(0) == "[a-z]+" && row.getString(1) == "" &&
      row.getString(2) == "{x}")
    // JSON string escapes decode in full: \u0041 is A, \r a carriage
    // return
    assert(r.runCommand("run --vars '{\"pat\": \"\\u0041\", " +
      "\"empty\": \"a\\rb\", \"obj\": \"\"}'").success)
    val row2 = r.readTable("vq_m").head()
    assert(row2.getString(0) == "A" && row2.getString(1) == "a\rb")
    // unquoted tokens keep the scalar guard
    assert(!r.runCommand("""run --vars '{"k": {"nested": 1}}'""").success)
  }

  test("tokenize: apostrophe inside a token is literal, not a quote") {
    val r = new PipelineRunner(spark, PipelineSpec(Nil), wh())
    // previously any mid-token quote toggled quoting and failed the
    // whole command as an unterminated span
    assert(r.runCommand("test --select don't").success)
  }

  test("retry resumes a failed test command, not the older run artifact") {
    val built = scala.collection.mutable.Buffer.empty[String]
    val spec = PipelineSpec(
      models = Seq(Model("rt_m", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          built += "rt_m"
          Seq((1L, "x"), (1L, "x")).toDF("id", "v") })),
      tests = Seq(DataTest.Unique("rt_m", Seq("id"))))
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.runCommand("run").success)     // artifact: run, all green
    assert(!r.runCommand("test").success)   // artifact now: test, failed
    // fix the table OUT OF BAND (no artifact written), then retry:
    // it must rerun the FAILED TEST under the stored test command —
    // the older run artifact (all-success models) is not replayed
    r.replaceTable("rt_m", Seq((1L, "x")).toDF("id", "v"))
    built.clear()
    val res = r.runCommand("retry")
    assert(res.success, res.error.mkString)
    assert(res.modelsRun == Seq("unique_rt_m_id"))
    assert(built.isEmpty, "retry of a test must not rebuild models")
  }

  test("retry resumes failed seeds and snapshots too") {
    import org.apache.spark.sql.types._
    val w = wh()
    def spec(badCsv: Boolean) = PipelineSpec(Nil,
      seeds = Seq(
        Seed("sd_ok", Seq("id,v", "1,a"),
          StructType(Seq(StructField("id", LongType),
            StructField("v", StringType)))),
        Seed("sd_bad", Seq("id,v", "1,a"),
          // a schema referencing a FAILFAST-violating parse: force an
          // error by declaring a struct column the CSV can't carry
          StructType(Seq(StructField("id", LongType),
            StructField("v",
              if (badCsv) ArrayType(StructType(Seq(StructField("x", LongType))))
              else StringType))))))
    val r1 = new PipelineRunner(spark, spec(badCsv = true), w)
    val res = r1.runCommand("seed")
    assert(!res.success && res.error.get.contains("sd_bad"))
    assert(r1.tableExists("sd_ok"), "good seed still loads")
    // retry with the schema fixed reruns ONLY the failed seed
    val g1 = r1.generations("sd_ok").size
    val r2 = new PipelineRunner(spark, spec(badCsv = false), w)
    assert(r2.runCommand("retry").success)
    assert(r2.tableExists("sd_bad"))
    assert(r2.generations("sd_ok").size == g1, "sd_ok not re-seeded")
  }

  test("relationships `where` filters only the child of a self-join") {
    val w = wh()
    val spec = PipelineSpec(
      models = Seq(Model("emp", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          Seq((1L, 2L), (2L, 1L)).toDF("id", "mgr") })),
      tests = Seq(DataTest.Relationships("emp", "mgr", "emp", "id",
        TestConfig(where = Some("id = 1")))))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.runCommand("run").success)
    // child row (1, mgr=2): mgr=2 exists in the UNFILTERED parent —
    // a name-keyed `where` would filter the parent too and
    // manufacture an orphan
    assert(DataTests.violations(spark, r, spec.tests.head).count() == 0)
  }

  test("cleanup drops singular-test scratch views") {
    val extDir = wh() + "/ext"
    Seq((1L, "x")).toDF("id", "v").write.mode("overwrite").parquet(extDir)
    val spec = PipelineSpec(Nil,
      tests = Seq(DataTest.Singular("cv_probe",
        "SELECT id FROM {{ source('cv_src') }} WHERE id < 0")),
      sources = Map("cv_src" -> extDir))
    val r = new PipelineRunner(spark, spec, wh())
    r.initialize()
    assert(DataTests.violations(spark, r, spec.tests.head).count() == 0)
    assert(spark.catalog.tableExists("__graft_ref_test_cv_probe_cv_src"))
    r.cleanup()
    assert(!spark.catalog.tableExists("__graft_ref_test_cv_probe_cv_src"))
  }

  // ---------------- unit tests (dbt 1.8+/1.9 `unit_tests:`) ---------------

  import org.apache.spark.sql.types._

  private val utOrders = Fixture(
    Seq("id,amount,ccy", "1,10.0,EUR", "2,20.0,USD", "3,5.0,EUR"),
    StructType(Seq(StructField("id", LongType),
      StructField("amount", DoubleType), StructField("ccy", StringType))))
  private val utRates = Fixture(
    Seq("ccy,rate", "EUR,2.0", "USD,1.0"),
    StructType(Seq(StructField("ccy", StringType),
      StructField("rate", DoubleType))))
  private def utModel = Model.sql("ut_enriched",
    """SELECT o.id, o.amount * r.rate AS usd, r.ccy
      |FROM {{ ref('ut_orders') }} o
      |JOIN {{ ref('ut_rates') }} r ON o.ccy = r.ccy""".stripMargin,
    Materialization.Table)

  test("unit test: passing mock compare, expect-columns only") {
    // expect declares a SUBSET of output columns (no ccy) and INT-typed
    // usd values — subset-compare and cast-to-actual are dbt semantics
    val ut = UnitTest("ut_enriched_happy", "ut_enriched",
      given = Map("ut_orders" -> utOrders, "ut_rates" -> utRates),
      expect = Fixture(Seq("id,usd", "1,20", "2,20", "3,10"),
        StructType(Seq(StructField("id", LongType),
          StructField("usd", IntegerType)))))
    val r = new PipelineRunner(spark,
      PipelineSpec(Seq(utModel), unitTests = Seq(ut)), wh())
    val res = r.run(Seq("test"))
    assert(res.success, res.results.flatMap(_.error).mkString("; "))
    assert(res.results.head.modelsRun == Seq("ut_enriched_happy"))
  }

  test("unit test: multiset diff fails and is reported") {
    val ut = UnitTest("ut_enriched_sad", "ut_enriched",
      given = Map("ut_orders" -> utOrders, "ut_rates" -> utRates),
      // wrong value for id=3 AND a duplicated row that the output
      // has only once — both must count as diffs
      expect = Fixture(Seq("id,usd", "1,20.0", "1,20.0", "2,20.0", "3,11.0"),
        StructType(Seq(StructField("id", LongType),
          StructField("usd", DoubleType)))))
    val r = new PipelineRunner(spark,
      PipelineSpec(Seq(utModel), unitTests = Seq(ut)), wh())
    val res = r.run(Seq("test"))
    assert(!res.success)
    assert(res.results.head.error.get.contains("ut_enriched_sad"))
  }

  test("unit test: an unmocked input fails loudly, not vacuously") {
    val ut = UnitTest("ut_enriched_missing", "ut_enriched",
      given = Map("ut_orders" -> utOrders), // ut_rates NOT mocked
      expect = Fixture(Seq("id", "1"),
        StructType(Seq(StructField("id", LongType)))))
    val r = new PipelineRunner(spark,
      PipelineSpec(Seq(utModel), unitTests = Seq(ut)), wh())
    val res = r.run(Seq("test"))
    assert(!res.success)
  }

  test("unit test: vars override renders {{ var }} in the model") {
    val m = Model.sql("ut_vars_m",
      """SELECT id FROM {{ ref('ut_orders') }}
        |WHERE amount >= {{ var('min_amount', 0) }}""".stripMargin,
      Materialization.Table)
    val ut = UnitTest("ut_vars_cut", "ut_vars_m",
      given = Map("ut_orders" -> utOrders),
      expect = Fixture(Seq("id", "1", "2"),
        StructType(Seq(StructField("id", LongType)))),
      vars = Map("min_amount" -> "10"))
    val r = new PipelineRunner(spark,
      PipelineSpec(Seq(m), unitTests = Seq(ut)), wh())
    val res = r.run(Seq("test"))
    assert(res.success, res.results.flatMap(_.error).mkString("; "))
  }

  test("build: a failing unit test skips the model and its descendants") {
    val w = wh()
    val parent = tableModel("utb_parent", Seq((1L, "a")))
    val mid = Model.sql("utb_mid",
      "SELECT id, v FROM {{ ref('utb_parent') }}", Materialization.Table)
    val child = Model.sql("utb_child",
      "SELECT id FROM {{ ref('utb_mid') }}", Materialization.Table)
    val badUt = UnitTest("utb_mid_ut", "utb_mid",
      given = Map("utb_parent" -> Fixture(Seq("id,v", "1,a"),
        StructType(Seq(StructField("id", LongType),
          StructField("v", StringType))))),
      expect = Fixture(Seq("id,v", "99,zz"),
        StructType(Seq(StructField("id", LongType),
          StructField("v", StringType)))))
    val r = new PipelineRunner(spark,
      PipelineSpec(Seq(parent, mid, child), unitTests = Seq(badUt)), w)
    val res = r.run(Seq("build"))
    assert(!res.success)
    assert(r.tableExists("utb_parent"), "independent parent still builds")
    assert(!r.tableExists("utb_mid"), "unit-test failure must gate the model")
    assert(!r.tableExists("utb_child"), "descendants skip")
    // passing unit test → everything builds
    val goodUt = badUt.copy(expect = Fixture(Seq("id,v", "1,a"),
      StructType(Seq(StructField("id", LongType),
        StructField("v", StringType)))))
    val r2 = new PipelineRunner(spark,
      PipelineSpec(Seq(parent, mid, child), unitTests = Seq(goodUt)), wh())
    assert(r2.run(Seq("build")).success)
    assert(r2.tableExists("utb_child"))
  }

  test("test --select picks a model's unit tests; retry reruns failures") {
    val w = wh()
    val goodUt = UnitTest("uts_good", "ut_enriched",
      given = Map("ut_orders" -> utOrders, "ut_rates" -> utRates),
      expect = Fixture(Seq("id,usd", "1,20.0", "2,20.0", "3,10.0"),
        StructType(Seq(StructField("id", LongType),
          StructField("usd", DoubleType)))))
    val other = Model.sql("ut_other",
      "SELECT id FROM {{ ref('ut_orders') }}", Materialization.Table)
    val badUt = UnitTest("uts_bad", "ut_other",
      given = Map("ut_orders" -> utOrders),
      expect = Fixture(Seq("id", "42"),
        StructType(Seq(StructField("id", LongType)))))
    val spec = PipelineSpec(Seq(utModel, other),
      unitTests = Seq(goodUt, badUt))
    val r = new PipelineRunner(spark, spec, w)
    // selection scopes to the model's unit tests only
    val selRes = r.run(Seq("test --select ut_enriched"))
    assert(selRes.success)
    assert(selRes.results.head.modelsRun == Seq("uts_good"))
    // full test records both; retry reruns exactly the failing one
    assert(!r.run(Seq("test")).success)
    val retry = new PipelineRunner(spark, spec, w).run(Seq("retry"))
    assert(!retry.success)
    assert(retry.results.head.modelsRun == Seq("uts_bad"))
  }

  test("store_failures persists limit-capped violations; pass overwrites") {
    val w = wh()
    def spec(vals: Seq[(Long, String)]) = PipelineSpec(
      Seq(tableModel("sf_m", vals)),
      tests = Seq(DataTest.AcceptedValues("sf_m", "v", Seq("ok"),
        TestConfig(severity = Severity.Warn, storeFailures = true,
          limit = Some(2)))))
    val bad = Seq((1L, "ok"), (2L, "bad"), (3L, "bad"), (4L, "worse"))
    val r = new PipelineRunner(spark, spec(bad), w)
    val res = r.run(Seq("build"))
    assert(res.success, "warn severity never fails the command")
    val audit = "dbt_test__audit_accepted_values_sf_m_v"
    assert(r.tableExists(audit))
    assert(r.readTable(audit).count() == 2, "limit caps stored rows")
    // a later passing run REPLACES the audit table with zero rows
    val r2 = new PipelineRunner(spark, spec(Seq((1L, "ok"))), w)
    assert(r2.run(Seq("build")).success)
    assert(r2.readTable(audit).count() == 0)
  }

  test("test runs its data tests concurrently; outcomes, artifact and " +
      "retry stay in spec order") {
    val (w, ref) = (wh(), wh())
    val parent = Model("ct_parent", Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._; Seq(1L, 2L, 3L).toDF("id") })
    val m = Model("ct_m", Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._
        Seq((1L, "a", 1L, "x", "n1"), (2L, "b", 2L, "y", null),
          (3L, "c", 3L, "y", "n3")).toDF("id", "v", "pid", "grp", "note") })
    val tests = Seq(
      DataTest.Unique("ct_m", Seq("id")),
      DataTest.NotNull("ct_m", "note"),                  // fails: id 2
      DataTest.AcceptedValues("ct_m", "v", Seq("a", "b", "c")),
      DataTest.Relationships("ct_m", "pid", "ct_parent", "id"),
      DataTest.NotNull("ct_m", "no_such_col"),           // errors
      DataTest.Singular("ct_nonneg",
        "SELECT * FROM {{ ref('ct_m') }} WHERE id < 0"),
      DataTest.AcceptedValues("ct_m", "grp", Seq("x"),   // warns, stored
        TestConfig(severity = Severity.Warn, storeFailures = true)),
      DataTest.NotNull("ct_parent", "id"))
    def spec(ts: Seq[DataTest]) = PipelineSpec(Seq(parent, m), tests = ts)
    def runResults(dir: String): Seq[(String, String, String)] = {
      import org.json4s._
      val js = org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(dir, "run_results.json")))
      (js \ "results").children.map { row =>
        def f(k: String) = (row \ k).asInstanceOf[JString].s
        (f("kind"), f("name"), f("status"))
      }
    }
    Seq(w, ref).foreach(d =>
      assert(new PipelineRunner(spark, spec(Nil), d).run(Seq("run")).success))
    // one-at-a-time reference: each test alone in its own command
    val reference = tests.flatMap { t =>
      new PipelineRunner(spark, spec(Seq(t)), ref).runCommand("test")
      runResults(ref)
    }
    val failing = Seq("not_null_ct_m_note", "not_null_ct_m_no_such_col")
    assert(reference.collect { case (_, n, "failed") => n } == failing)

    val r = new PipelineRunner(spark, spec(tests), w)
    val res = r.runCommand("test")
    assert(!res.success)
    assert(res.error.contains(s"failing tests: ${failing.mkString(",")}"))
    assert(res.modelsRun == tests.map(_.name), "every test ran")
    assert(runResults(w) == reference)
    val audit = "dbt_test__audit_accepted_values_ct_m_grp"
    assert(r.readTable(audit).select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L))
    val retry = new PipelineRunner(spark, spec(tests), w).runCommand("retry")
    assert(!retry.success)
    assert(retry.modelsRun == failing)
  }

  test("test --store-failures forces storing without the config") {
    val w = wh()
    val spec = PipelineSpec(
      Seq(tableModel("sff_m", Seq((1L, "a"), (1L, "b")))),
      tests = Seq(DataTest.Unique("sff_m", Seq("id"),
        TestConfig(severity = Severity.Warn))))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run", "test")).success)
    assert(!r.tableExists("dbt_test__audit_unique_sff_m_id"))
    assert(r.run(Seq("test --store-failures")).success)
    assert(r.readTable("dbt_test__audit_unique_sff_m_id").count() == 1)
  }

  // ---------------- --defer --state (dbt slim CI) -------------------------

  test("run --defer reads unselected upstreams from the state warehouse") {
    val prod = wh()
    val parent = tableModel("df_parent", Seq((1L, "a"), (2L, "b")))
    val child = Model.sql("df_child",
      "SELECT id, v FROM {{ ref('df_parent') }} WHERE id = 1",
      Materialization.Table)
    val spec = PipelineSpec(Seq(parent, child))
    assert(new PipelineRunner(spark, spec, prod).run(Seq("run")).success)

    // CI warehouse: empty; select ONLY the child and defer the parent
    val ci = wh()
    val r = new PipelineRunner(spark, spec, ci)
    val res = r.run(Seq(s"run -s df_child --defer --state $prod"))
    assert(res.success, res.results.flatMap(_.error).mkString("; "))
    assert(r.tableExists("df_child"))
    assert(!r.tableExists("df_parent"), "deferred dep must not build locally")
    assert(r.readTable("df_child").as[(Long, String)].collect()
      .toSeq == Seq((1L, "a")))
    // without --defer the same selection fails (parent missing)
    assert(!new PipelineRunner(spark, spec, wh())
      .run(Seq("run -s df_child")).success)
    // --defer without --state fails loudly
    assert(!new PipelineRunner(spark, spec, wh())
      .run(Seq("run -s df_child --defer")).success)
  }

  test("defer favors the local relation when one exists") {
    val prod = wh()
    val mkSpec = (rows: Seq[(Long, String)]) => PipelineSpec(Seq(
      tableModel("dfl_parent", rows),
      Model.sql("dfl_child", "SELECT id, v FROM {{ ref('dfl_parent') }}",
        Materialization.Table)))
    assert(new PipelineRunner(spark, mkSpec(Seq((1L, "prod"))), prod)
      .run(Seq("run")).success)
    // CI warehouse where the parent WAS built (with different rows):
    // favor-local means the child reads the local parent
    val ci = wh()
    val spec = mkSpec(Seq((1L, "local")))
    assert(new PipelineRunner(spark, spec, ci)
      .run(Seq("run -s dfl_parent")).success)
    val r = new PipelineRunner(spark, spec, ci)
    assert(r.run(Seq(s"run -s dfl_child --defer --state $prod")).success)
    assert(r.readTable("dfl_child").as[(Long, String)].collect()
      .toSeq == Seq((1L, "local")))
    // --favor-state flips the precedence: the SAME selection now reads
    // the state parent despite the local relation (dbt --favor-state)
    val r2 = new PipelineRunner(spark, spec, ci)
    assert(r2.run(
      Seq(s"run -s dfl_child --defer --state $prod --favor-state")).success)
    assert(r2.readTable("dfl_child").as[(Long, String)].collect()
      .toSeq == Seq((1L, "prod")))
    // a SELECTED node never defers, favor-state or not
    val r3 = new PipelineRunner(spark, spec, ci)
    assert(r3.run(Seq(s"run --defer --state $prod --favor-state")).success)
    assert(r3.readTable("dfl_child").as[(Long, String)].collect()
      .toSeq == Seq((1L, "local")))
    // --favor-state without --defer fails loudly
    assert(!new PipelineRunner(spark, spec, ci)
      .run(Seq("run -s dfl_child --favor-state")).success)
  }

  test("test --defer resolves an unbuilt model from state") {
    val prod = wh()
    val spec = PipelineSpec(
      Seq(tableModel("dft_m", Seq((1L, "a"), (1L, "b")))),
      tests = Seq(DataTest.Unique("dft_m", Seq("id"),
        TestConfig(severity = Severity.Warn))))
    assert(new PipelineRunner(spark, spec, prod).run(Seq("run")).success)
    // CI warehouse has no dft_m; the test runs against prod's
    val r = new PipelineRunner(spark, spec, wh())
    val res = r.run(Seq(s"test --defer --state $prod"))
    assert(res.success)
    // and it actually SAW rows: store under --store-failures proves it
    val r2 = new PipelineRunner(spark, spec, wh())
    assert(r2.run(
      Seq(s"test --defer --state $prod --store-failures")).success)
    assert(r2.readTable("dbt_test__audit_unique_dft_m_id").count() == 1)
  }

  test("slim CI: state:modified selection + defer builds only the edit") {
    val prod = wh()
    val parent = tableModel("ci_parent", Seq((1L, "a"), (2L, "b")))
    def child(pred: String) = Model.sql("ci_child",
      s"SELECT id, v FROM {{ ref('ci_parent') }} WHERE $pred",
      Materialization.Table)
    val v1 = PipelineSpec(Seq(parent, child("id = 1")))
    assert(new PipelineRunner(spark, v1, prod).run(Seq("run")).success)

    // edit the child; run exactly dbt's slim-CI invocation
    val v2 = PipelineSpec(Seq(parent, child("id = 2")))
    val ci = wh()
    val r = new PipelineRunner(spark, v2, ci)
    val res = r.run(
      Seq(s"run -s state:modified --defer --state $prod"))
    assert(res.success, res.results.flatMap(_.error).mkString("; "))
    assert(res.results.head.modelsRun == Seq("ci_child"),
      "only the edited model runs")
    assert(!r.tableExists("ci_parent"))
    assert(r.readTable("ci_child").as[(Long, String)].collect()
      .toSeq == Seq((2L, "b")))
  }

  test("clone copies state relations file-verbatim; keeps local unless full-refresh") {
    val prod = wh()
    // a merge-bucketed table exercises hidden-partition member paths
    val mkSpec = (rows: Seq[(Long, String)]) => PipelineSpec(Seq(
      Model("cl_m", Nil, Materialization.IncrementalMerge(Seq("id"),
        buckets = 4),
        (sp, _) => { import sp.implicits._; rows.toDF("id", "v") }),
      tableModel("cl_t", rows)))
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    assert(new PipelineRunner(spark, mkSpec(rows), prod)
      .run(Seq("run")).success)

    val ci = wh()
    val r = new PipelineRunner(spark, mkSpec(Nil), ci)
    val res = r.run(Seq(s"clone --state $prod"))
    assert(res.success)
    assert(res.results.head.modelsRun.toSet == Set("cl_m", "cl_t"))
    assert(r.readTable("cl_m").orderBy("id").as[(Long, String)].collect()
      .toSeq == rows)
    assert(r.readTable("cl_t").count() == 3)
    // a clone is independent: merging new rows locally works and
    // does not touch prod
    assert(r.run(Seq("run -s cl_m")).success) // empty batch merge no-op
    // existing local relations are kept on re-clone...
    val prod2 = wh()
    assert(new PipelineRunner(spark,
      mkSpec(Seq((9L, "z"))), prod2).run(Seq("run")).success)
    assert(r.run(Seq(s"clone --state $prod2")).success)
    assert(r.readTable("cl_t").count() == 3, "no overwrite without flag")
    // ...and replaced under --full-refresh
    assert(r.run(Seq(s"clone --state $prod2 --full-refresh")).success)
    assert(r.readTable("cl_t").count() == 1)
  }

  test("run --fail-fast skips independent nodes after the first failure") {
    // two INDEPENDENT chains; bad_a fails first (topo order is
    // name-sorted within a level)
    def spec = PipelineSpec(Seq(
      Model("a_bad", Nil, Materialization.Table,
        (_, _) => sys.error("boom")),
      tableModel("b_ok", Seq((1L, "x"))),
      Model.sql("c_down", "SELECT * FROM {{ ref('b_ok') }}",
        Materialization.Table)))
    // default: independent subgraph still runs
    val r1 = new PipelineRunner(spark, spec, wh())
    assert(!r1.run(Seq("run")).success)
    assert(r1.tableExists("b_ok") && r1.tableExists("c_down"))
    // --fail-fast: nothing after the failure starts
    val r2 = new PipelineRunner(spark, spec, wh())
    val res = r2.run(Seq("run --fail-fast"))
    assert(!res.success)
    assert(!r2.tableExists("b_ok") && !r2.tableExists("c_down"))
    assert(res.results.head.error.get.contains("skipped: b_ok,c_down"))
  }

  test("run --fail-fast stops queued level-mates under --threads") {
    // flat DAG, 2 pool threads: a_bad fails in ms while c_1 (300 ms)
    // occupies the other thread; c_2..c_4 are queued and must SKIP at
    // task start (in-flight c_1 finishes — dbt semantics)
    def slow(name: String) = Model(name, Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._
        Thread.sleep(300); Seq((1L, name)).toDF("id", "v") })
    val spec = PipelineSpec(Seq(
      Model("a_bad", Nil, Materialization.Table,
        (_, _) => sys.error("boom")),
      slow("c_1"), slow("c_2"), slow("c_3"), slow("c_4")))
    val r = new PipelineRunner(spark, spec, wh())
    val res = r.run(Seq("run --threads 2 --fail-fast"))
    assert(!res.success)
    assert(!r.tableExists("c_2") && !r.tableExists("c_3") &&
      !r.tableExists("c_4"),
      "queued tasks must not run after the failure")
  }

  test("clone copies only live members, not superseded bucket dirs") {
    val prod = wh()
    def spec(rows: Seq[(Long, String)]) = PipelineSpec(Seq(
      Model("clg_m", Nil, Materialization.IncrementalMerge(Seq("id"),
        buckets = 2),
        (sp, _) => { import sp.implicits._; rows.toDF("id", "v") })))
    // run 1: keys hashing to both buckets; run 2: delta touching ONE
    // bucket → batch1's rewritten bucket dir stays on disk for time
    // travel but leaves the live manifest
    val r1 = new PipelineRunner(spark,
      spec(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))), prod)
    assert(r1.run(Seq("run")).success)
    val r2 = new PipelineRunner(spark, spec(Seq((1L, "A"))), prod)
    assert(r2.run(Seq("run")).success)
    val prodBuckets = java.nio.file.Files.walk(
      java.nio.file.Paths.get(prod, "clg_m", "data"))
    val prodGbDirs = try {
      import scala.jdk.CollectionConverters._
      prodBuckets.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("__gbucket="))
        .size
    } finally prodBuckets.close()

    val ci = wh()
    val rc = new PipelineRunner(spark, spec(Nil), ci)
    assert(rc.run(Seq(s"clone --state $prod")).success)
    assert(rc.readTable("clg_m").orderBy("id").as[(Long, String)]
      .collect().toSeq ==
      Seq((1L, "A"), (2L, "b"), (3L, "c"), (4L, "d")))
    val s = java.nio.file.Files.walk(
      java.nio.file.Paths.get(ci, "clg_m", "data"))
    val cloneGbDirs = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("__gbucket="))
        .size
    } finally s.close()
    assert(cloneGbDirs < prodGbDirs,
      s"clone must not carry superseded bucket dirs " +
        s"(clone=$cloneGbDirs, prod=$prodGbDirs)")
  }

  test("run --empty materializes schema-only relations") {
    val w = wh()
    val parent = tableModel("em_p", Seq((1L, "a"), (2L, "b")))
    val child = Model.sql("em_c",
      "SELECT id, upper(v) AS vu FROM {{ ref('em_p') }}",
      Materialization.Table)
    val spec = PipelineSpec(Seq(parent, child))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run --empty")).success)
    assert(r.readTable("em_c").count() == 0)
    assert(r.readTable("em_c").columns.toSeq == Seq("id", "vu"),
      "schema must survive the empty build")
    // a later REAL run replaces the empty relations
    assert(new PipelineRunner(spark, spec, w).run(Seq("run")).success)
    assert(r.readTable("em_c").count() == 2)
  }

  test("show --inline runs ad-hoc SQL against warehouse relations") {
    val w = wh()
    val spec = PipelineSpec(Seq(tableModel("si_t",
      Seq((1L, "a"), (2L, "b"), (3L, "c")))))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run")).success)
    val res = r.run(Seq(
      "show --inline 'SELECT count(*) AS n FROM {{ ref(\"si_t\") }} WHERE id > 1'"))
    assert(res.success, res.results.flatMap(_.error).mkString("; "))
    assert(res.results.head.rowCounts("inline") == 1L)
    assert(!spark.catalog.tableExists("__graft_ref___inline_si_t"),
      "inline scratch views must not leak")
    assert(!r.run(Seq("show --select si_t --inline 'SELECT 1'")).success,
      "--select and --inline are mutually exclusive")
  }

  test("build --empty never touches snapshot history") {
    import org.apache.spark.sql.types._
    val w = wh()
    val spec = PipelineSpec(
      Seq(tableModel("es_m", Seq((1L, "a"), (2L, "b")))),
      snapshots = Seq(SnapshotDef("es_snap", "es_m",
        Seq("id"), Seq("v"))))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("build --at 2024-01-01T00:00:00")).success)
    assert(r.readTable("es_snap").filter(col("valid_to").isNull)
      .count() == 2)
    // the schema-only dry run must not close every open row
    assert(r.run(Seq("build --empty --at 2024-02-01T00:00:00")).success)
    assert(r.readTable("es_snap").filter(col("valid_to").isNotNull)
      .count() == 0, "--empty must not record hard deletes")
  }

  test("model contract: schema mismatch fails before materializing") {
    import org.apache.spark.sql.types._
    val w = wh()
    val good = StructType(Seq(StructField("id", LongType),
      StructField("vu", StringType)))
    def m(contract: StructType) = PipelineSpec(Seq(
      tableModel("ct_p", Seq((1L, "a"))),
      Model.sql("ct_c", "SELECT id, upper(v) AS vu FROM {{ ref('ct_p') }}",
        Materialization.Table, contract = Some(contract))))
    assert(new PipelineRunner(spark, m(good), w).run(Seq("run")).success)
    // retyped column → loud failure, nothing materializes
    val bad = StructType(Seq(StructField("id", IntegerType),
      StructField("vu", StringType)))
    val r = new PipelineRunner(spark, m(bad), wh())
    val res = r.run(Seq("run"))
    assert(!res.success)
    assert(res.results.head.error.get.contains("retyped"))
    assert(!r.tableExists("ct_c"))
    // undeclared extra column also fails
    val narrow = StructType(Seq(StructField("id", LongType)))
    assert(!new PipelineRunner(spark, m(narrow), wh())
      .run(Seq("run")).success)
    // project config header carries the contract as DDL
    val proj = java.nio.file.Paths.get(wh())
    java.nio.file.Files.createDirectories(proj.resolve("models"))
    java.nio.file.Files.writeString(proj.resolve("models/ct_m.sql"),
      """{{ config(materialized='table', contract='x BIGINT') }}
        |SELECT CAST(1 AS INT) AS x""".stripMargin)
    val spec = PipelineProject.load(proj.toString)
    assert(!new PipelineRunner(spark, spec, wh()).run(Seq("run")).success,
      "INT output vs BIGINT contract must fail")
  }

  test("seed and snapshot honor --select") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val spec = PipelineSpec(Nil,
      seeds = Seq(Seed("sd_a", Seq("id,v", "1,x"), sch),
        Seed("sd_b", Seq("id,v", "2,y"), sch)),
      snapshots = Seq(SnapshotDef("sn_a", "sd_a", Seq("id"), Seq("v")),
        SnapshotDef("sn_b", "sd_b", Seq("id"), Seq("v"))))
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.run(Seq("seed --select sd_a")).success)
    assert(r.tableExists("sd_a") && !r.tableExists("sd_b"))
    assert(r.run(Seq("seed")).success) // no selection = all
    assert(r.run(
      Seq("snapshot --at 2024-01-01T00:00:00 -s sn_b")).success)
    assert(r.tableExists("sn_b") && !r.tableExists("sn_a"))
  }

  test("vacuum command reclaims superseded generations per retention") {
    val w = wh()
    def spec(rows: Seq[(Long, String)]) =
      PipelineSpec(Seq(tableModel("vc_t", rows)))
    // three full refreshes → three generations
    assert(new PipelineRunner(spark, spec(Seq((1L, "a"))), w)
      .run(Seq("run")).success)
    assert(new PipelineRunner(spark, spec(Seq((2L, "b"))), w)
      .run(Seq("run")).success)
    val r = new PipelineRunner(spark, spec(Seq((3L, "c"))), w)
    assert(r.run(Seq("run")).success)
    val dataDir = java.nio.file.Paths.get(w, "vc_t", "data")
    def batches() = java.nio.file.Files.list(dataDir).count()
    assert(batches() == 3)
    // keep 2: one superseded generation survives for time travel
    assert(r.run(Seq("vacuum -s vc_t --keep 2 --min-age-ms 0")).success)
    assert(batches() == 2)
    // fresh batches survive the default cross-process grace window
    assert(r.run(Seq("vacuum")).success)
    assert(batches() == 2,
      "a fresh batch must survive the default vacuum grace")
    // keep 1 + no grace: only the live generation's batch remains
    assert(r.run(Seq("vacuum --min-age-ms 0")).success)
    assert(batches() == 1)
    assert(r.readTable("vc_t").as[(Long, String)].collect()
      .toSeq == Seq((3L, "c")))
  }

  test("docs generate writes a catalog of materialized relations") {
    val w = wh()
    val spec = PipelineSpec(Seq(
      tableModel("dg_t", Seq((1L, "a"), (2L, "b"), (3L, "c"))),
      Model("dg_view", Nil, Materialization.View,
        (sp, _) => { import sp.implicits._; Seq(1).toDF("x") })))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run", "docs generate")).success)
    val res = r.run(Seq("docs generate")).results.head
    assert(res.modelsRun == Seq("dg_t"), "views are not stored relations")
    assert(res.rowCounts("dg_t") == 3L)
    val cat = java.nio.file.Files.readString(
      java.nio.file.Paths.get(w, "target", "catalog.json"))
    assert(cat.contains(""""name":"dg_t""""))
    assert(cat.contains(""""name":"id","type":"BIGINT","index":0"""))
    assert(cat.contains(""""name":"v","type":"STRING","index":1"""))
    assert(cat.contains(""""row_count":3"""))
    assert("""\"bytes\":(\d+)""".r.findFirstMatchIn(cat)
      .exists(_.group(1).toLong > 0), s"bytes must be real: $cat")
  }

  test("ls lists unit tests under their model") {
    val spec = PipelineSpec(Seq(utModel),
      unitTests = Seq(UnitTest("ut_ls_probe", "ut_enriched",
        given = Map("ut_orders" -> utOrders, "ut_rates" -> utRates),
        expect = Fixture(Seq("id", "1"),
          StructType(Seq(StructField("id", LongType)))))))
    val r = new PipelineRunner(spark, spec, wh())
    val rows = r.run(Seq("ls")).results.head.modelsRun
    assert(rows.contains("model.ut_enriched"))
    assert(rows.contains("unit_test.ut_ls_probe"))
    val only = r.run(Seq("ls --resource-type unit_test")).results.head.modelsRun
    assert(only == Seq("unit_test.ut_ls_probe"))
  }

  test("model versions: ref resolves latest, v= pins, bare name selects all") {
    val w = wh()
    def inst(name: String, v: String) = Model.sql(name,
      s"SELECT 1 AS id, '$v' AS ver", Materialization.Table)
    val spec = PipelineSpec(
      models = Seq(
        inst("dimv_v1", "one"), inst("dimv_v2", "two"),
        Model.sql("use_latest", "SELECT ver FROM {{ ref('dimv') }}",
          Materialization.Table),
        Model.sql("use_pinned", "SELECT ver FROM {{ ref('dimv', v=1) }}",
          Materialization.Table)),
      modelVersions = Map("dimv" -> 2))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run")).success)
    assert(r.readTable("use_latest").head.getString(0) == "two",
      "bare ref must resolve to the latest version")
    assert(r.readTable("use_pinned").head.getString(0) == "one",
      "v= pin must resolve to that instance")
    // bare family name selects every version (dbt's behavior)
    assert(r.select(Some("dimv")) == Set("dimv_v1", "dimv_v2"))
    // graph closure follows the resolved alias edge
    assert(r.select(Some("+use_latest")) == Set("dimv_v2", "use_latest"))
    // declaring a latest that doesn't exist fails at construction
    intercept[IllegalArgumentException] {
      new PipelineRunner(spark, PipelineSpec(
        models = Seq(inst("solo_v1", "x")),
        modelVersions = Map("solo" -> 3)), wh())
    }
  }

  test("versioned family: bare-ref edges drive topo order and skip") {
    // consumer is named to sort BEFORE the dep instance so a lost
    // graph edge (raw deps instead of version-resolved) would emit it
    // first from the Kahn tie-break — regression for the bug where
    // topoOrder/shouldSkip/level used byName(n).deps without resolveDep
    def spec(depFails: Boolean) = PipelineSpec(
      models = Seq(
        Model("vd_dim_v1", Nil, Materialization.Table,
          (sp, _) => { import sp.implicits._; Seq((1L, "one")).toDF("id", "ver") }),
        Model("vd_dim_v2", Nil, Materialization.Table,
          (sp, _) => if (depFails) sys.error("boom")
            else { import sp.implicits._; Seq((1L, "two")).toDF("id", "ver") }),
        Model("vd_a_use", Seq("vd_dim"), Materialization.Table,
          (_, in) => in("vd_dim"))),
      modelVersions = Map("vd_dim" -> 2))
    val ok = new PipelineRunner(spark, spec(depFails = false), wh())
    assert(ok.topoOrder(Set("vd_a_use", "vd_dim_v2")) ==
      Seq("vd_dim_v2", "vd_a_use"),
      "bare family ref must order the latest instance first")
    assert(ok.run(Seq("run")).success)
    assert(ok.readTable("vd_a_use").select("ver").head.getString(0) == "two")
    // a failed latest instance must SKIP its bare-ref consumers — both
    // serial and under --threads (the level map shares the same edges)
    for (cmd <- Seq("run", "run --threads 2")) {
      val r = new PipelineRunner(spark, spec(depFails = true), wh())
      val res = r.run(Seq(cmd))
      assert(!res.success)
      val err = res.results.head.error.get
      assert(err.contains("vd_dim_v2"), err)
      assert(err.contains("skipped") && err.contains("vd_a_use"),
        s"consumer must skip, not read stale data: $err")
    }
  }

  test("model access: private refs enforced at construction (dbt groups)") {
    def m(name: String, deps: Seq[String], group: Option[String],
        access: String = "protected") =
      Model(name, deps, Materialization.Table,
        (sp, _) => { import sp.implicits._; Seq((1L, name)).toDF("id", "v") },
        group = group, access = access)
    // same-group private ref: fine
    new PipelineRunner(spark, PipelineSpec(Seq(
      m("ga_core", Nil, Some("finance"), "private"),
      m("ga_rpt", Seq("ga_core"), Some("finance")))), wh())
    // cross-group private ref: parse-time failure, dbt access rules
    val e = intercept[IllegalArgumentException] {
      new PipelineRunner(spark, PipelineSpec(Seq(
        m("gb_core", Nil, Some("finance"), "private"),
        m("gb_leak", Seq("gb_core"), Some("marketing")))), wh())
    }
    assert(e.getMessage.contains("cannot ref private model gb_core"))
    // no-group ref of a private model also fails
    intercept[IllegalArgumentException] {
      new PipelineRunner(spark, PipelineSpec(Seq(
        m("gc_core", Nil, Some("finance"), "private"),
        m("gc_leak", Seq("gc_core"), None))), wh())
    }
    // public model: anyone may ref
    new PipelineRunner(spark, PipelineSpec(Seq(
      m("gd_core", Nil, Some("finance"), "public"),
      m("gd_rpt", Seq("gd_core"), Some("marketing")))), wh())
    // unknown access string fails loudly
    intercept[IllegalArgumentException] {
      new PipelineRunner(spark, PipelineSpec(Seq(
        m("ge_core", Nil, None, "internal"))), wh())
    }
  }

  test("exposures: lineage nodes for ls and +selection, never executed") {
    val w = wh()
    val spec = PipelineSpec(
      models = Seq(
        tableModel("ex_a", Seq((1L, "a"))),
        Model.sql("ex_b", "SELECT id, v FROM {{ ref('ex_a') }}",
          Materialization.Table),
        tableModel("ex_other", Seq((2L, "x")))),
      exposures = Seq(ExposureDef("ex_dash", "dashboard", Seq("ex_b"),
        owner = "analytics")))
    val r = new PipelineRunner(spark, spec, w)
    // `build -s +ex_dash` materializes exactly the consumer's ancestry
    assert(r.run(Seq("build -s +ex_dash")).success)
    assert(r.tableExists("ex_a") && r.tableExists("ex_b"))
    assert(!r.tableExists("ex_other"), "unrelated model must not build")
    assert(!r.tableExists("ex_dash"), "exposures never materialize")
    // ls lists it kind-qualified, and --resource-type scopes to it
    val ls = r.run(Seq("ls")).results.head.modelsRun
    assert(ls.contains("exposure.ex_dash"))
    assert(r.run(Seq("ls --resource-type exposure")).results.head.modelsRun
      == Seq("exposure.ex_dash"))
    // manifest.json carries the exposure with its edges
    val man = java.nio.file.Files.readString(
      java.nio.file.Paths.get(w, "manifest.json"))
    assert(man.contains(""""name":"ex_dash","kind":"exposure"""))
    assert(man.contains(""""deps":["ex_b"]"""))
    // dbt method prefixes: exposure: names the same node;
    // config.materialized: selects by materialization name
    assert(r.run(Seq("ls -s +exposure:ex_dash")).results.head.modelsRun
      .filter(_.startsWith("model.")).toSet
      == Set("model.ex_a", "model.ex_b"))
    assert(r.run(Seq("ls -s config.materialized:table")).results.head
      .modelsRun.toSet
      == Set("model.ex_a", "model.ex_b", "model.ex_other"))
  }

  test("project artifact loads exposures.conf") {
    val proj = java.nio.file.Paths.get(wh())
    import java.nio.file.{Files => F}
    F.createDirectories(proj.resolve("models"))
    F.writeString(proj.resolve("models/pe_m.sql"), "SELECT 1 AS x")
    F.writeString(proj.resolve("exposures.conf"),
      "pe_dash:dashboard:pe_m:analytics:https://bi.example/d/1\n" +
        "pe_nb:notebook:pe_m\n")
    val spec = PipelineProject.load(proj.toString)
    assert(spec.exposures == Seq(
      ExposureDef("pe_dash", "dashboard", Seq("pe_m"), "analytics",
        "https://bi.example/d/1"),
      ExposureDef("pe_nb", "notebook", Seq("pe_m"))))
  }

  // ---- microbatch incremental strategy (dbt-core 1.9) ---------------------

  private def mbTs(d: Int, h: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-0$d $h%02d:00:00")

  private def mbSpec(rows: Seq[(Long, java.sql.Timestamp)],
      lookback: Int = 1) = PipelineSpec(Seq(Model(
    "mb", Nil,
    Materialization.IncrementalMicrobatch("ts", "day", "2024-01-01",
      lookback = lookback),
    (sp, _) => { import sp.implicits._; rows.toDF("id", "ts") })))

  private def mbIds(r: PipelineRunner): Seq[Long] =
    r.readTable("mb").select("id").as[Long].collect().toSeq.sorted

  test("microbatch: backfill windows, clamp to clock, lookback healing") {
    val w = wh()
    val rows1 = Seq((1L, mbTs(1, 5)), (2L, mbTs(2, 10)), (3L, mbTs(3, 8)),
      (4L, mbTs(3, 20)))
    val r1 = new PipelineRunner(spark, mbSpec(rows1), w)
    assert(r1.run(Seq("run --event-time-end 2024-01-03T12:00:00")).success)
    // row 4 (Jan 3 20:00) is past the injected clock → clamped out
    assert(mbIds(r1) == Seq(1L, 2L, 3L))
    assert(!r1.readTable("mb").columns.contains("__gwindow"),
      "storage window column must not leak into the table surface")
    // scheduled run at Jan 4 06:00, lookback=1 → exactly the Jan 3 +
    // Jan 4 windows re-process: row 4 appears (healed partial batch),
    // row 5 appears (current window), row 6 (Jan 1, OUTSIDE the
    // lookback) must NOT — batch independence, dbt semantics
    val rows2 = rows1 ++ Seq((5L, mbTs(4, 2)), (6L, mbTs(1, 9)))
    val r2 = new PipelineRunner(spark, mbSpec(rows2), w)
    assert(r2.run(Seq("run --event-time-end 2024-01-04T06:00:00")).success)
    assert(mbIds(r2) == Seq(1L, 2L, 3L, 4L, 5L))
    // explicit backfill of the Jan 1 window picks up row 6 and leaves
    // every other window untouched
    assert(r2.run(Seq("run --event-time-start 2024-01-01" +
      " --event-time-end 2024-01-02T00:00:00")).success)
    assert(mbIds(r2) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("microbatch: re-processed window drops rows that vanished upstream") {
    val w = wh()
    val rows = Seq((1L, mbTs(1, 5)), (2L, mbTs(2, 10)), (3L, mbTs(2, 11)))
    val r1 = new PipelineRunner(spark, mbSpec(rows), w)
    assert(r1.run(Seq("run --event-time-end 2024-01-03T00:00:00")).success)
    assert(mbIds(r1) == Seq(1L, 2L, 3L))
    // row 3 disappears upstream; backfilling its window must REPLACE
    // the window's member (not keep the stale row), and an upstream
    // row outside the backfilled window must survive
    val r2 = new PipelineRunner(spark, mbSpec(Seq((1L, mbTs(1, 5)),
      (2L, mbTs(2, 10)))), w)
    assert(r2.run(Seq("run --event-time-start 2024-01-02" +
      " --event-time-end 2024-01-03T00:00:00")).success)
    assert(mbIds(r2) == Seq(1L, 2L))
  }

  test("microbatch: --full-refresh rebuilds from begin; end clock required") {
    val w = wh()
    val rows = Seq((1L, mbTs(1, 5)), (2L, mbTs(2, 10)))
    val r1 = new PipelineRunner(spark, mbSpec(rows), w)
    assert(r1.run(Seq("run --event-time-end 2024-01-02T00:00:00")).success)
    assert(mbIds(r1) == Seq(1L))
    // missing --event-time-end fails loudly, old table intact
    val res = r1.run(Seq("run"))
    assert(!res.success)
    assert(res.results.head.error.exists(_.contains("--event-time-end")))
    assert(mbIds(r1) == Seq(1L))
    // --full-refresh re-windows from begin under the new clock
    assert(r1.run(Seq("run --full-refresh" +
      " --event-time-end 2024-01-03T00:00:00")).success)
    assert(mbIds(r1) == Seq(1L, 2L))
  }

  test("microbatch: run --empty is schema-only and needs no event clock") {
    val w = wh()
    val src = Model("mbe_src", Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._
        Seq((1L, mbTs(1, 5)), (2L, mbTs(2, 10))).toDF("id", "ts") },
      eventTime = Some("ts"))
    val mb = Model("mbe", Seq("mbe_src"),
      Materialization.IncrementalMicrobatch("ts", "day", "2024-01-01"),
      (sp, ins) => ins("mbe_src"))
    val r = new PipelineRunner(spark, PipelineSpec(Seq(src, mb)), w)
    assert(r.run(Seq("run --empty")).success)
    assert(r.readTable("mbe").count() == 0)
    assert(r.readTable("mbe").columns.toSeq == Seq("id", "ts"))
    // a real run afterwards backfills normally from begin
    assert(r.run(Seq("run --full-refresh" +
      " --event-time-end 2024-01-03T00:00:00")).success)
    assert(r.readTable("mbe").select("id").as[Long].collect().toSeq.sorted
      == Seq(1L, 2L))
  }

  test("microbatch: concurrent_batches backfill matches the interval") {
    val w = wh()
    val rows = (1 to 9).flatMap(d =>
      Seq((d.toLong * 10, mbTs(d, 3)), (d.toLong * 10 + 1, mbTs(d, 15))))
    def spec = PipelineSpec(Seq(Model("mbc", Nil,
      Materialization.IncrementalMicrobatch("ts", "day", "2024-01-01",
        concurrentBatches = true),
      (sp, _) => { import sp.implicits._; rows.toDF("id", "ts") })))
    val r = new PipelineRunner(spark, spec, w)
    // 9-window backfill, 8 of them racing through the pool — every
    // atomic member swap must survive the contention
    assert(r.run(Seq("run --event-time-end 2024-01-09T12:00:00")).success)
    def ids = r.readTable("mbc").select("id").as[Long].collect().toSeq.sorted
    val cut = java.sql.Timestamp.valueOf("2024-01-09 12:00:00")
    assert(ids == rows.filter(_._2.before(cut)).map(_._1).sorted)
    // a later concurrent incremental run heals the partial window
    assert(r.run(Seq("run --event-time-end 2024-01-10T00:00:00")).success)
    assert(ids == rows.map(_._1).sorted)
  }

  test("microbatch: declared-event-time inputs are filtered per window") {
    val w = wh()
    // upstream model DECLARES ts as its event time; the downstream
    // microbatch model records how many input rows each build SAW —
    // if input filtering works, every row's n_seen equals its own
    // window's row count (2 for Jan 1, 1 for Jan 2), never the total
    val src = Model("mb_src", Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._
        Seq((1L, mbTs(1, 3)), (2L, mbTs(1, 7)), (3L, mbTs(2, 9)))
          .toDF("id", "ts") },
      eventTime = Some("ts"))
    val mb = Model("mb", Seq("mb_src"),
      Materialization.IncrementalMicrobatch("ts", "day", "2024-01-01"),
      (sp, ins) => ins("mb_src")
        .withColumn("n_seen", lit(ins("mb_src").count())))
    val r = new PipelineRunner(spark, PipelineSpec(Seq(src, mb)), w)
    assert(r.run(Seq("run --event-time-end 2024-01-03T00:00:00")).success)
    val got = r.readTable("mb").select("id", "n_seen").as[(Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 1L)))
  }

  test("microbatch: dimension inputs (no event time) pass through whole") {
    val w = wh()
    val dim = Model("mb_dim", Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "label") })
    val mb = Model("mb", Seq("mb_dim"),
      Materialization.IncrementalMicrobatch("ts", "day", "2024-01-01"),
      (sp, ins) => { import sp.implicits._
        Seq((1L, mbTs(1, 3)), (2L, mbTs(2, 9))).toDF("id", "ts")
          .join(ins("mb_dim"), "id") })
    val r = new PipelineRunner(spark, PipelineSpec(Seq(dim, mb)), w)
    assert(r.run(Seq("run --event-time-end 2024-01-03T00:00:00")).success)
    assert(r.readTable("mb").select("id", "label")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
      == Seq((1L, "a"), (2L, "b")))
  }

  test("source freshness writes sources.json; source_status:fresher+ " +
      "selects readers of sources that advanced") {
    val w = wh()
    val stateDir = wh()
    val srcDir = wh() + "/fresh_src"
    def writeSrc(upTo: Int): Unit =
      (1 to upTo).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(s"2024-01-0$i 00:00:00")))
        .toDF("id", "ts").write.mode("overwrite").parquet(srcDir)
    writeSrc(2)
    def spec = PipelineSpec(
      models = Seq(
        Model.sql("sf_reader",
          "SELECT id FROM {{ source('fresh_src') }}",
          Materialization.Table),
        Model.sql("sf_down",
          "SELECT count(*) AS n FROM {{ ref('sf_reader') }}",
          Materialization.Table),
        Model.sql("sf_other", "SELECT 1 AS x", Materialization.Table)),
      sources = Map("fresh_src" -> srcDir),
      freshness = Seq(FreshnessDef("fresh_src", "ts",
        warnAfterSec = 864000, errorAfterSec = 8640000)))
    val r1 = new PipelineRunner(spark, spec, w)
    assert(r1.runCommand("run").success)
    assert(r1.runCommand("source freshness --at 2024-01-05T00:00:00")
      .success)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(w, "sources.json")))
    // freeze sources.json as the CI state artifact
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(w, "sources.json"),
      java.nio.file.Paths.get(stateDir, "sources.json"))
    // nothing advanced → empty selection
    val r2 = new PipelineRunner(spark, spec, w)
    assert(r2.runCommand("source freshness --at 2024-01-05T00:00:00")
      .success)
    assert(r2.runCommand(s"run -s source_status:fresher+ --state $stateDir")
      .modelsRun.isEmpty)
    // the source gains a newer row; next freshness run records it,
    // and the selector picks the reader + its descendants (never the
    // unrelated model)
    writeSrc(3)
    val r3 = new PipelineRunner(spark, spec, w)
    assert(r3.runCommand("source freshness --at 2024-01-05T00:00:00")
      .success)
    val res = r3.runCommand(s"run -s source_status:fresher+ --state $stateDir")
    assert(res.success, res.error.mkString)
    assert(res.modelsRun.sorted == Seq("sf_down", "sf_reader"))
    // state-less use fails loudly
    assert(!r3.runCommand("run -s source_status:fresher+").success)
  }

  test("state:unmodified is the exclusion complement of state:modified") {
    val w = wh()
    val stateDir = wh()
    def spec(bSql: String) = PipelineSpec(models = Seq(
      Model.sql("su_a", "SELECT 1 AS x", Materialization.Table),
      Model.sql("su_b", bSql, Materialization.Table)))
    val r1 = new PipelineRunner(spark, spec("SELECT 2 AS y"), w)
    assert(r1.runCommand("run").success)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(w, "manifest.json"),
      java.nio.file.Paths.get(stateDir, "manifest.json"))
    val r2 = new PipelineRunner(spark, spec("SELECT 3 AS y"), w)
    val res = r2.runCommand(
      s"run --exclude state:unmodified --state $stateDir")
    assert(res.success, res.error.mkString)
    assert(res.modelsRun == Seq("su_b"))
  }

  test("--indirect-selection: eager/cautious/buildable/empty scope " +
      "attached tests") {
    val w = wh()
    def m(name: String, deps: Seq[String] = Nil) =
      Model(name, deps, Materialization.Table,
        (sp, _) => { import sp.implicits._
          Seq((1L, 1L)).toDF("id", "parent_id") })
    val spec = PipelineSpec(
      models = Seq(m("is_parent"), m("is_child", Seq("is_parent"))),
      tests = Seq(
        DataTest.NotNull("is_child", "id"),
        DataTest.Relationships("is_child", "parent_id",
          "is_parent", "id")))
    val rel = "relationships_is_child_parent_id__is_parent_id"
    val r = new PipelineRunner(spark, spec, w)
    assert(r.runCommand("run").success)
    // eager (default): ANY referenced node selected → both tests
    assert(r.runCommand("test -s is_child").modelsRun.toSet ==
      Set("not_null_is_child_id", rel))
    // cautious: the relationships test also reads is_parent, which
    // is not selected → only the single-ref test runs
    assert(r.runCommand(
      "test -s is_child --indirect-selection cautious").modelsRun ==
      Seq("not_null_is_child_id"))
    assert(r.runCommand(
      "test -s is_child is_parent --indirect-selection cautious")
      .modelsRun.toSet == Set("not_null_is_child_id", rel))
    // buildable: refs may also be ANCESTORS of the selection —
    // is_parent is is_child's dep, so the relationships test runs
    assert(r.runCommand(
      "test -s is_child --indirect-selection buildable")
      .modelsRun.toSet == Set("not_null_is_child_id", rel))
    // empty: only tests selected by their own name
    assert(r.runCommand(
      "test -s is_child --indirect-selection empty").modelsRun.isEmpty)
    assert(r.runCommand(
      s"test -s $rel --indirect-selection empty").modelsRun == Seq(rel))
    // build honors the same scoping: cautious over the child-only
    // subgraph skips the cross-ref test, empty runs no tests
    assert(r.runCommand(
      "build -s is_child --indirect-selection cautious").modelsRun ==
      Seq("is_child", "not_null_is_child_id"))
    assert(r.runCommand(
      "build -s is_child --indirect-selection empty").modelsRun ==
      Seq("is_child"))
  }

  test("model description flows into manifest.json and catalog.json; " +
      "parse reports the inventory") {
    val w = wh()
    val stateDir = wh()
    def spec(desc: String) = PipelineSpec(models = Seq(
      Model.sql("doc_m", "SELECT 1 AS x", Materialization.Table,
        description = Some(desc))))
    val r = new PipelineRunner(spark, spec("counts widgets"), w)
    assert(r.runCommand("run").success)
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(w, "manifest.json"))
    assert(manifest.contains("\"description\":\"counts widgets\""))
    assert(r.runCommand("docs generate").success)
    val catalog = java.nio.file.Files.readString(
      java.nio.file.Paths.get(w, "target", "catalog.json"))
    assert(catalog.contains("\"description\":\"counts widgets\""))
    // a docs-only edit is a state:modified change (dbt checksums the
    // model file, docs included)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(w, "manifest.json"),
      java.nio.file.Paths.get(stateDir, "manifest.json"))
    val r2 = new PipelineRunner(spark, spec("counts gadgets"), w)
    assert(r2.runCommand(s"run -s state:modified --state $stateDir")
      .modelsRun == Seq("doc_m"))
    // parse: no execution, full inventory reported
    val p = r2.runCommand("parse")
    assert(p.success && p.modelsRun == Seq("doc_m"))
    assert(r2.generations("doc_m").size == 2, "parse must not build")
    // JSON escaping: quote, backslash, newline, brace, non-ASCII all
    // round-trip through both artifacts and the state:modified diff
    val tricky = "say \"hi\" to C:\\tmp\nline two } — ünïcödé"
    val w3 = wh()
    val state3 = wh()
    val r3 = new PipelineRunner(spark, spec(tricky), w3)
    assert(r3.run(Seq("run", "docs generate")).success)
    def descOf(path: java.nio.file.Path): List[org.json4s.JValue] =
      (org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(path)) \ "nodes").children
        .filter(_ \ "name" == org.json4s.JString("doc_m"))
        .map(_ \ "description")
    assert(descOf(java.nio.file.Paths.get(w3, "manifest.json")) ==
      List(org.json4s.JString(tricky)))
    assert(descOf(java.nio.file.Paths.get(w3, "target", "catalog.json")) ==
      List(org.json4s.JString(tricky)))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(w3, "manifest.json"),
      java.nio.file.Paths.get(state3, "manifest.json"))
    assert(new PipelineRunner(spark, spec(tricky), w3)
      .runCommand(s"run -s state:modified --state $state3")
      .modelsRun.isEmpty)
  }

  test("project artifacts: description config parses into the model") {
    val proj = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target/scratch-test"), "proj")
    java.nio.file.Files.createDirectories(proj.resolve("models"))
    java.nio.file.Files.writeString(
      proj.resolve("models/desc_m.sql"),
      """{{ config(materialized='table', description='daily widget rollup') }}
        |SELECT 1 AS id""".stripMargin)
    val spec = PipelineProject.load(proj.toString)
    assert(spec.models.head.description.contains("daily widget rollup"))
  }

  test("project artifacts: operations/ dir loads run-operation statements") {
    val proj = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target/scratch-test"), "proj")
    java.nio.file.Files.createDirectories(proj.resolve("models"))
    java.nio.file.Files.createDirectories(proj.resolve("operations"))
    java.nio.file.Files.writeString(proj.resolve("models/opa_m.sql"),
      "SELECT 1 AS id")
    java.nio.file.Files.writeString(
      proj.resolve("operations/audit.sql"),
      "INSERT INTO opa_audit SELECT count(*) AS n FROM {{ ref('opa_m') }}")
    val spec = PipelineProject.load(proj.toString)
    val r = new PipelineRunner(spark, spec, wh())
    assert(r.runCommand("run").success)
    assert(r.runCommand("run-operation audit").success)
    assert(r.readTable("opa_audit").head().getLong(0) == 1L)
  }

  test("run-operation executes a named statement with vars and refs") {
    val w = wh()
    val spec = PipelineSpec(
      models = Seq(Model.sql("op_m",
        "SELECT 1 AS id UNION ALL SELECT 2", Materialization.Table)),
      operations = Map("log_audit" ->
        ("INSERT INTO op_audit SELECT count(*) AS n, " +
          "'{{ var(\"tag\") }}' AS tag FROM {{ ref('op_m') }}")))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.runCommand("run").success)
    val res = r.runCommand("""run-operation log_audit --args '{"tag": "nightly"}'""")
    assert(res.success, res.error.mkString)
    assert(res.modelsRun == Seq("log_audit"))
    val row = r.readTable("op_audit").head()
    assert(row.getLong(0) == 2L && row.getString(1) == "nightly")
    // unknown operation and unknown flags fail loudly
    val bad = r.runCommand("run-operation nope")
    assert(!bad.success && bad.error.exists(_.contains("unknown operation")))
    assert(!r.runCommand("run-operation log_audit --frobnicate x").success)
  }

  test("retry reruns a failed run-operation instead of replaying the " +
      "previous command's artifact") {
    val w = wh()
    def spec(opSql: String) = PipelineSpec(
      models = Seq(Model.sql("ro_m",
        "SELECT 1 AS id UNION ALL SELECT 2", Materialization.Table)),
      operations = Map("audit" -> opSql))
    val good = "INSERT INTO ro_audit SELECT count(*) AS n FROM {{ ref('ro_m') }}"
    val r1 = new PipelineRunner(spark,
      spec("INSERT INTO ro_audit SELECT boom FROM {{ ref('ro_m') }}"), w)
    assert(r1.runCommand("run").success)
    assert(!r1.runCommand("run-operation audit").success)
    // fix the operation; retry resumes THE OPERATION, not the old run
    val r2 = new PipelineRunner(spark, spec(good), w)
    val res = r2.runCommand("retry")
    assert(res.success, res.error.mkString)
    assert(res.modelsRun == Seq("audit"))
    assert(r2.readTable("ro_audit").head().getLong(0) == 2L)
    assert(r2.generations("ro_m").size == 1, "retry must not rebuild ro_m")
    // a retry after the success is a no-op for the operation
    assert(r2.runCommand("retry").modelsRun.isEmpty)
  }

  test("--indirect-selection mode typo fails even without a selection") {
    val w = wh()
    val spec = PipelineSpec(models = Seq(
      Model.sql("iv_m", "SELECT 1 AS x", Materialization.Table)))
    val r = new PipelineRunner(spark, spec, w)
    val res = r.runCommand("test --indirect-selection cautios")
    assert(!res.success &&
      res.error.exists(_.contains("unknown --indirect-selection")))
    assert(!r.runCommand("build --indirect-selection eagerly").success)
  }

  test("snapshot fails loudly (not with an unresolved column) when the " +
      "source schema changes") {
    val w = wh()
    def spec(withExtra: Boolean) = PipelineSpec(
      models = Seq(Model("scdim", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          if (withExtra) Seq((1L, "a", 9L)).toDF("id", "v", "extra")
          else Seq((1L, "a")).toDF("id", "v") })),
      snapshots = Seq(SnapshotDef("scdim_snap", "scdim", Seq("id"),
        Seq("all"))))
    assert(new PipelineRunner(spark, spec(false), w)
      .run(Seq("run", "snapshot --at 2024-01-01T00:00:00")).success)
    val r2 = new PipelineRunner(spark, spec(true), w)
    assert(r2.runCommand("run").success)
    val res = r2.runCommand("snapshot --at 2024-02-01T00:00:00")
    assert(!res.success)
    assert(res.error.exists(_.contains("schema changed")), res.error)
  }

  test("schema guard ignores the hard_deletes=new_record marker column") {
    val w = wh()
    def spec(rows: Seq[(Long, String)]) = PipelineSpec(
      models = Seq(Model("hdim", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._; rows.toDF("id", "v") })),
      snapshots = Seq(SnapshotDef("hdim_snap", "hdim", Seq("id"),
        Seq("v"), hardDeletes = HardDeletes.NewRecord)))
    assert(new PipelineRunner(spark, spec(Seq((1L, "a"), (2L, "b"))), w)
      .run(Seq("run", "snapshot --at 2024-01-01T00:00:00")).success)
    // key 2 hard-deleted: the stored open rows now carry
    // dbt_is_deleted, which the source never has — the schema guard
    // must not read that as drift
    val r2 = new PipelineRunner(spark, spec(Seq((1L, "a"))), w)
    assert(r2.run(Seq("run", "snapshot --at 2024-02-01T00:00:00"))
      .success)
    val r3 = new PipelineRunner(spark, spec(Seq((1L, "a"))), w)
    assert(r3.runCommand("snapshot --at 2024-03-01T00:00:00").success)
  }

  test("a description containing '}' does not corrupt state:modified " +
      "checksum pairing") {
    val w = wh()
    val stateDir = wh()
    val spec = PipelineSpec(models = Seq(
      Model.sql("br_m", "SELECT 1 AS x", Materialization.Table,
        description = Some("renders {a: b} blocks"))))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.runCommand("run").success)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(w, "manifest.json"),
      java.nio.file.Paths.get(stateDir, "manifest.json"))
    // unedited project: nothing is modified, nothing is new
    val r2 = new PipelineRunner(spark, spec, w)
    assert(r2.runCommand(s"run -s state:modified --state $stateDir")
      .modelsRun.isEmpty)
    assert(r2.runCommand(s"run -s state:new --state $stateDir")
      .modelsRun.isEmpty)
  }

  test("source freshness --select narrows the check; clean removes " +
      "only target/") {
    val w = wh()
    val spec = PipelineSpec(
      models = Seq(
        Model("fr_a", Nil, Materialization.Table,
          (sp, _) => { import sp.implicits._
            Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
              .toDF("id", "ts") }),
        Model("fr_b", Nil, Materialization.Table,
          (sp, _) => { import sp.implicits._
            Seq((1L, java.sql.Timestamp.valueOf("2023-01-01 00:00:00")))
              .toDF("id", "ts") })),
      freshness = Seq(
        FreshnessDef("fr_a", "ts", 3600, 7200),
        FreshnessDef("fr_b", "ts", 3600, 7200)))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.runCommand("run").success)
    // fr_b is a year stale — checking everything fails...
    assert(!r.runCommand("source freshness --at 2024-01-01T00:30:00")
      .success)
    // ...but narrowing to the fresh source passes, and reports only it
    val sel = r.runCommand(
      "source freshness --at 2024-01-01T00:30:00 -s fr_a")
    assert(sel.success, sel.error.mkString)
    assert(sel.modelsRun == Seq("fr_a"))
    // clean: target/ artifacts go, warehouse data and manifest stay
    assert(r.runCommand("compile").success)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(w, "target")))
    assert(r.runCommand("clean").success)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(w, "target")))
    assert(r.readTable("fr_a").count() == 1L)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(w, "manifest.json")))
  }

  test("indirect-selection modes nest: empty ⊆ cautious ⊆ buildable ⊆ " +
      "eager for every selection") {
    val w = wh()
    def m(name: String, deps: Seq[String] = Nil) =
      Model(name, deps, Materialization.Table,
        (sp, _) => { import sp.implicits._
          Seq((1L, 1L)).toDF("id", "pid") })
    // diamond + a cross-branch relationships test and a singular
    // test reading both legs
    val spec = PipelineSpec(
      models = Seq(m("nn_root"), m("nn_l", Seq("nn_root")),
        m("nn_r", Seq("nn_root")), m("nn_sink", Seq("nn_l", "nn_r"))),
      tests = Seq(
        DataTest.NotNull("nn_l", "id"),
        DataTest.Relationships("nn_l", "pid", "nn_r", "id"),
        DataTest.Singular("nn_both",
          "SELECT l.id FROM {{ ref('nn_l') }} l JOIN {{ ref('nn_r') }} r ON l.id = r.id WHERE 1 = 0")))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.runCommand("run").success)
    for (sel <- Seq("nn_l", "nn_r", "+nn_sink", "nn_l,nn_l", "@nn_root",
        "nn_l nn_r")) {
      val got = Seq("empty", "cautious", "buildable", "eager").map { mode =>
        mode -> r.runCommand(
          s"test -s $sel --indirect-selection $mode").modelsRun.toSet
      }.toMap
      assert(got("empty").subsetOf(got("cautious")), s"$sel empty⊄cautious")
      assert(got("cautious").subsetOf(got("buildable")),
        s"$sel cautious⊄buildable: ${got("cautious")} vs ${got("buildable")}")
      assert(got("buildable").subsetOf(got("eager")),
        s"$sel buildable⊄eager: ${got("buildable")} vs ${got("eager")}")
    }
  }

  test("group: selector method picks exactly the group's models") {
    val w = wh()
    val spec = PipelineSpec(models = Seq(
      Model.sql("gs_fin1", "SELECT 1 AS x", Materialization.Table,
        group = Some("finance")),
      Model.sql("gs_fin2", "SELECT 2 AS x", Materialization.Table,
        group = Some("finance")),
      Model.sql("gs_mkt", "SELECT 3 AS x", Materialization.Table,
        group = Some("marketing")),
      Model.sql("gs_none", "SELECT 4 AS x", Materialization.Table)))
    val r = new PipelineRunner(spark, spec, w)
    val res = r.runCommand("run -s group:finance")
    assert(res.success, res.error.mkString)
    assert(res.modelsRun.sorted == Seq("gs_fin1", "gs_fin2"))
  }

  test("file_format=delta models materialize as REAL Delta tables: " +
      "table and incremental merge route through DeltaWrite, refs and " +
      "readTable through DeltaRead, full-refresh replaces atomically, " +
      "unsupported shapes reject loudly") {
    import spark.implicits._
    val w = wh()
    val inc = Model("ffd_inc", Nil,
      Materialization.IncrementalMerge(Seq("id"), buckets = 2),
      (sp, _) => { import sp.implicits._
        (1L to 6L).map(i => (i, "base")).toDF("id", "v") },
      buildC = Some((sp, _, ctx) => { import sp.implicits._
        if (ctx.isIncremental) Seq((2L, "merged"), (9L, "new")).toDF("id", "v")
        else (1L to 6L).map(i => (i, "base")).toDF("id", "v") }),
      fileFormat = "delta")
    // a downstream GRAFT-format model refs the delta table
    val down = Model("ffd_down", Seq("ffd_inc"), Materialization.Table,
      (sp, deps) => deps("ffd_inc").groupBy("v")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n")))
    val spec = PipelineSpec(Seq(inc, down))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run")).success)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(w, "ffd_inc", "_delta_log")),
      "delta model did not write a _delta_log")
    // second run merges through the incremental branch
    assert(r.run(Seq("run")).success)
    val got = r.readTable("ffd_inc").orderBy("id")
      .as[(Long, String)].collect().toSeq
    val expect = Seq((1L, "base"), (2L, "merged"), (3L, "base"),
      (4L, "base"), (5L, "base"), (6L, "base"), (9L, "new"))
    assert(got == expect, s"delta incremental state wrong: $got")
    // the external interop reader sees the same table
    assert(graft.sources.DeltaRead.readDeltaTable(spark, s"$w/ffd_inc")
      .orderBy("id").as[(Long, String)].collect().toSeq == expect)
    // the downstream graft model consumed the delta ref
    assert(r.readTable("ffd_down").orderBy("v")
      .as[(String, Long)].collect().toSeq ==
      Seq(("base", 5L), ("merged", 1L), ("new", 1L)))
    // session view registered (SQL sessions see the live merge state)
    assert(spark.sql("SELECT count(*) FROM ffd_inc").head().getLong(0) == 7L)
    // full-refresh replaces in ONE commit; history stays readable
    assert(r.runCommand("run --select ffd_inc --full-refresh").success)
    assert(r.readTable("ffd_inc").orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      (1L to 6L).map(i => (i, "base")))
    // delta TABLE materialization replaces on every run
    val tbl = Model("ffd_tbl", Nil, Materialization.Table,
      (sp, _) => { import sp.implicits._ ; Seq((1L, "x")).toDF("id", "v") },
      fileFormat = "delta")
    val r2 = new PipelineRunner(spark, PipelineSpec(Seq(tbl)), w)
    assert(r2.run(Seq("run")).success && r2.run(Seq("run")).success)
    assert(r2.readTable("ffd_tbl").count() == 1L)
    // vacuum is a manifest-store operation — a no-op on a delta table
    r.vacuum("ffd_inc")
    assert(r.readTable("ffd_inc").count() == 6L)
    // unsupported materialization rejects loudly (the command fails)
    val bad = Model("ffd_bad", Nil,
      Materialization.IncrementalAppend("id"),
      (sp, _) => { import sp.implicits._; Seq((1L, "x")).toDF("id", "v") },
      fileFormat = "delta")
    val res = new PipelineRunner(spark, PipelineSpec(Seq(bad)), w)
      .runCommand("run")
    assert(!res.success && res.error.exists(_.contains("file_format=delta")),
      res.error.mkString)
    // unknown format fails at CONSTRUCTION (dbt parse-time style)
    val e = intercept[IllegalArgumentException](new PipelineRunner(spark,
      PipelineSpec(Seq(tbl.copy(name = "ffd_odd", fileFormat = "hudi"))), w))
    assert(e.getMessage.contains("file_format"), e.getMessage)
  }

  test("file_format=delta + partition_by + on_schema_change through " +
      "the runner: merges land in a REAL partitioned Delta table, " +
      "append_new_columns evolves it, ignore projects, drops refuse") {
    import spark.implicits._
    val w = wh()
    def m(osc: OnSchemaChange, evolved: Boolean) = Model("ffp", Nil,
      Materialization.IncrementalMerge(Seq("id"), buckets = 4,
        partitionBy = Seq("seg"), onSchemaChange = osc),
      (sp, _) => { import sp.implicits._
        Seq((1L, "A", 0.0), (2L, "B", 0.0)).toDF("id", "seg", "bal") },
      buildC = Some((sp, _, ctx) => { import sp.implicits._
        if (!ctx.isIncremental)
          Seq((1L, "A", 0.0), (2L, "B", 0.0)).toDF("id", "seg", "bal")
        else if (evolved)
          Seq((1L, "A", 1.5, "hi")).toDF("id", "seg", "bal", "note")
        else Seq((1L, "A", 1.5)).toDF("id", "seg", "bal") }),
      fileFormat = "delta")
    val r = new PipelineRunner(spark,
      PipelineSpec(Seq(m(OnSchemaChange.AppendNewColumns, evolved = false))), w)
    assert(r.run(Seq("run")).success && r.run(Seq("run")).success)
    // the dbt partition_by config produced a REALLY partitioned table
    assert(graft.sources.DeltaRead.partitionColumns(spark, s"$w/ffp")
      == Seq("seg"))
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(w, "ffp")).iterator().hasNext)
    assert(r.readTable("ffp").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "A", 1.5), (2L, "B", 0.0)))
    // append_new_columns EVOLVES the lakehouse table (same contract
    // as graft-format models — the old silent hard-fail divergence)
    val r2 = new PipelineRunner(spark,
      PipelineSpec(Seq(m(OnSchemaChange.AppendNewColumns, evolved = true))), w)
    assert(r2.run(Seq("run")).success)
    assert(r2.readTable("ffp").orderBy("id")
      .as[(Long, String, Double, Option[String])].collect().toSeq ==
      Seq((1L, "A", 1.5, Some("hi")), (2L, "B", 0.0, None)))
    // ignore PROJECTS a drifted batch onto the stored schema
    val r3 = new PipelineRunner(spark, PipelineSpec(Seq(Model("ffp", Nil,
      Materialization.IncrementalMerge(Seq("id"), buckets = 4,
        partitionBy = Seq("seg"), onSchemaChange = OnSchemaChange.Ignore),
      (sp, _) => { import sp.implicits._
        Seq((2L, "B", 9.0, 42)).toDF("id", "seg", "bal", "extra") },
      fileFormat = "delta"))), w)
    assert(r3.run(Seq("run")).success)
    val after = r3.readTable("ffp").orderBy("id")
      .as[(Long, String, Double, Option[String])].collect().toSeq
    assert(after == Seq((1L, "A", 1.5, Some("hi")), (2L, "B", 9.0, None)),
      s"ignore projection wrong: $after")
    // a column DROP refuses loudly in every mode
    val r4 = new PipelineRunner(spark, PipelineSpec(Seq(Model("ffp", Nil,
      Materialization.IncrementalMerge(Seq("id"), buckets = 4,
        partitionBy = Seq("seg"),
        onSchemaChange = OnSchemaChange.SyncAllColumns),
      (sp, _) => { import sp.implicits._
        Seq((2L, "B", 9.0)).toDF("id", "seg", "bal") },
      fileFormat = "delta"))), w)
    val res = r4.runCommand("run")
    assert(!res.success &&
      res.error.exists(_.contains("cannot drop columns")),
      res.error.mkString)
  }

  test("file_format=iceberg models: CoW merge and MoR (equality-" +
      "delete) incremental strategies materialize real Iceberg " +
      "tables; refs and readTable route through IcebergRead") {
    import spark.implicits._
    val w = wh()
    def model(name: String, mat: Materialization) = Model(name, Nil, mat,
      (sp, _) => { import sp.implicits._
        (1L to 6L).map(i => (i, "base")).toDF("id", "v") },
      buildC = Some((sp, _, ctx) => { import sp.implicits._
        if (ctx.isIncremental) Seq((2L, "merged"), (9L, "new")).toDF("id", "v")
        else (1L to 6L).map(i => (i, "base")).toDF("id", "v") }),
      fileFormat = "iceberg")
    val spec = PipelineSpec(Seq(
      model("ffi_cow", Materialization.IncrementalMerge(Seq("id"), buckets = 2)),
      model("ffi_mor", Materialization.IncrementalMergeOnRead(Seq("id")))))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run")).success)
    assert(r.run(Seq("run")).success)
    val expect = Seq((1L, "base"), (2L, "merged"), (3L, "base"),
      (4L, "base"), (5L, "base"), (6L, "base"), (9L, "new"))
    Seq("ffi_cow", "ffi_mor").foreach { n =>
      assert(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(
        w, n, "metadata", "version-hint.text")), s"$n is not Iceberg")
      val got = r.readTable(n).orderBy("id")
        .as[(Long, String)].collect().toSeq
      assert(got == expect, s"$n state wrong: $got")
      // the external interop reader agrees
      assert(graft.sources.IcebergRead.readIcebergTable(spark, s"$w/$n")
        .orderBy("id").as[(Long, String)].collect().toSeq == expect)
    }
    // MoR wrote NO rewrites: the original data file and the upsert
    // are the only DATA files (the third input is the equality-delete
    // file feeding the reconciliation join)
    val morFiles = graft.sources.IcebergRead
      .readIcebergTable(spark, s"$w/ffi_mor").inputFiles
      .filterNot(_.contains("eq-delete"))
    assert(morFiles.length == 2, s"MoR must append, not rewrite: " +
      morFiles.mkString(", "))
    // full-refresh replaces atomically; snapshot 1 stays readable
    assert(r.runCommand("run --select ffi_mor --full-refresh").success)
    assert(r.readTable("ffi_mor").count() == 6L)
    assert(graft.sources.IcebergRead.readIcebergTable(spark,
      s"$w/ffi_mor", snapshotId = Some(1L)).count() == 6L)
  }

  test("schema namespaces: schema config folds into schema.identifier " +
      "relations (subdir storage), bare refs resolve when unique and " +
      "fail loudly when ambiguous, two-arg source() maps to a " +
      "qualified relation in SQL-text models") {
    val w = wh()
    // raw.events source registered via the two-part source() grammar
    val srcDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target/scratch-test"), "nssrc")
    Seq((1L, 5.0), (2L, 7.0)).toDF("id", "x")
      .write.mode("overwrite").parquet(srcDir.toString)
    val sqlModel = Model.sql("enriched",
      "SELECT id, x * 2 AS x2 FROM {{ source('raw', 'events') }}",
      Materialization.Table)
    val spec = PipelineSpec(
      models = Seq(
        Model("dim", Nil, Materialization.Table,
          (sp, _) => { import sp.implicits._
            Seq((1L, "a"), (2L, "b")).toDF("id", "tag") },
          schema = Some("core")),
        // a bare ref to a UNIQUE schema'd name resolves
        Model("usage", Seq("dim"), Materialization.Table,
          (sp, ins) => ins("dim").select("id")),
        sqlModel),
      sources = Map("raw.events" -> srcDir.toString))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run")).success)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(w, "core", "dim")), "schema subdir missing")
    assert(r.readTable("core.dim").count() == 2L)
    assert(r.readTable("usage").count() == 2L)
    assert(r.readTable("enriched").orderBy("id")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 10.0), (2L, 14.0)))
    // AMBIGUOUS bare ref: same name in two schemas refuses loudly
    val dup = PipelineSpec(Seq(
      Model("t", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._ ; Seq(1).toDF("a") },
        schema = Some("s1")),
      Model("t", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._ ; Seq(2).toDF("a") },
        schema = Some("s2")),
      Model("down", Seq("t"), Materialization.Table,
        (sp, ins) => ins("t"))))
    // construction-time, like dbt's parse-time DbtReferenceError
    val e = intercept[RuntimeException](
      new PipelineRunner(spark, dup, wh()))
    assert(e.getMessage.contains("ambiguous across schemas"),
      e.getMessage)
    // a fresh runner over the SAME warehouse re-registers the
    // schema'd leftovers (one directory level deeper)
    val r3 = new PipelineRunner(spark,
      PipelineSpec(models = Nil), w)
    r3.initialize()
    assert(r3.readTable("core.dim").count() == 2L)
  }

  test("selectors.yml: named selectors drive --selector on run/ls, " +
      "method/union/intersection/exclude definitions compile onto " +
      "the selection grammar, the default selector applies to " +
      "bare commands, and misuse fails loudly") {
    val proj = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target/scratch-test"), "selyml")
    java.nio.file.Files.createDirectories(proj.resolve("models"))
    def model(name: String, cfg: String, sql: String): Unit =
      java.nio.file.Files.writeString(
        proj.resolve(s"models/$name.sql"), s"$cfg\n$sql")
    model("base", "{{ config(materialized='table', tags='core') }}",
      "SELECT 1 AS id")
    model("mid", "{{ config(materialized='table', tags='core,daily') }}",
      "SELECT id FROM {{ ref('base') }}")
    model("leaf", "{{ config(materialized='table', tags='daily') }}",
      "SELECT id FROM {{ ref('mid') }}")
    model("old", "{{ config(materialized='table', tags='daily') }}",
      "SELECT 2 AS id")
    java.nio.file.Files.writeString(proj.resolve("selectors.yml"),
      """# dbt selectors.yml (the 1.9 grammar subset real projects use)
        |selectors:
        |  - name: nightly
        |    description: daily models minus the deprecated one
        |    default: true
        |    definition:
        |      union:
        |        - method: tag
        |          value: daily
        |        - exclude:
        |          - old
        |  - name: core_graph
        |    definition:
        |      union:
        |        - method: fqn
        |          value: base
        |          children: true
        |  - name: daily_core
        |    definition:
        |      intersection:
        |        - tag:daily
        |        - tag:core
        |  - name: just_leaf
        |    definition: leaf
        |""".stripMargin)
    val spec = PipelineProject.load(proj.toString)
    assert(spec.selectors.map(_.name) ==
      Seq("nightly", "core_graph", "daily_core", "just_leaf"))
    assert(spec.selectors.head.default &&
      spec.selectors.head.description.exists(_.contains("deprecated")))
    val r = new PipelineRunner(spark, spec, wh())
    def ls(cmd: String): Set[String] =
      r.run(Seq(cmd)).results.head.modelsRun
        .map(_.stripPrefix("model.")).toSet
    assert(ls("ls --selector nightly") == Set("mid", "leaf"))
    assert(ls("ls --selector core_graph") == Set("base", "mid", "leaf"))
    assert(ls("ls --selector daily_core") == Set("mid"))
    assert(ls("ls --selector just_leaf") == Set("leaf"))
    // the DEFAULT selector applies when no selection is given...
    assert(ls("ls") == Set("mid", "leaf"))
    // ...and an explicit selection overrides it
    assert(ls("ls --select old") == Set("old"))
    // run respects the selector (deps NOT auto-included — dbt
    // semantics; core_graph builds the whole chain)
    val res = r.run(Seq("run --selector core_graph"))
    assert(res.success, res.results.flatMap(_.error).mkString("; "))
    assert(r.readTable("leaf").count() == 1L)
    // misuse: unknown selector, and --selector + --select together
    val e1 = r.run(Seq("run --selector nope"))
    assert(!e1.success && e1.results.flatMap(_.error)
      .exists(_.contains("unknown selector")), e1.toString)
    val e2 = r.run(Seq("run --selector nightly --select base"))
    assert(!e2.success && e2.results.flatMap(_.error)
      .exists(_.contains("cannot be combined")), e2.toString)
    // parse-time hygiene: two defaults reject at construction
    val dup = spec.copy(selectors = Seq(
      SelectorDef("a", default = true, include = Seq("base")),
      SelectorDef("b", default = true, include = Seq("mid"))))
    val e3 = intercept[IllegalArgumentException](
      new PipelineRunner(spark, dup, wh()))
    assert(e3.getMessage.contains("default"), e3.getMessage)
    // the zip artifact round-trip (the reference's deploy shape)
    // carries selectors.yml through loadZip
    val zip = java.nio.file.Paths.get(wh(), "sel_proj.zip")
    val zout = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zip))
    try {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(proj)
      val files = try w.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
      finally w.close()
      files.foreach { f =>
        zout.putNextEntry(new java.util.zip.ZipEntry(
          "proj/" + proj.relativize(f).toString))
        zout.write(java.nio.file.Files.readAllBytes(f))
        zout.closeEntry()
      }
    } finally zout.close()
    val spec2 = PipelineProject.loadZip(zip.toString, wh())
    assert(spec2.selectors.map(_.name) ==
      Seq("nightly", "core_graph", "daily_core", "just_leaf"),
      "selectors.yml lost through the zip artifact")
  }

  test("two-arg ref('pkg','model') is dbt's (package, model) form: " +
      "it resolves the MODEL through the registry, never a relation " +
      "named after the package") {
    val w = wh()
    val spec = PipelineSpec(models = Seq(
      Model("dim", Nil, Materialization.Table,
        (sp, _) => { import sp.implicits._
          Seq((1L, "a"), (2L, "b")).toDF("id", "tag") },
        schema = Some("core")),
      // the package name ('analytics') is a NAMESPACE — no schema or
      // relation by that name exists, so qualifying to analytics.dim
      // would be a loud miss; resolving by model name is correct
      Model.sql("down", "SELECT id FROM {{ ref('analytics', 'dim') }}",
        Materialization.Table)))
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run")).success)
    assert(r.readTable("down").count() == 2L)
  }

  test("semantic layer: semantic_models.yml parses (incl. zip " +
      "round-trip), validation is loud, manifest/ls carry the nodes " +
      "with model lineage, and semanticQuery evaluates simple/ratio/" +
      "derived metrics in one pass") {
    val proj = java.nio.file.Paths.get(wh()).resolve("sem_proj")
    java.nio.file.Files.createDirectories(proj.resolve("models"))
    java.nio.file.Files.writeString(proj.resolve("models/fct.sql"),
      """{{ config(materialized='table') }}
        |SELECT * FROM VALUES
        |  (1L, 'a', CAST(10.00 AS DECIMAL(12,2))),
        |  (1L, 'a', CAST(30.00 AS DECIMAL(12,2))),
        |  (2L, 'b', CAST(5.00  AS DECIMAL(12,2)))
        |AS t(cust, seg, amount)""".stripMargin)
    java.nio.file.Files.writeString(proj.resolve("semantic_models.yml"),
      """# dbt semantic layer (MetricFlow YAML, dbt >= 1.6)
        |semantic_models:
        |  - name: fct_sm
        |    model: ref('fct')
        |    description: facts
        |    defaults:
        |      agg_time_dimension: ''
        |    entities:
        |      - name: cust
        |        type: foreign
        |    dimensions:
        |      - name: seg
        |        type: categorical
        |    measures:
        |      - name: revenue
        |        agg: sum
        |        expr: amount
        |      - name: n_rows
        |        agg: count
        |        expr: amount
        |      - name: n_cust
        |        agg: count_distinct
        |        expr: cust
        |metrics:
        |  - name: revenue
        |    type: simple
        |    type_params:
        |      measure: revenue
        |  - name: aov
        |    type: ratio
        |    type_params:
        |      numerator: revenue
        |      denominator: n_rows
        |  - name: rev2x
        |    type: derived
        |    type_params:
        |      expr: revenue * 2
        |      metrics:
        |        - revenue
        |""".stripMargin)
    val spec = PipelineProject.load(proj.toString)
    assert(spec.semanticModels.map(_.name) == Seq("fct_sm"))
    val sm = spec.semanticModels.head
    assert(sm.modelRef == "fct" && sm.measures.size == 3 &&
      sm.aggTimeDimension.isEmpty, sm.toString)
    assert(spec.metrics.map(_.metricType) ==
      Seq("simple", "ratio", "derived"))
    assert(spec.metrics.last.inputMetrics == Seq("revenue"))

    val w = wh()
    val r = new PipelineRunner(spark, spec, w)
    assert(r.run(Seq("run")).success)
    // ls lists the nodes kind-qualified, in lineage order; the
    // semantic-layer method prefixes and +lineage selection work
    val ls = r.run(Seq("ls")).results.head.modelsRun
    assert(ls.containsSlice(Seq("semantic_model.fct_sm")) &&
      ls.contains("metric.revenue") && ls.contains("metric.rev2x"),
      ls.toString)
    assert(r.run(Seq("ls --select +metric:aov")).results.head.modelsRun
      .toSet == Set("model.fct", "semantic_model.fct_sm", "metric.aov"),
      "metric lineage selection wrong")
    // the manifest artifact carries the nodes with deps
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(w, "manifest.json"))
    assert(manifest.contains("\"kind\":\"semantic_model\"") &&
      manifest.contains("\"kind\":\"metric\""), manifest.take(400))

    // query: grouped, entity-grouped, and global
    val bySeg = r.semanticQuery(Seq("revenue", "aov", "rev2x"),
      groupBy = Seq("seg")).orderBy("seg")
      .collect().map(x => (x.getString(0),
        x.getDecimal(1).doubleValue, x.getDouble(2),
        x.getDecimal(3).doubleValue)).toSeq
    assert(bySeg == Seq(("a", 40.0, 20.0, 80.0), ("b", 5.0, 5.0, 10.0)),
      bySeg.toString)
    val global = r.semanticQuery(Seq("revenue")).collect()
    assert(global.head.getDecimal(0).doubleValue == 45.0)
    val byCust = r.semanticQuery(Seq("revenue"), groupBy = Seq("cust"))
    assert(byCust.count() == 2L)
    // misuse is loud: unknown group-by, unknown metric
    val e1 = intercept[Exception](
      r.semanticQuery(Seq("revenue"), groupBy = Seq("nope")))
    assert(e1.getMessage.contains("dimension"), e1.getMessage)
    val e2 = intercept[Exception](r.semanticQuery(Seq("nope")))
    assert(e2.getMessage.contains("unknown metric"), e2.getMessage)

    // validation is loud at construction: unknown measure, bad agg,
    // derived-over-derived, semantic model over a missing node
    def bad(s2: PipelineSpec): String =
      intercept[Exception](new PipelineRunner(spark, s2, wh()))
        .getMessage
    assert(bad(spec.copy(metrics = spec.metrics :+ MetricDef(
      "m2", "simple", measure = Some("ghost"))))
      .contains("unknown measure"))
    assert(bad(spec.copy(semanticModels = Seq(sm.copy(measures =
      sm.measures :+ SemMeasure("x", "median", "amount")))))
      .contains("unknown agg"))
    assert(bad(spec.copy(metrics = spec.metrics :+ MetricDef(
      "m3", "derived", expr = Some("rev2x + 1"),
      inputMetrics = Seq("rev2x")))).contains("derived"))
    assert(bad(spec.copy(semanticModels = Seq(sm.copy(
      modelRef = "ghost")))).contains("not a project node"))

    // the zip artifact round-trip carries semantic_models.yml
    val zip = java.nio.file.Paths.get(wh(), "sem_proj.zip")
    val zout = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zip))
    try {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(proj)
      val files = try w.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
      finally w.close()
      files.foreach { f =>
        zout.putNextEntry(new java.util.zip.ZipEntry(
          "proj/" + proj.relativize(f).toString))
        zout.write(java.nio.file.Files.readAllBytes(f))
        zout.closeEntry()
      }
    } finally zout.close()
    val spec2 = PipelineProject.loadZip(zip.toString, wh())
    assert(spec2.semanticModels.map(_.name) == Seq("fct_sm") &&
      spec2.metrics.size == 3,
      "semantic_models.yml lost through the zip artifact")
  }
}
