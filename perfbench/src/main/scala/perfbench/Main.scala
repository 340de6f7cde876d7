package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the recorder, its
  * directories and the sizes run.py chose.
  */
final case class Ctx(spark: SparkSession, rec: Recorder, runDir: Path,
    inputs: Path, out: Path, seed: Long, passes: Int, cycles: Int,
    cpus: Int, conns: Int, traced: Boolean) {

  /** Ids of the ops whose output a named check covers: run.py marks
    * them failed when the check fails.
    */
  val checks = mutable.LinkedHashMap.empty[String, Seq[Long]]

  /** Per-layer facts the workload measures itself (walks, counters),
    * traced passes only.
    */
  val facts = mutable.LinkedHashMap.empty[String, Double]

  def addFact(k: String, v: Double): Unit =
    facts.synchronized(facts(k) = facts.getOrElse(k, 0.0) + v)

  /** Pass p is traced only in a traced run, and then only its last pass:
    * the one before it is the untraced reference for the overhead figure.
    */
  def isTracedPass(p: Int): Boolean = traced && p == passes - 1

  def dir(parts: String*): Path = {
    val d = parts.foldLeft(runDir)(_.resolve(_))
    Files.createDirectories(d)
  }
}

/** Host facts recorded with every run, so noisy runs can be told apart. */
object Host {
  /** (steal ticks, total ticks) of the aggregate cpu line. */
  def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val cpu = Files.readString(Paths.get("/proc/stat")).linesIterator
      .next().trim.split("\\s+").drop(1).map(_.toLong)
    (cpu(7), cpu.sum)
  }.toOption

  def loadAvg(): Option[Double] = scala.util.Try(
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0)
      .toDouble).toOption

  def stealCores(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] =
    for { (s0, t0) <- a; (s1, t1) <- b if t1 > t0 }
      yield (s1 - s0).toDouble / (t1 - t0) *
        Runtime.getRuntime.availableProcessors()

  private def isOldGen(pool: String) =
    pool.contains("Old Gen") || pool.contains("Tenured")

  /** Old-generation occupancy right after a full collection, in MB. The
    * second collection runs after Spark's cleaner thread has released
    * what the first one queued, so the reading is the live set.
    */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOldGen(p.getName))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** The largest old-generation occupancy after any collection, young
    * or full, while a window is open: fed by the collectors' end-of-GC
    * notifications, so transient peaks inside a pass count.
    */
  object PeakOldGen {
    @volatile private var open = false
    private val peak = new AtomicLong(0L)

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach {
        case e: NotificationEmitter => e.addNotificationListener(
          (n: Notification, _: Any) =>
            if (open && n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val after = GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[CompositeData])
                .getGcInfo.getMemoryUsageAfterGc.asScala
              val used = after.collect { case (k, u) if isOldGen(k) => u.getUsed }.sum
              peak.accumulateAndGet(used, math.max)
            }, null, null)
        case _ =>
      }

    def start(): Unit = { peak.set(0L); open = true }

    /** Close the window and return its peak in MB. Notifications arrive
      * on a service thread, so the last collection's is waited for.
      */
    def stopMb(): Double = {
      Thread.sleep(100)
      open = false
      peak.get / 1048576.0
    }
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

trait Workload {
  /** One-off set-up after the session exists (gateway start, warm-up). */
  def setup(ctx: Ctx): Unit = ()
  /** Per-pass set-up outside the timed window (fresh dirs). */
  def preparePass(ctx: Ctx, pass: Int): Unit = ()
  /** The timed ops of one pass. */
  def runPass(ctx: Ctx, pass: Int): Unit
  /** After the timed window: write the outputs run.py checks. */
  def exportChecks(ctx: Ctx): Unit = ()
  def teardown(ctx: Ctx): Unit = ()
}

/** JVM side of the benchmark: runs one workload's passes, then writes
  * `<out>/run.json` (ops, passes, checks, provenance and, when traced,
  * spans, listener records and layer facts). run.py derives every
  * metric from that file.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String =
      a.getOrElse(k, sys.error(s"missing --$k"))
    val workload: Workload = arg("workload") match {
      case "dbt_build" => DbtBuild
      case "thrift_dbt" => ThriftDbt
      case "query_keys" => QueryKeys
      case other => sys.error(s"unknown workload $other")
    }
    val traced = arg("trace") == "1"
    // self-test: one extra op that throws, which must count as failed
    val injectFault = a.get("inject-fault").contains("1")
    val runDir = Paths.get(arg("run-dir")).toAbsolutePath
    val cpus = arg("cpus").toInt
    val out = Files.createDirectories(runDir.resolve("out"))
    System.setProperty("derby.system.home",
      Files.createDirectories(runDir.resolve("derby")).toString)

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.gateway.GraftSqlExtensions")
      .config("spark.sql.warehouse.dir",
        runDir.resolve("spark-warehouse").toString)
      .config("spark.local.dir", runDir.resolve("tmp").toString)
      // HS2's embedded metastore: fail fast instead of retrying on the
      // per-connection session teardown (the graft tests pin the same)
      .config("spark.hadoop.hive.hmshandler.retry.attempts", "1")
      .config("spark.hadoop.hive.hmshandler.retry.interval", "0s")
      .config("spark.hadoop.hive.metastore.connect.retries", "1")
    if (traced)
      builder.config("spark.sql.queryExecutionListeners",
        classOf[CatalystListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    Host.PeakOldGen.install()
    if (traced) spark.sparkContext.addSparkListener(new TraceSparkListener)

    val ctx = Ctx(spark, rec, runDir, Paths.get(arg("inputs")), out,
      arg("seed").toLong, arg("passes").toInt, arg("cycles").toInt, cpus,
      arg("conns").toInt, traced)
    val passes = mutable.Buffer.empty[Map[String, Any]]
    var steal0: Option[(Long, Long)] = None
    var load0: Option[Double] = None
    try {
      workload.setup(ctx)
      for (p <- 0 until ctx.passes) {
        workload.preparePass(ctx, p)
        val tracedPass = ctx.isTracedPass(p)
        if (tracedPass) Listeners.reset()
        if (p == 0) { steal0 = Host.cpuTicks(); load0 = Host.loadAvg() }
        // every pass starts from its live set, so the peak does not
        // depend on what set-up or the previous pass left uncollected
        Host.oldGenAfterGcMb()
        val gc0 = Host.gcMs()
        Host.PeakOldGen.start()
        rec.tracing = tracedPass
        Listeners.on = tracedPass
        val t0 = Clock.ms()
        rec.span("pass", "harness") {
          workload.runPass(ctx, p)
          if (injectFault && p == 0)
            rec.op(p, "harness", "injected", "injected failure")(_ =>
              throw new IllegalStateException("injected failure"))
        }
        val t1 = Clock.ms()
        rec.tracing = false
        Listeners.on = false
        val gc = Host.gcMs() - gc0
        // the window closes with a full collection, so it holds at
        // least one reading; that one is also the pass's live set
        val live = Host.oldGenAfterGcMb()
        val peak = Host.PeakOldGen.stopMb()
        if (tracedPass) Listeners.drain()
        passes += Map("pass" -> p, "start" -> t0,
          "end" -> t1, "traced" -> tracedPass, "gc_ms" -> gc,
          "peak_heap_mb" -> peak, "live_heap_mb" -> live)
      }
      val steal1 = Host.cpuTicks()
      val load1 = Host.loadAvg()
      workload.exportChecks(ctx)
      val rt = ManagementFactory.getRuntimeMXBean
      val doc = mutable.LinkedHashMap[String, Any](
        "workload" -> arg("workload"),
        "jvm_start" -> rt.getStartTime.toDouble,
        "passes" -> passes.toSeq,
        "ops" -> rec.ops.map(_.toMap),
        "checks" -> ctx.checks,
        "provenance" -> Map(
          "nproc" -> Runtime.getRuntime.availableProcessors(),
          "master" -> s"local[$cpus]",
          "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
          "jvm_args" -> rt.getInputArguments.asScala.filter(_.startsWith("-X")),
          "steal_cores" -> Host.stealCores(steal0, steal1),
          "loadavg_before" -> load0, "loadavg_after" -> load1,
          "conns" -> ctx.conns, "cycles" -> ctx.cycles))
      if (traced) {
        doc("spans") = rec.spans.map(_.toMap)
        doc("spark") = Listeners.dump()
        doc("facts") = ctx.facts
      }
      Files.writeString(out.resolve("run.json"), Json.enc(doc))
    } finally {
      try workload.teardown(ctx) finally spark.stop()
    }
  }
}
