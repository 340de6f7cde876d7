package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import graft.pipeline.{LogLevel, PipelineLogger, PipelineProject, PipelineRunner}

/** `dbt_build`: one client plays the Airflow task. Each pass builds a
  * fresh warehouse from the packaged project: a full build, then
  * incremental cycles, each landing the next seeded batch first. A
  * cycle is what one scheduled task does: load the zip, initialize,
  * then `seed`, `run`, `snapshot` and `test`, one op each.
  */
object DbtBuild extends Workload {
  val Tables = Seq("dim_customers", "cust_balances", "fct_orders",
    "orders_by_day", "events_daily", "segment_revenue", "customers_snap",
    "segments")
  private val Sources = Seq("customers", "orders", "events")

  private def passDir(ctx: Ctx, p: Int) = ctx.dir("dbt", s"p$p")
  private def day(k: Int) = java.time.LocalDate.of(2024, 1, 1).plusDays(k.toLong)

  def commands(ctx: Ctx, k: Int): Seq[(String, String)] = Seq(
    "seed" -> "seed",
    "run" -> s"run --threads ${ctx.cpus} --event-time-end ${day(k + 1)}T00:00:00",
    "snapshot" -> s"snapshot --at ${day(k)}T12:00:00",
    "test" -> "test")

  override def preparePass(ctx: Ctx, p: Int): Unit = {
    val dir = passDir(ctx, p)
    val project = ctx.dir("dbt", s"p$p", "project")
    val template = ctx.inputs.resolve("dbt_project")
    val walk = Files.walk(template)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val to = project.resolve(template.relativize(f).toString)
      Files.createDirectories(to.getParent)
      Files.copy(f, to, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
    val landing = ctx.dir("dbt", s"p$p", "landing")
    Files.writeString(project.resolve("sources.conf"),
      Files.readString(project.resolve("sources.conf.in"))
        .replace("@LANDING@", landing.toString))
    Sources.foreach(s => ctx.dir("dbt", s"p$p", "landing", s))
    PipelineProject.pack(project.toString, dir.resolve("project.zip").toString)
  }

  /** Move batch k of every source into the landing zone. */
  private def land(ctx: Ctx, p: Int, k: Int): Long = Sources.map { s =>
    val from = ctx.inputs.resolve("dbt_batches").resolve(s)
      .resolve(s"batch_$k.parquet")
    val to = passDir(ctx, p).resolve("landing").resolve(s)
      .resolve(s"batch_$k.parquet")
    Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    Files.size(to)
  }.sum

  private def fileSizes(root: Path): Map[String, Long] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally s.close()
  }

  def runPass(ctx: Ctx, p: Int): Unit = {
    val rec = ctx.rec
    val dir = passDir(ctx, p)
    val wh = dir.resolve("warehouse").toString
    var seen = Map.empty[String, Long]
    for (k <- 0 until ctx.cycles) rec.span(s"cycle$k", "harness") {
      val inBytes = land(ctx, p, k)
      val spec = rec.span("pipeline.load", "pipeline")(
        PipelineProject.loadZip(dir.resolve("project.zip").toString,
          dir.resolve(s"unzip$k").toString))
      val runner = new PipelineRunner(ctx.spark, spec, wh,
        new PipelineLogger(LogLevel.ERROR))
      try {
        rec.span("pipeline.init", "pipeline")(runner.initialize())
        for ((kind, cmd) <- commands(ctx, k)) {
          rec.op(p, "pipeline", kind, cmd) { attrs =>
            val r = runner.runCommand(cmd)
            attrs("nodes") = r.modelsRun.size
            attrs("rows") = r.rowCounts.values.sum
            attrs("cycle") = k
            if (!r.success)
              throw new RuntimeException(r.error.getOrElse(s"$cmd failed"))
          }
          if (k == ctx.cycles - 1) {
            val last = rec.lastOp
            kind match {
              case "run" => Tables.filterNot(Set("customers_snap", "segments"))
                .foreach(t => ctx.checks(s"dbt/p$p/$t") = Seq(last))
              case "snapshot" => ctx.checks(s"dbt/p$p/customers_snap") = Seq(last)
              case "seed" => ctx.checks(s"dbt/p$p/segments") = Seq(last)
              case _ => ()
            }
          }
        }
      } finally runner.cleanup()
      if (rec.tracing) rec.span("pipeline.walk", "pipeline") {
        val now = fileSizes(java.nio.file.Paths.get(wh))
        val written = now.collect {
          case (f, n) if !seen.get(f).contains(n) => n
        }.sum
        seen = now
        ctx.addFact("pipeline.bytes_written", written.toDouble)
        ctx.addFact("pipeline.input_bytes", inBytes.toDouble)
        if (k == ctx.cycles - 1)
          ctx.addFact("pipeline.warehouse_files", now.size.toDouble)
      }
    }
  }

  /** The last cycle's table states, for run.py's DuckDB recomputation. */
  override def exportChecks(ctx: Ctx): Unit =
    for (p <- 0 until ctx.passes) {
      val dir = passDir(ctx, p)
      val spec = PipelineProject.loadZip(dir.resolve("project.zip").toString,
        dir.resolve("unzip_check").toString)
      val runner = new PipelineRunner(ctx.spark, spec,
        dir.resolve("warehouse").toString, new PipelineLogger(LogLevel.ERROR))
      try Tables.foreach { t =>
        if (runner.tableExists(t))
          runner.readTable(t).coalesce(1).write.mode("overwrite")
            .parquet(ctx.out.resolve("checks").resolve(s"dbt/p$p/$t").toString)
      } finally runner.cleanup()
    }
}
