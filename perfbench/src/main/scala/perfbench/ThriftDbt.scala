package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import graft.gateway.{DbtTranscript => T, MergeRoutes, ThriftGateway}
import graft.sources.{DeltaRead, DeltaWrite, IcebergRead}

/** `thrift_dbt`: C hive-jdbc clients replay dbt-spark's statement
  * sequences against the HiveServer2 endpoint, each into its own
  * schema, over several cycles. Every cycle opens fresh connections, as
  * every dbt invocation does; the clients of a cycle run concurrently.
  * Ops are the connects and the statements.
  */
object ThriftDbt extends Workload {
  private var server: AutoCloseable = _
  private var url = ""

  def schema(p: Int, i: Int) = s"perf_p${p}_c$i"
  def mergeTable(p: Int, i: Int) = s"m_cust_p${p}_c$i"
  def snapTable(p: Int, i: Int) = s"snap_cust_p${p}_c$i"

  /** The relations one client writes, by role. */
  def lakehouse(p: Int, i: Int): Seq[(String, String)] = Seq(
    "d_orders_day" -> "delta", "i_orders_day" -> "iceberg",
    mergeTable(p, i) -> "delta", snapTable(p, i) -> "delta")

  private def landing(ctx: Ctx, p: Int) = ctx.dir("thrift", s"p$p", "landing")

  private def location(s: SparkSession, db: String, t: String): String =
    Paths.get(s.sessionState.catalog
      .getTableMetadata(TableIdentifier(t, Some(db))).location).toString

  override def setup(ctx: Ctx): Unit = {
    val port = ThriftGateway.freePort()
    server = ThriftGateway.start(ctx.spark, port)
    url = s"jdbc:hive2://127.0.0.1:$port"
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    // dbt's merge and snapshot statements target engine merges: route
    // every client's targets, as a deployment registers them
    for (p <- 0 until ctx.passes; i <- 0 until ctx.conns;
         t <- Seq(mergeTable(p, i), snapTable(p, i))) {
      val db = schema(p, i)
      MergeRoutes.register(t, (s: SparkSession, batch, keys) =>
        DeltaWrite.merge(s, location(s, db, t), batch, keys))
    }
    val c = java.sql.DriverManager.getConnection(url, "warmup", "")
    try c.createStatement().executeQuery("select 1").next(): Unit
    finally c.close()
  }

  override def teardown(ctx: Ctx): Unit = {
    for (p <- 0 until ctx.passes; i <- 0 until ctx.conns) {
      MergeRoutes.unregister(mergeTable(p, i))
      MergeRoutes.unregister(snapTable(p, i))
    }
    if (server != null) server.close()
  }

  /** One client's statements for cycle k, as (kind, sql, check id). */
  def statements(ctx: Ctx, p: Int, i: Int, k: Int): Seq[(String, Option[String])] = {
    val s = schema(p, i)
    val land = landing(ctx, p)
    val all = (t: String) => s"parquet.`$land/$t`"
    val batch = (t: String) => s"parquet.`$land/$t/batch_$k.parquet`"
    val m = mergeTable(p, i)
    val sn = snapTable(p, i)
    val cust = s"select c_custkey, c_name, c_acctbal, c_mktsegment, " +
      s"is_deleted, batch_id from ${batch("customers")}"
    val snapSrc = s"select c_custkey, c_acctbal, c_mktsegment, updated_at " +
      s"from ${batch("customers")}"
    val cents = "sum(cast(round(o_totalprice * 100) as bigint))"
    val day = "date_format(o_orderdate, 'yyyy-MM-dd')"
    val byDay = (src: String) =>
      s"select $day as order_day, count(*) as n, $cents as cents " +
        s"from $src group by $day"
    val latest = "select c_custkey, c_acctbal, c_mktsegment, batch_id from " +
      "(select *, row_number() over (partition by c_custkey order by " +
      s"batch_id desc) as rn from ${all("customers")}) t where rn = 1"
    val first = k == 0
    val last = k == ctx.cycles - 1
    val build =
      T.runStart(s) ++
      T.viewRun(s, "v_orders", "select o_orderkey, o_custkey, " +
        s"o_totalprice, o_orderdate from ${all("orders")}") ++
      T.tableRun(s, "t_customers", latest, rerun = !first) ++
      T.tableRunLakehouse(s, "d_orders_day", byDay(all("orders")), "delta") ++
      T.tableRunLakehouse(s, "i_orders_day", byDay(all("orders")), "iceberg") ++
      T.incrementalAppendRun(s, "a_orders", "select o_orderkey, o_custkey, " +
        s"o_totalprice from ${batch("orders")}", firstRun = first) ++
      T.insertOverwriteRun(s, "o_orders_day", s"select count(*) as n, " +
        s"$cents as cents, $day as order_day from ${batch("orders")} " +
        s"group by $day", "order_day", firstRun = first) ++
      (if (first) T.tableRunLakehouse(s, m, cust, "delta")
       else T.mergeRun(s"$s.$m", m, cust, Seq("c_custkey"))) ++
      (if (first) T.snapshotFirstRun(s"$s.$sn", snapSrc, "c_custkey", "updated_at")
       else T.snapshotRun(s"$s.$sn", sn, T.snapshotStagingSelect(s"$s.$sn",
         snapSrc, "c_custkey", "updated_at"))) ++
      // dbt test: unique + not_null, as dbt renders them
      Seq(s"select count(*) from (select c_custkey from $s.$m " +
        "group by c_custkey having count(*) > 1) dbt_internal_test",
        s"select count(*) from $s.a_orders where o_orderkey is null")
    val readBacks: Seq[(String, Option[String])] =
      if (!last) Seq(s"select count(*), sum(n) from $s.d_orders_day" -> None)
      else Seq(
        "v_orders" -> s"select count(*), sum(o_orderkey) from $s.v_orders",
        "t_customers" -> (s"select c_custkey, c_acctbal, c_mktsegment, " +
          s"batch_id from $s.t_customers order by c_custkey"),
        "d_orders_day" -> (s"select order_day, n, cents from $s.d_orders_day " +
          "order by order_day"),
        "i_orders_day" -> (s"select order_day, n, cents from $s.i_orders_day " +
          "order by order_day"),
        "a_orders" -> s"select count(*), sum(o_orderkey), $cents from $s.a_orders",
        "o_orders_day" -> (s"select order_day, n, cents from $s.o_orders_day " +
          "order by order_day"),
        "m_cust" -> (s"select c_custkey, c_name, c_acctbal, c_mktsegment, " +
          s"is_deleted, batch_id from $s.$m order by c_custkey"),
        "snap_cust" -> (s"select c_custkey, c_acctbal, c_mktsegment, " +
          "cast(dbt_valid_from as string), cast(dbt_valid_to as string) " +
          s"from $s.$sn order by c_custkey, dbt_valid_from")
      ).map { case (t, q) => q -> Some(s"thrift/p$p/c$i/$t") }
    build.map(_ -> None) ++ readBacks
  }

  override def preparePass(ctx: Ctx, p: Int): Unit =
    Seq("customers", "orders").foreach(t => ctx.dir("thrift", s"p$p", "landing", t))

  private def land(ctx: Ctx, p: Int, k: Int): Unit =
    Seq("customers", "orders").foreach { t =>
      Files.copy(ctx.inputs.resolve("thrift_batches").resolve(t)
        .resolve(s"batch_$k.parquet"),
        landing(ctx, p).resolve(t).resolve(s"batch_$k.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }

  private def value(rs: java.sql.ResultSet, c: Int): Any = rs.getObject(c) match {
    case b: java.math.BigDecimal => b.toPlainString
    case v => v
  }

  /** One client's cycle: connect, replay, close. */
  private def client(ctx: Ctx, p: Int, i: Int, k: Int,
      parent: (Long, Long)): Unit = {
    val rec = ctx.rec
    val conn = rec.op(p, "gateway", "connect", url, Some(parent)) { _ =>
      rec.span("gateway.open", "gateway")(
        java.sql.DriverManager.getConnection(url, s"dbt_c$i", ""))
    }
    conn.foreach { c =>
      try {
        val st = c.createStatement()
        for ((sql, check) <- statements(ctx, p, i, k)) {
          val rows = mutable.Buffer.empty[Seq[Any]]
          rec.op(p, "gateway", "statement", sql, Some(parent)) { attrs =>
            attrs("client") = i
            attrs("cycle") = k
            if (rec.span("gateway.execute", "gateway")(st.execute(sql))) {
              val f0 = Clock.ms()
              rec.span("gateway.fetch", "gateway") {
                val rs = st.getResultSet
                val n = rs.getMetaData.getColumnCount
                while (rs.next()) rows += (1 to n).map(value(rs, _))
                rs.close()
              }
              attrs("fetch_ms") = Clock.ms() - f0
              attrs("rows") = rows.size
            }
          }
          check.foreach { id =>
            ctx.checks.synchronized(ctx.checks(id) = Seq(rec.lastOp))
            val f = ctx.out.resolve("checks").resolve(id + ".json")
            Files.createDirectories(f.getParent)
            Files.writeString(f, Json.enc(rows))
          }
        }
      } finally c.close()
    }
  }

  def runPass(ctx: Ctx, p: Int): Unit = {
    val pool = Executors.newFixedThreadPool(ctx.conns)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try for (k <- 0 until ctx.cycles) ctx.rec.span(s"cycle$k", "harness") {
      land(ctx, p, k)
      val parent = ctx.rec.current
      Await.result(Future.sequence((0 until ctx.conns).map(i =>
        Future(client(ctx, p, i, k, parent)))), Duration.Inf)
    } finally {
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
    if (ctx.isTracedPass(p)) sourcesFacts(ctx, p)
  }

  /** The `sources` layer, seen from outside: commits, files and bytes
    * each lakehouse table left on disk, and the live set its reader
    * resolves (timed as the layer's read).
    */
  private def sourcesFacts(ctx: Ctx, p: Int): Unit = ctx.rec.span("sources", "sources") {
    import scala.jdk.CollectionConverters._
    val spark = ctx.spark
    for (i <- 0 until ctx.conns; (t, format) <- lakehouse(p, i)) {
      val dir = Paths.get(location(spark, schema(p, i), t))
      val files = {
        val s = Files.walk(dir)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        finally s.close()
      }
      val meta = (f: java.nio.file.Path) => {
        val r = dir.relativize(f).toString
        r.startsWith("_delta_log") || r.startsWith("metadata")
      }
      val data = files.filter(f => !meta(f) && f.toString.endsWith(".parquet"))
      val commits =
        if (format == "delta") files.count(f => meta(f) &&
          f.getFileName.toString.matches("\\d+\\.json"))
        else files.count(f => meta(f) &&
          f.getFileName.toString.startsWith("snap-"))
      val live = ctx.rec.span("sources.read", "sources") {
        val df =
          if (format == "delta") DeltaRead.readDeltaTable(spark, dir.toString)
          else IcebergRead.readIcebergTable(spark, dir.toString)
        df.inputFiles.map(u => Paths.get(new java.net.URI(u)).getFileName.toString).toSet
      }
      ctx.addFact("sources.commits", commits.toDouble)
      ctx.addFact("sources.data_files_written", data.size.toDouble)
      ctx.addFact("sources.bytes_written", files.map(Files.size).sum.toDouble)
      ctx.addFact("sources.orphan_files",
        data.count(f => !live.contains(f.getFileName.toString)).toDouble)
    }
    val landed = Files.walk(landing(ctx, p))
    try ctx.addFact("sources.input_bytes", landed.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum.toDouble)
    finally landed.close()
  }
}
