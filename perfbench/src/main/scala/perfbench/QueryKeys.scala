package perfbench

import java.nio.file.Files
import graft.QueryGroup
import graft.queries._

/** `query_keys`: one in-process client runs a fixed, seed-permuted list
  * of `SparkEntry.queries` keys, each materialized with
  * `queryExecution.toRdd.count()` as `graft.Bench` does. Only keys that
  * write nothing and have a DuckDB oracle are listed; the list mixes
  * the relational groups and the LLM-operator groups about evenly by
  * time.
  */
object QueryKeys extends Workload {
  val Relational: Seq[QueryGroup] = Seq(Projections, Joins, Aggregates,
    Windows, SortLimit, SetOps, ScalarFuncs, SqlSurface, Analytics)
  val Llm: Seq[QueryGroup] = Seq(LlmOps, BpeOps)

  /** Warm times at sf 0.1 on 4 cores, second and third run of each
    * key: relational 0.5-1.6 s a key, 3.8-4.9 s in all; LLM operators
    * 0.35-1.6 s a key, 4.6-4.9 s in all.
    */
  val Keys: Seq[String] = Seq(
    // relational
    "join_inner_equi", "join_asof", "agg_rollup", "win_rank",
    "q_shipping_priority",
    // LLM operators
    "llm_exact_dedup", "llm_tokenize_explode", "llm_cosine_topk",
    "llm_ngram_jaccard", "llm_tfidf_topk", "llm_bpe_pairs")

  private lazy val groupOf: Map[String, (String, QueryGroup)] =
    (Relational.map("queries" -> _) ++ Llm.map("operators" -> _))
      .flatMap { case (layer, g) => g.queries.keys.map(_ -> (layer, g)) }.toMap

  /** The run's key order: a seeded shuffle of the fixed list. */
  def order(seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(Keys)

  private def data(ctx: Ctx) = ctx.inputs.resolve("tables").toString

  private def reset(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Set-up warms the execution path, then runs every key once,
    * untimed, writing its result for the DuckDB oracle (with the oracle
    * SQL alongside). That pass is also the warm-up: the timed passes see
    * warm JIT and caches, as Bench's median of repeated sweeps does.
    */
  override def setup(ctx: Ctx): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val missing = Keys.filterNot(k => groupOf.contains(k) && oracle.contains(k))
    require(missing.isEmpty, s"keys without a group or oracle: $missing")
    ctx.spark.range(1 << 20).selectExpr("sum(id * 2)").collect()
    for (k <- Keys) {
      reset(ctx)
      // part files keep a sorted result's order (DuckDB reads them in
      // name order), so no single-task coalesce is needed
      scala.util.Try(groupOf(k)._2.queries(k)(ctx.spark, data(ctx))
        .write.mode("overwrite")
        .parquet(ctx.out.resolve("checks").resolve(s"qk/$k").toString))
    }
    Files.writeString(ctx.out.resolve("oracle_sql.json"),
      Json.enc(Keys.map(k => k -> oracle(k)).toMap))
  }

  /** Each op's own output is checked too: run.py compares the row
    * count it materialized with the oracle's.
    */
  def runPass(ctx: Ctx, p: Int): Unit =
    for (k <- order(ctx.seed)) {
      reset(ctx)
      val (layer, g) = groupOf(k)
      ctx.rec.op(p, layer, g.getClass.getSimpleName.stripSuffix("$"), k) { attrs =>
        val qe = g.queries(k)(ctx.spark, data(ctx)).queryExecution
        attrs("rows") = qe.toRdd.count()
        Listeners.recordPhases("toRdd", qe, ok = true)
      }
      ctx.checks(s"qk/$k") = ctx.checks.getOrElse(s"qk/$k", Nil) :+ ctx.rec.lastOp
    }
}
