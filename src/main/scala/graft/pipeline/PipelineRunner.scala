package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{JBool, JDecimal, JInt, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Leveled logger mirroring the reference's threshold filter
  * (`dbtoperator.py:16-22,93-119`).
  */
object LogLevel extends Enumeration {
  val DEBUG, INFO, WARNING, ERROR, SILENT = Value
}

final class PipelineLogger(threshold: LogLevel.Value = LogLevel.WARNING) {
  // appended to from pool threads (`run --threads N`, concurrent tests)
  private val buf = mutable.ArrayBuffer.empty[(LogLevel.Value, String)]
  /** A snapshot of the lines logged so far. */
  def lines: Seq[(LogLevel.Value, String)] = buf.synchronized(buf.toVector)
  def log(level: LogLevel.Value, msg: String): Unit =
    if (level >= threshold && threshold != LogLevel.SILENT) {
      buf.synchronized(buf += ((level, msg)))
      if (level >= LogLevel.WARNING) System.err.println(s"[$level] $msg")
    }
}

/** Result envelope per command — mirrors the reference's dict
  * {success, return_code, stdout, stderr, command}
  * (`dbtoperator.py:379-385`).
  */
final case class CommandResult(
    command: String,
    success: Boolean,
    modelsRun: Seq[String],
    rowCounts: Map[String, Long],
    error: Option[String])

final case class RunResult(success: Boolean, results: Seq[CommandResult])

/** Per-node outcome of a `run`/`build` command — persisted to
  * `<warehouse>/run_results.json` (dbt's run_results artifact) and
  * consumed by the `retry` command.
  */
sealed trait NodeStatus { def label: String }
object NodeStatus {
  final case class Success(rows: Long) extends NodeStatus {
    def label = "success"
  }
  final case class Failed(msg: String) extends NodeStatus {
    def label = "failed"
  }
  case object Skipped extends NodeStatus { def label = "skipped" }
}

/** Executes a PipelineSpec: topo-sorted model DAG with `--select`-style
  * filtering, fail-fast command loop, materializations, and generic
  * tests — the engine-native replacement for the reference's
  * venv+subprocess dbt invocation (`dbtoperator.py:314-452`).
  *
  * Lifecycle mirrors the reference: `initialize` (idempotent,
  * `dbtoperator.py:128-130`), ordered `run(commands)` stopping on
  * first failure (`dbtoperator.py:426-434`), `cleanup` always invoked
  * (`dbtoperator.py:446-451`), loan-pattern `withRunner` standing in
  * for __enter__/__exit__ (`dbtoperator.py:454-461`).
  *
  * Scale note: materialized tables are parquet directories under the
  * warehouse; a `table` rebuild is write-audit-publish (write a fresh
  * data batch, then atomically link a self-contained manifest), so
  * readers never see partial output — the same pattern works on
  * object storage with a conditional put instead of a hard link.
  */
/** @param autoCompactMembers opt-in compaction policy (0 = off): when
  *   an append-style commit (streaming append/merge, incremental
  *   append, snapshot) leaves a table with more manifest members than
  *   this AND a compaction would actually reduce the count, the table
  *   is compacted under its lock right after the commit. Size it
  *   above the table's partition-leaf count — compaction can never go
  *   below one member per partition, and a threshold under that would
  *   trigger a useless O(table) rewrite per run (the no-op guard
  *   skips those). Explicit `compact` / `compact --select` remains
  *   the scheduled-OPTIMIZE path.
  */
final class PipelineRunner(spark: SparkSession, spec0: PipelineSpec,
    warehouse: String, logger: PipelineLogger = new PipelineLogger(),
    autoCompactMembers: Int = 0) {

  // canonical relation identity: each model's `schema` config folds
  // into its node name (`sales.orders`) — SURVEY §1.2's
  // database.schema.identifier with the database level collapsed onto
  // the warehouse root
  private val spec = spec0.normalized

  private val byName = spec.models.map(m => m.name -> m).toMap

  // relation names whose JVM-global SQL routes (MERGE / DML /
  // time-travel) THIS runner registered — cleanup() retires exactly
  // these, owner-scoped, so a closed runner's routes can never serve
  // stale data while a newer same-named registration (another runner,
  // another warehouse) survives untouched
  private val routedNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // bare-name → qualified-name resolution for refs that omit the
  // schema: allowed exactly when unambiguous (dbt's unique-model-name
  // convention); two schemas holding the same bare name must be
  // ref'd qualified
  private val bareAlias: Map[String, Seq[String]] = spec.models
    .map(_.name).filter(_.contains('.'))
    .groupBy(_.split('.').last)

  /** dbt model versions: symbolic name → latest version INSTANCE
    * (`dim` → `dim_v2`). A bare `ref('dim')` resolves through this;
    * `ref('dim', v=1)` already textualized to `dim_v1` at parse.
    */
  private val versionAlias: Map[String, String] =
    spec.modelVersions.map { case (n, latest) => n -> s"${n}_v$latest" }

  spec.modelVersions.foreach { case (n, latest) =>
    require(byName.contains(s"${n}_v$latest"),
      s"modelVersions: latest version ${n}_v$latest is not a model")
    require(!byName.contains(n),
      s"modelVersions: '$n' names both a versioned family and a model")
  }

  private def resolveDep(dep: String): String = {
    val v = versionAlias.getOrElse(dep, dep)
    if (byName.contains(v) || v.contains('.')) v
    else bareAlias.get(v) match {
      case Some(Seq(qualified)) => qualified
      case Some(many) => sys.error(
        s"ref('$v') is ambiguous across schemas: ${many.sorted.mkString(", ")}" +
          " — use the qualified name")
      case None => v // seed / snapshot / source / state relation
    }
  }

  // dbt's version-deprecation warning: a ref PINNED below the latest
  // version still works but is called out, once, at parse time
  spec.models.foreach { m =>
    m.deps.foreach { dep =>
      spec.modelVersions.foreach { case (n, latest) =>
        if (dep.startsWith(s"${n}_v")) {
          val v = dep.stripPrefix(s"${n}_v")
          if (v.forall(_.isDigit) && v.nonEmpty && v.toInt < latest)
            logger.log(LogLevel.WARNING,
              s"model ${m.name} refs deprecated version $dep " +
                s"(latest is ${n}_v$latest)")
        }
      }
    }
  }

  // dbt model governance (group/access): validated at CONSTRUCTION —
  // dbt's parse-time DbtReferenceError, so an illegal ref fails before
  // any command executes. `private` models may only be ref'd within
  // their own group; `protected`/`public` are unrestricted in a
  // single-package engine.
  spec.models.foreach { m =>
    require(Seq("public", "protected", "private").contains(m.access),
      s"model ${m.name}: unknown access '${m.access}'")
    require(Seq("graft", "delta", "iceberg").contains(m.fileFormat),
      s"model ${m.name}: unknown file_format '${m.fileFormat}' " +
        "(graft|delta|iceberg)")
    m.deps.map(resolveDep).flatMap(byName.get)
      .filter(_.access == "private").foreach { d =>
      require(d.group.isDefined && m.group == d.group,
        s"model ${m.name} (group ${m.group.getOrElse("<none>")}) cannot " +
          s"ref private model ${d.name} " +
          s"(group ${d.group.getOrElse("<none>")}) — dbt access rules")
    }
  }

  // selectors.yml hygiene — dbt rejects both at parse time
  require(spec.selectors.map(_.name).distinct.size == spec.selectors.size,
    s"duplicate selector names: ${spec.selectors.map(_.name)
      .groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
      .mkString(", ")}")
  require(spec.selectors.count(_.default) <= 1,
    "at most one selector may set default: true " +
      s"(${spec.selectors.filter(_.default).map(_.name).mkString(", ")})")

  // dbt semantic-layer hygiene: parse-time validation, like dbt's
  // (unknown model/measure/metric references, bad enums — all loud);
  // model refs resolve like model deps (schema-qualified / versioned)
  SemanticLayer.validate(spec,
    byName.keySet ++ spec.seeds.map(_.name) ++ spec.snapshots.map(_.name),
    resolveDep)

  private var initialized = false
  // concurrent: models with no dependency path between them may build
  // in parallel under `run --threads N`
  private val ephemeralCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Idempotent init (reference guard `dbtoperator.py:128-130`). */
  def initialize(): Unit = if (!initialized) {
    Files.createDirectories(Paths.get(warehouse))
    spec.sources.foreach { case (name, path) =>
      spark.read.parquet(path)
        .createOrReplaceTempView(sessionViewName(name))
    }
    // tables already in the warehouse (a fresh session over an
    // existing store) become queryable by name immediately — but a
    // DECLARED source name always wins over a same-named leftover
    // table (registering the table after the source would silently
    // shadow the source for every model and gateway query). Schema
    // namespaces add ONE directory level: a non-table root dir is a
    // schema whose children are `schema.table` relations.
    val rootDirs = listDir(Paths.get(warehouse))
      .filter(Files.isDirectory(_)).sortBy(_.getFileName.toString)
    val leftovers = rootDirs.flatMap { d =>
      val bare = d.getFileName.toString
      if (tableExists(bare)) Seq(bare)
      else listDir(d).filter(Files.isDirectory(_))
        .map(c => s"$bare.${c.getFileName.toString}").sorted
        .filter(tableExists)
    }
    leftovers.filterNot(spec.sources.contains).foreach(registerSessionView)
    initialized = true
    logger.log(LogLevel.INFO, s"initialized warehouse=$warehouse")
  }

  /** Kahn topo-sort with deterministic (name) tie order; cycles fail.
    * Edges come from modelDeps (version-RESOLVED: a bare ref('dim') to
    * a versioned family is an edge to dim_v<latest>), matching the
    * resolved instance names that selection produces — raw m.deps
    * would drop those edges and order consumers before their dep.
    */
  def topoOrder(names: Set[String]): Seq[String] = {
    val deps = modelDeps
    val indeg = mutable.Map(names.toSeq.map(n =>
      n -> deps(n).count(names)): _*)
    val out = mutable.Buffer.empty[String]
    val ready = mutable.SortedSet.empty[String] ++ indeg.filter(_._2 == 0).keys
    while (ready.nonEmpty) {
      val n = ready.head; ready -= n; out += n
      names.foreach { m =>
        if (deps(m).contains(n) && indeg(m) > 0) {
          indeg(m) -= 1; if (indeg(m) == 0) ready += m
        }
      }
    }
    require(out.size == names.size,
      s"cycle among models: ${names -- out.toSet}")
    out.toSeq
  }

  /** dbt node-selection surface (the reference forwards arbitrary dbt
    * select argv, `dbtoperator.py:35,491`): each `--select`/`--exclude`
    * VALUE is an intersection of comma-separated atoms; multiple
    * values union (dbt semantics: space = union, comma = intersection,
    * per dbt's set-operator docs); `--exclude` subtracts its selection
    * afterwards. Atom forms: `m` (exact), `m+`/`+m`/`+m+` (graph
    * closures), `tag:t` (tagged resources — composes with graph ops,
    * e.g. `+tag:nightly`), `@m` (m, its descendants, and ALL ancestors
    * of those descendants — dbt's build-everything-needed operator),
    * `result:<status>` (nodes whose last recorded run_results status
    * matches — `error`/`fail` alias our `failed`), `state:modified` /
    * `state:new` (checksum diff vs the manifest.json in the command's
    * `--state <dir>`, dbt's CI slim-run grammar — `modified` includes
    * new nodes, like dbt's).
    */
  private[pipeline] final case class Selection(
      include: Seq[String], exclude: Seq[String],
      state: Option[String] = None,
      // `--selector <name>`: resolve through the spec's selectors.yml
      // definitions (mutually exclusive with --select/--exclude)
      selector: Option[String] = None)

  private def closure(seed: Set[String],
      step: Set[String] => Set[String]): Set[String] = {
    var res = seed
    var grew = true
    while (grew) {
      val add = step(res).diff(res)
      grew = add.nonEmpty; res ++= add
    }
    res
  }

  // deps may also name sources (SQL-text {{ source(...) }}); only
  // graph nodes join the selection
  private def ancestorsOf(deps: Map[String, Seq[String]],
      seed: Set[String]): Set[String] =
    closure(seed, res =>
      res.flatMap(n => deps.getOrElse(n, Nil).filter(deps.contains)))

  private def descendantsOf(deps: Map[String, Seq[String]],
      seed: Set[String]): Set[String] =
    closure(seed, res =>
      deps.collect { case (n, ds) if ds.exists(res) => n }.toSet)

  /** One selection atom → node set. `lenient` resolves an unknown bare
    * name to itself (the `test` command accepts table names outside
    * the resource graph, e.g. a source with attached tests).
    */
  private def evalAtom(deps: Map[String, Seq[String]],
      tags: Map[String, Set[String]], atom: String,
      lenient: Boolean, state: Option[String]): Set[String] = {
    val plusPre = atom.startsWith("+")
    val plusPost = atom.endsWith("+")
    val core0 = atom.stripPrefix("+").stripSuffix("+")
    val isAt = core0.startsWith("@")
    val core = core0.stripPrefix("@")
    val base: Set[String] =
      if (core.startsWith("tag:")) {
        val t = core.stripPrefix("tag:")
        deps.keySet.filter(n => tags.getOrElse(n, Set.empty).contains(t))
      } else if (core.startsWith("result:")) {
        // nodes whose status in the LAST recorded node-executing
        // command matches; graph ops compose (`result:error+` = the
        // failures and everything downstream). Tests recorded in the
        // artifact are not graph nodes and don't join the closure.
        val want = core.stripPrefix("result:") match {
          case "error" | "fail" => "failed"
          case s                => s
        }
        val rows = loadRunResults().getOrElse(sys.error(
          s"selector $core: no run_results.json artifact in warehouse"))._2
        rows.collect { case (_, n, st) if st == want => n }
          .toSet.filter(deps.contains)
      } else if (core == "state:modified" || core == "state:new" ||
          core == "state:unmodified") {
        val dir = state.getOrElse(sys.error(
          s"selector $core requires --state <dir> with a prior manifest.json"))
        val (oldScheme, old) = loadManifestChecksums(Paths.get(dir))
        // a manifest written under a DIFFERENT checksum scheme is
        // incomparable: every value differs by construction, so diffing
        // raw strings would silently select everything. Keep the safe
        // outcome (existing nodes count as modified — a full rebuild
        // can only over-build, never miss a change) but say why, once.
        val incomparable = oldScheme != ChecksumScheme
        if (incomparable)
          logger.log(LogLevel.WARNING,
            s"$core: state manifest uses checksum scheme $oldScheme, " +
              s"this build writes $ChecksumScheme — checksums are " +
              "incomparable, so all previously-known nodes count as " +
              "modified (one-time full selection until the state dir " +
              "is refreshed by this build)")
        deps.keySet.filter { n =>
          if (core == "state:new") !old.contains(n)
          // dbt 1.9 state:unmodified — the exclusion complement for
          // `--exclude state:unmodified` CI runs
          else if (core == "state:unmodified")
            !incomparable && old.get(n).contains(checksumOf(n))
          else incomparable || !old.get(n).contains(checksumOf(n))
        }
      } else if (core.startsWith("config.materialized:")) {
        // dbt config selection method: models whose materialization
        // name matches (all incremental strategies answer to
        // `incremental`, like dbt's)
        val want = core.stripPrefix("config.materialized:")
        def matName(m: Materialization): String = m match {
          case Materialization.View      => "view"
          case Materialization.Table     => "table"
          case Materialization.Ephemeral => "ephemeral"
          case _                         => "incremental"
        }
        deps.keySet.filter(n =>
          byName.get(n).exists(m => matName(m.materialization) == want))
      } else if (core.startsWith("group:")) {
        // dbt group selection method: models declared in the group
        val g = core.stripPrefix("group:")
        deps.keySet.filter(n => byName.get(n).exists(_.group.contains(g)))
      } else if (versionAlias.contains(core)) {
        // dbt versioned models: selecting the bare family name
        // selects EVERY version instance (dbt's documented behavior)
        deps.keySet.filter(n => n.startsWith(s"${core}_v") &&
          n.stripPrefix(s"${core}_v").forall(_.isDigit))
      } else if (core.startsWith("source_status:")) {
        // dbt's fresher-sources CI grammar: `-s source_status:fresher+
        // --state <dir>` selects sources whose max_loaded_at in the
        // warehouse's sources.json advanced past the --state dir's
        // copy (a new source, or null→value, counts as fresher), then
        // the graph ops expand as usual. A freshness target that is
        // not itself a graph node can't execute — its DIRECT readers
        // stand in for it under `+`/`@` (they are its descendants).
        val mode = core.stripPrefix("source_status:")
        require(mode == "fresher",
          s"selector source_status: supports only 'fresher', got $mode")
        val cur = loadSourcesJson(Paths.get(warehouse)).getOrElse(
          sys.error("selector source_status:fresher: no sources.json " +
            "in warehouse — run `source freshness` first"))
        val dir = state.getOrElse(sys.error(
          "selector source_status: requires --state <dir> with a " +
            "prior sources.json"))
        val prev = loadSourcesJson(Paths.get(dir)).getOrElse(
          sys.error(s"--state: no sources.json under $dir"))
        val fresher = cur.collect {
          case (s, Some(t)) if prev.get(s).flatten.forall(_ < t) => s
        }.toSet
        fresher.filter(deps.contains) ++
          (if (plusPost || isAt)
            fresher.filterNot(deps.contains)
              .flatMap(directReadersOf).filter(deps.contains)
          else Set.empty[String])
      } else if (core.startsWith("exposure:")) {
        // dbt's exposure method prefix — same node the bare name hits
        val e = core.stripPrefix("exposure:")
        if (deps.contains(e) && resourceKind(e) == "exposure") Set(e)
        else sys.error(s"unknown exposure: $e")
      } else if (core.startsWith("semantic_model:") ||
          core.startsWith("metric:")) {
        // dbt's semantic-layer method prefixes (dbt ≥1.6 selection)
        val want = core.takeWhile(_ != ':')
        val e = core.drop(want.length + 1)
        if (deps.contains(e) && resourceKind(e) == want) Set(e)
        else sys.error(s"unknown $want: $e")
      } else if (deps.contains(core)) Set(core)
      else if (lenient) return Set(core)
      else sys.error(s"unknown resource: $core")
    if (isAt) {
      val down = descendantsOf(deps, base)
      down ++ ancestorsOf(deps, down)
    } else {
      var res = base
      if (plusPre) res ++= ancestorsOf(deps, base)
      if (plusPost) res ++= descendantsOf(deps, base)
      res
    }
  }

  /** Resolve `--selector <name>` into the plain include/exclude form:
    * a named selector may not combine with --select/--exclude (dbt
    * errors identically). Called at the CLI flag boundary
    * (parseSelFlags) — BEFORE commands branch on "no selection", so
    * the resolved atoms behave exactly like typed --select flags;
    * the default selector applies there too, and ONLY there (internal
    * full-graph enumerations must never inherit it).
    */
  private def resolveSelector(sel: Selection): Selection =
    sel.selector match {
      case Some(name) =>
        require(sel.include.isEmpty && sel.exclude.isEmpty,
          "--selector cannot be combined with --select/--exclude")
        val d = spec.selectors.find(_.name == name).getOrElse(sys.error(
          s"unknown selector '$name' (defined: " +
            s"${spec.selectors.map(_.name).mkString(", ")})"))
        Selection(d.include, d.exclude, sel.state)
      case None => sel
    }

  private def evalSelection(deps: Map[String, Seq[String]],
      tags: Map[String, Set[String]], sel0: Selection,
      lenient: Boolean = false): Set[String] = {
    val sel = resolveSelector(sel0)
    def union(specs: Seq[String]): Set[String] =
      specs.flatMap { s =>
        s.split(',').filter(_.nonEmpty)
          .map(evalAtom(deps, tags, _, lenient, sel.state))
          .reduceOption(_ intersect _).getOrElse(Set.empty)
      }.toSet
    val included =
      if (sel.include.isEmpty) deps.keySet else union(sel.include)
    included -- union(sel.exclude)
  }

  private def modelDeps: Map[String, Seq[String]] =
    spec.models.map(m =>
      m.name -> m.deps.map(resolveDep).filter(byName.contains)).toMap

  private def modelTags: Map[String, Set[String]] =
    spec.models.map(m => m.name -> m.tags.toSet).toMap

  /** Model-graph selection (the `run` command's node set). */
  private[pipeline] def select(sel: Selection): Set[String] =
    evalSelection(modelDeps, modelTags, sel)

  /** Single-selector convenience (kept for tests / embedders). */
  def select(selector: Option[String]): Set[String] =
    select(Selection(selector.toSeq, Nil))

  /** Unified resource graph over seeds (no deps) + models (`deps`) +
    * snapshots (their `source`) — the node set `dbt build` / `dbt ls`
    * walk. Edges only join nodes that are themselves resources
    * (sources stay temp views, not nodes).
    */
  private def resourceDeps: Map[String, Seq[String]] = {
    val nodes = (spec.seeds.map(_.name) ++ spec.models.map(_.name) ++
      spec.snapshots.map(_.name)).toSet
    spec.seeds.map(_.name -> Seq.empty[String]).toMap ++
      spec.models.map(m =>
        m.name -> m.deps.map(resolveDep).filter(nodes)).toMap ++
      spec.snapshots.map(sn =>
        sn.name -> Seq(sn.source).filter(nodes)).toMap ++
      // exposures: leaf consumer nodes — their refs are real edges,
      // so `+exposure_name` selects exactly what the consumer reads
      spec.exposures.map(e => e.name -> e.refs.filter(nodes)).toMap ++
      // semantic layer: model → semantic model → metric lineage
      // (dbt's manifest shape); `+metric_name` pulls the whole chain
      spec.semanticModels.map(sm =>
        sm.name -> Seq(resolveDep(sm.modelRef)).filter(nodes)).toMap ++
      spec.metrics.map(mt => mt.name -> metricNodeDeps(mt)).toMap
  }

  /** A metric's graph parents: its semantic model(s) (derived
    * metrics: their input metrics), per dbt's manifest lineage.
    */
  private def metricNodeDeps(mt: MetricDef): Seq[String] = {
    def smOfMeasure(meas: String): Seq[String] =
      spec.semanticModels.filter(_.measures.exists(_.name == meas))
        .map(_.name)
    (mt.metricType match {
      case "derived" => mt.inputMetrics
      case "ratio" => (mt.numerator.toSeq ++ mt.denominator.toSeq)
        .flatMap(smOfMeasure)
      case _ => mt.measure.toSeq.flatMap(smOfMeasure)
    }).distinct
  }

  /** Executable nodes that read a non-node source directly: models
    * whose declared deps name it, snapshots over it. (Sources stay
    * temp views, not graph nodes — see [[resourceDeps]].)
    */
  private def directReadersOf(src: String): Set[String] =
    (spec.models.filter(_.deps.map(resolveDep).contains(src))
      .map(_.name) ++
      spec.snapshots.filter(_.source == src).map(_.name)).toSet

  private def resourceKind(name: String): String =
    if (byName.contains(name)) "model"
    else if (spec.seeds.exists(_.name == name)) "seed"
    else if (spec.snapshots.exists(_.name == name)) "snapshot"
    else if (spec.exposures.exists(_.name == name)) "exposure"
    else if (spec.semanticModels.exists(_.name == name)) "semantic_model"
    else if (spec.metrics.exists(_.name == name)) "metric"
    else "source"

  private def resourceTags: Map[String, Set[String]] =
    modelTags ++
      spec.seeds.map(s => s.name -> s.tags.toSet) ++
      spec.snapshots.map(sn => sn.name -> sn.tags.toSet)

  /** Resource-graph selection (the `build` / `ls` / `test` node set) —
    * same atom grammar as `select`, over seeds + models + snapshots.
    */
  private def selectIn(deps: Map[String, Seq[String]],
      sel: Selection, lenient: Boolean = false): Set[String] =
    evalSelection(deps, resourceTags, sel, lenient)

  private def topoOrderIn(deps: Map[String, Seq[String]],
      names: Set[String]): Seq[String] = {
    val indeg = mutable.Map(names.toSeq.map(n =>
      n -> deps(n).count(names)): _*)
    val out = mutable.Buffer.empty[String]
    val ready = mutable.SortedSet.empty[String] ++ indeg.filter(_._2 == 0).keys
    while (ready.nonEmpty) {
      val n = ready.head; ready -= n; out += n
      names.foreach { m =>
        if (deps(m).contains(n) && indeg(m) > 0) {
          indeg(m) -= 1; if (indeg(m) == 0) ready += m
        }
      }
    }
    require(out.size == names.size,
      s"cycle among resources: ${names -- out.toSet}")
    out.toSeq
  }

  /** A relation's storage path: `schema.identifier` maps to a
    * warehouse SUBDIR (`<warehouse>/<schema>/<identifier>`), bare
    * names sit at the root — dbt's multi-schema projects
    * (`generate_schema_name`) land side by side without collisions.
    */
  def tablePath(name: String): String =
    s"$warehouse/${name.replace('.', '/')}"

  /** The session-catalog view name for a relation: bare names
    * register as themselves; `schema.identifier` (no dots allowed in
    * view names) registers mangled, and [[graft.gateway.GlobalViewFallback]]
    * resolves the QUALIFIED name to it in SQL — including per-
    * connection Thrift sessions.
    */
  private[graft] def sessionViewName(name: String): String =
    if (name.contains('.')) "graft_ns__" + name.replace(".", "__")
    else name

  /** Storage layout (write-audit-publish, manifest-based): immutable
    * data batches live under `<table>/data/batch_<n>`; a committed
    * generation is a SELF-CONTAINED manifest file `<table>/gen_<n>`:
    * header lines (`#schema:<json>`, `#sidecar.<key>:<encoded>`)
    * followed by one member path per line — a whole batch dir, or a
    * single partition dir inside a batch for partition-scoped
    * replacement. The LIVE generation is simply the highest id
    * present: a generation file appears atomically with its full
    * content (hard-link of a fully-written temp in `commitGen`), so
    * "the commit is the lock" — two processes racing the same id
    * lose/win on the O_EXCL link and the loser retries against the
    * freshly-read state (optimistic concurrency; see commitGen). No
    * mutable pointer file exists, so there is no pointer flip to
    * regress. Readers resolve one manifest and only ever see
    * fully-written batches — a crash between batch write and manifest
    * link leaves the previous generation live. Reads apply the stored
    * schema, so partition-column types survive round-trips (inference
    * would silently turn a "01" string partition into 1). An append
    * commits O(delta) bytes and an insert_overwrite commits O(touched
    * partitions); on object storage the atomic link maps to a
    * conditional put (If-None-Match), the same primitive Delta/
    * Iceberg commit with.
    */
  private def currentGenName(name: String): Option[String] =
    generations(name).lastOption

  private def genLines(name: String, gen: String): Seq[String] =
    Files.readString(Paths.get(tablePath(name), gen)).linesIterator
      .filter(_.nonEmpty).toSeq

  private def genManifest(name: String, gen: String): Seq[String] =
    genLines(name, gen).filterNot(_.startsWith("#"))

  private def genHeader(name: String, gen: String, key: String)
      : Option[String] =
    genLines(name, gen).collectFirst {
      case l if l.startsWith(s"#$key:") => l.stripPrefix(s"#$key:")
    }

  // sidecar values may be multi-line; the header line carries them
  // percent-encoded (only %, \n, \r — enough to stay one line)
  private def encodeSidecar(s: String): String =
    s.replace("%", "%25").replace("\n", "%0A").replace("\r", "%0D")
  private def decodeSidecar(s: String): String =
    s.replace("%0D", "\r").replace("%0A", "\n").replace("%25", "%")

  /** Every committed generation carries its schema header; a manifest
    * without one was not written by `publishManifest`.
    */
  private def genSchema(name: String, gen: String): StructType =
    genHeader(name, gen, "schema").map(decodeSidecar)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(sys.error(s"table $name @ $gen: manifest has no " +
        "#schema header — not a graft warehouse generation; drop the " +
        "table and rebuild it"))

  private def currentManifest(name: String): Option[Seq[String]] =
    currentGenName(name).map(genManifest(name, _))

  /** All sidecar key→value pairs of the live generation. Sidecars are
    * TABLE-level metadata: publishManifest carries every key forward
    * into the next generation unless the writer overrides it.
    */
  private def currentSidecars(name: String): Map[String, String] =
    currentGenName(name).map { gen =>
      genLines(name, gen).collect {
        case l if l.startsWith("#sidecar.") =>
          val body = l.stripPrefix("#sidecar.")
          val i = body.indexOf(':')
          body.take(i) -> decodeSidecar(body.drop(i + 1))
      }.toMap
    }.getOrElse(Map.empty)

  /** Read a table-level sidecar value (e.g. a format-version stamp an
    * operator persisted next to its table). None when the table or the
    * key does not exist.
    */
  def tableSidecar(name: String, key: String): Option[String] =
    genSidecar(name, key)

  private def currentSchema(name: String): Option[StructType] =
    currentGenName(name).map(genSchema(name, _))

  /** Committed generation names, oldest → newest. Superseded
    * generations remain readable (time travel) until `vacuum`.
    */
  def generations(name: String): Seq[String] = {
    val root = Paths.get(tablePath(name))
    if (!Files.exists(root)) Nil
    else listDir(root).map(_.getFileName.toString)
      .filter(f => f.startsWith("gen_") && !f.contains("."))
      .sortBy(_.stripPrefix("gen_").toLong)
  }

  /** Read a subset of manifest members: one read per batch, basePath =
    * that batch's root, so partition dirs sit directly beneath their
    * basePath (a single shared basePath across batches trips Spark's
    * conflicting-directory-structures check); the stored schema types
    * the partition columns on every branch, keeping the union aligned.
    */
  private def readMembers(name: String, members: Seq[String],
      schema: StructType): DataFrame = {
    val root = tablePath(name)
    members.groupBy(m => m.split('/').take(2).mkString("/"))
      .toSeq.sortBy(_._1)
      .map { case (batch, ms) =>
        spark.read.option("basePath", s"$root/$batch").schema(schema)
          .parquet(ms.map(m => s"$root/$m"): _*)
      }
      .reduce(_ unionByName _)
  }

  /** A `file_format=delta` model's table: a real `_delta_log` under
    * the warehouse path (readable by ANY Delta reader, not just the
    * runner).
    */
  private def isDeltaTable(name: String): Boolean =
    Files.isDirectory(Paths.get(tablePath(name), "_delta_log"))

  /** A `file_format=iceberg` model's table: Hadoop-catalog Iceberg
    * metadata under the warehouse path.
    */
  private def isIcebergTable(name: String): Boolean =
    Files.isRegularFile(
      Paths.get(tablePath(name), "metadata", "version-hint.text"))

  def readTable(name: String): DataFrame =
    if (isDeltaTable(name))
      graft.sources.DeltaRead.readDeltaTable(spark, tablePath(name))
    else if (isIcebergTable(name))
      graft.sources.IcebergRead.readIcebergTable(spark, tablePath(name))
    else currentGenName(name) match {
      case Some(gen) => readTableAt(name, gen)
      case None => sys.error(s"table $name does not exist")
    }

  /** Evaluate semantic-layer metrics grouped by dimension/entity
    * names — MetricFlow's query surface, compiled natively (see
    * [[SemanticLayer.query]]). The metrics' underlying model must be
    * materialized (run it first); all requested metrics must live on
    * one semantic model.
    */
  def semanticQuery(metricNames: Seq[String],
      groupBy: Seq[String] = Nil): DataFrame =
    SemanticLayer.query(spec, n => readTable(resolveDep(n)),
      metricNames, groupBy)

  /** Read the table as of a specific committed generation — time
    * travel over the manifest store (generation files are immutable;
    * superseded ones stay readable until `vacuum`).
    */
  def readTableAt(name: String, gen: String): DataFrame = {
    require(Files.exists(Paths.get(tablePath(name), gen)),
      s"unknown generation $gen for table $name (vacuumed?)")
    val members = genManifest(name, gen)
    val schema = genSchema(name, gen)
    val df0 =
      if (members.isEmpty)
        // a partitioned write of zero rows commits no members
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readMembers(name, members, schema)
    // merge-on-read tables reconcile latest-version-wins BEFORE the
    // surface projection (the version column is itself hidden)
    val dfm = reconcileMor(name, gen, df0)
    // storage-layout columns (merge buckets, snapshot open/closed
    // split) are not part of the table surface; and Spark returns
    // PARTITION columns last regardless of the requested schema, so
    // re-select in stored-schema order — the storage layout (e.g.
    // merge partitionBy) must not leak into the column order
    val visible = dfm.columns.toSet
    dfm.select(schema.fieldNames.toSeq
      .filter(f => !hiddenCols.contains(f) && visible(f)).map(col): _*)
  }

  def tableExists(name: String): Boolean =
    isDeltaTable(name) || isIcebergTable(name) ||
      currentGenName(name).isDefined

  /** Hidden storage-layout partition columns, stripped by readTable:
    * key-hash buckets for merge tables, the open/closed split for
    * snapshot tables.
    */
  private val GBucket = "__gbucket"
  private val OpenCol = "__open"
  private val GWindow = "__gwindow"
  private val GVer = "__gver"
  private val GDel = "__gdel"
  private val hiddenCols = Seq(GBucket, OpenCol, GWindow, GVer, GDel)

  /** Merge-on-read sidecar keys: the reconciliation key list and the
    * last version stamp (monotonic per merge).
    */
  private val MorKeys = "mor_keys"
  private val MorVer = "mor_ver"

  /** Latest-version-wins reconciliation for merge-on-read tables: one
    * row per key, the row from the highest `__gver` member (base /
    * compacted members may lack the column — schema-on-read NULL
    * reads as version 0). A no-op on tables without the sidecar.
    */
  private def reconcileMor(name: String, gen: String,
      df: DataFrame): DataFrame =
    genHeader(name, gen, s"sidecar.$MorKeys").map(decodeSidecar) match {
      // the GVer-column check is defense in depth: a generation whose
      // schema has no version column (published by a non-MoR
      // materialization) needs no reconciliation even if a stale
      // sidecar survived — never fail the read over bookkeeping
      case Some(ks) if ks.nonEmpty && df.columns.contains(GVer) =>
        val keys = ks.split(',').toSeq
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(coalesce(col(GVer), lit(0L)).desc)
        val latest = df.withColumn("__graft_rn", row_number().over(w))
          .filter(col("__graft_rn") === 1).drop("__graft_rn")
        // a winning CDC tombstone hides its key (members written
        // before delete support lack the marker — read as kept)
        if (latest.columns.contains(GDel))
          latest.filter(!coalesce(col(GDel), lit(false)))
        else latest
      case _ => df
    }

  /** Apply a model's `on_schema_change` policy (dbt 1.9 config, see
    * [[OnSchemaChange]]) when an incremental batch's columns differ
    * from the stored table's. Returns (schema to publish, batch to
    * write) — only `Ignore` rewrites the batch (projection onto the
    * stored schema); the other modes rely on parquet schema-on-read:
    * members read under the published schema surface NULL for fields
    * they lack and project out fields it dropped. A TYPE change on a
    * shared column fails in every mode — the already-written members
    * would be mis-read under the re-typed schema.
    */
  private def applySchemaChange(name: String, mode: OnSchemaChange,
      stored: StructType, df: DataFrame): (StructType, DataFrame) = {
    val incoming = df.schema
    val storedByName = stored.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      storedByName.get(f.name).foreach { s =>
        require(s.dataType == f.dataType,
          s"on_schema_change on $name: column ${f.name} changed type " +
            s"${s.dataType.sql} -> ${f.dataType.sql} (full-refresh to " +
            "change a column's type)")
      }
    }
    val added = incoming.fields.filterNot(f => storedByName.contains(f.name))
    val removed =
      stored.fields.filterNot(f => incoming.fieldNames.contains(f.name))
    mode match {
      case OnSchemaChange.Fail =>
        require(added.isEmpty && removed.isEmpty,
          s"on_schema_change=fail on $name: batch schema differs " +
            s"(added: ${added.map(_.name).mkString(",")}; removed: " +
            s"${removed.map(_.name).mkString(",")})")
        (stored, df)
      case OnSchemaChange.Ignore =>
        (stored, df.select(stored.fields.toSeq.map { f =>
          if (incoming.fieldNames.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*))
      case OnSchemaChange.AppendNewColumns =>
        require(removed.isEmpty,
          s"on_schema_change=append_new_columns on $name: batch is " +
            s"missing stored columns ${removed.map(_.name).mkString(",")} " +
            "(use sync_all_columns to drop them, or ignore to null-fill)")
        (StructType(stored.fields ++ added), df)
      case OnSchemaChange.SyncAllColumns =>
        val dropped = removed.map(_.name).toSet
        (StructType(stored.fields.filterNot(f => dropped(f.name)) ++ added),
          df)
    }
  }

  /** Schema evolution for the mode-less write paths (streaming
    * `appendBatch`/`mergeBatch` sinks and the merge write path):
    * the strict default — new columns append to the published schema
    * (already-written members surface NULL for them via parquet
    * schema-on-read); a removed or re-typed column fails loudly,
    * since committed members would otherwise be silently null-filled
    * or mis-read. Equivalent to `applySchemaChange` with
    * [[OnSchemaChange.AppendNewColumns]], schema-only.
    */
  private def evolveSchema(name: String, stored: StructType,
      incoming: StructType): StructType = {
    val storedByName = stored.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      storedByName.get(f.name).foreach { s =>
        require(s.dataType == f.dataType,
          s"on_schema_change on $name: column ${f.name} changed type " +
            s"${s.dataType.sql} -> ${f.dataType.sql} (full-refresh to " +
            "change a column's type)")
      }
    }
    val removed =
      stored.fields.filterNot(f => incoming.fieldNames.contains(f.name))
    require(removed.isEmpty,
      s"on_schema_change on $name: batch is missing stored columns " +
        s"${removed.map(_.name).mkString(",")} (full-refresh to drop " +
        "columns)")
    StructType(stored.fields ++
      incoming.fields.filterNot(f => storedByName.contains(f.name)))
  }

  private val batchCounter = new java.util.concurrent.atomic.AtomicLong()
  // collision-resistant across processes: each scheduled run is a new
  // JVM, and a nanoTime-derived name (per-boot origin) could reuse an
  // existing live batch dir and overwrite it. Epoch millis + a random
  // per-runner nonce + a counter make that practically impossible
  // while keeping names roughly append-ordered.
  private val runnerNonce =
    java.lang.Long.toUnsignedString(
      new java.security.SecureRandom().nextLong(), 36)
  private def nextBatchName(): String =
    s"batch_${System.currentTimeMillis()}_${runnerNonce}_${batchCounter.incrementAndGet()}"

  /** Next generation id: max(existing ids) + 1, computed under the
    * table lock — monotonic across processes (a nanoTime-based id
    * would have a per-boot origin, so after a host restart new
    * generations could sort BEFORE older ones, misordering time
    * travel). Pre-existing nanoTime-era ids stay ordered: max+1 is
    * always newest.
    */
  private def nextGenName(name: String): String = {
    val ids = generations(name).map(_.stripPrefix("gen_").toLong)
    s"gen_${(ids :+ 0L).max + 1}"
  }

  /** Close-safe directory listing. */
  private def listDir(p: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def deleteRec(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(p)
    val all = try s.iterator().asScala.toSeq finally s.close()
    all.reverse.foreach(Files.deleteIfExists(_))
  }

  /** Batches staged by writeBatch but not yet referenced by a
    * committed manifest. Vacuum must skip them: under `run --threads
    * N` (and concurrent `test` audit writes) another node can be
    * between its batch write and its publish, and deleting that batch
    * would commit a generation pointing at missing data.
    */
  private val stagedBatches =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Batches staged by the materialization currently running on this
    * thread. `tracked` drains them when the materialization finishes —
    * whether it published, committed zero members (a no-data
    * partitioned run leaves a _SUCCESS-only dir), or failed — so a
    * failed write doesn't stay "staged" for the runner's lifetime and
    * dodge vacuum's failed-write GC forever.
    */
  private val inFlight =
    new ThreadLocal[mutable.Buffer[(String, String)]]
  private def tracked[T](f: => T): T = {
    val outer = inFlight.get() // runModel can nest via ephemeral builds
    val buf = mutable.Buffer.empty[(String, String)]
    inFlight.set(buf)
    try f finally {
      if (outer == null) inFlight.remove() else inFlight.set(outer)
      // committed members were already removed by publishManifest;
      // this drains failed / zero-member leftovers
      buf.foreach(stagedBatches.remove)
    }
  }

  /** Write one immutable data batch; returns its manifest-relative path. */
  private def writeBatch(name: String, write: String => Unit): String = {
    val rel = s"data/${nextBatchName()}"
    stagedBatches.add((name, rel))
    Option(inFlight.get()).foreach(_ += ((name, rel)))
    Files.createDirectories(Paths.get(tablePath(name), "data"))
    write(Paths.get(tablePath(name), rel).toString)
    rel
  }

  /** Partition-dir members of a batch written with partitionBy(parts):
    * one relative path per leaf `col=value[/col=value...]` dir.
    */
  private def partitionMembers(name: String, batchRel: String,
      depth: Int): Seq[String] = {
    def walk(p: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(p)
      else listDir(p)
        .filter(c => Files.isDirectory(c) && c.getFileName.toString.contains("="))
        .flatMap(walk(_, d - 1))
    val root = Paths.get(tablePath(name))
    walk(root.resolve(batchRel), depth)
      .map(p => root.relativize(p).toString.replace('\\', '/'))
  }

  /** Per-table monitor serializing manifest commits with vacuum: a
    * vacuum that raced a concurrent publish (`run --threads N`) could
    * otherwise delete a batch the about-to-commit generation
    * references. Runner-local — cross-process writers still need an
    * external lock, as with any single-writer table format.
    */
  private val tableLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def lockFor(name: String): Object =
    tableLocks.getOrElseUpdate(name, new Object)

  /** Atomically commit a new generation made of `members`. Schema and
    * `sidecars` ride as header lines INSIDE the manifest, so they
    * commit (or vanish) atomically with it. The streaming-batch
    * bookkeeping (`streamids`) is carried forward from the previous
    * generation when the caller doesn't update it — otherwise a
    * scheduled model rebuild or compaction on a table that also
    * receives stream batches would silently drop the exactly-once
    * ledger and re-accept replayed micro-batches.
    *
    * Cross-process safety is commitGen's: a lost id race re-runs the
    * link with a fresh max+1, so racing writers' generations BOTH
    * survive as committed files. Callers that derive `members` from
    * the previous manifest (append, merge, insert_overwrite) still
    * assume one writer per table for the LIVE view — a concurrent
    * writer's rows land in a surviving but superseded generation,
    * recoverable via `readTableAt`, never silently overwritten.
    */
  private def publishManifest(name: String, members: Seq[String],
      schema: StructType,
      sidecars: Map[String, String] = Map.empty,
      dropSidecars: Set[String] = Set.empty): Unit =
    lockFor(name).synchronized {
      val dir = Paths.get(tablePath(name))
      Files.createDirectories(dir)
      val carried = (currentSidecars(name) -- dropSidecars) ++ sidecars
      val header = s"#schema:${encodeSidecar(schema.json)}" +:
        carried.toSeq.sortBy(_._1).map { case (k, v) =>
          s"#sidecar.$k:${encodeSidecar(v)}"
        }
      commitGen(name, (header ++ members).mkString("\n"))
      // committed members are now manifest-protected from vacuum
      members.map(m => m.split('/').take(2).mkString("/"))
        .foreach(b => stagedBatches.remove((name, b)))
      registerSessionView(name)
    }

  /** Register the table as a session temp view AND a global temp
    * view so SQL sessions can query it by bare name without host
    * plumbing — the dbt-over-Thrift usage shape (`dbtoperator.py:274`).
    * The session view serves the host session directly; the GLOBAL
    * view is what crosses session boundaries — each ThriftGateway
    * connection runs in its own `newSession()` and resolves published
    * names through [[graft.gateway.GlobalViewFallback]], which falls
    * back to the global view when nothing session-local shadows it.
    * Re-registered on every publish so both views always resolve the
    * LIVE generation; a registration failure (e.g. a table name that
    * is not a valid SQL identifier) warns instead of failing the
    * publish. When two runners on different warehouses share one
    * session, same-named tables are last-publish-wins — qualify names
    * upstream if that matters.
    */
  private def registerSessionView(name: String): Unit =
    try {
      val df = readTable(name)
      df.createOrReplaceTempView(sessionViewName(name))
      df.createOrReplaceGlobalTempView(sessionViewName(name))
      registerMergeRoute(name)
      registerTimeTravelRoute(name)
      registerDdlRoute(name)
    } catch {
      case e: Exception => logger.log(LogLevel.WARNING,
        s"session view for $name not registered: ${e.getMessage}")
    }

  /** Make `MERGE INTO <name> USING ... WHEN MATCHED UPDATE SET *
    * WHEN NOT MATCHED INSERT *` — the exact statement dbt-spark's
    * `merge` incremental strategy emits over Thrift — execute through
    * THIS model's merge machinery (Delta / Iceberg / manifest
    * warehouse by file_format). Routed via
    * [[graft.gateway.MergeRoutes]] + the [[graft.gateway.MergeIntoRoute]]
    * resolution rule; only registered for incremental-merge models,
    * so a MERGE against anything else still fails with Spark's own
    * loud unsupported error. The ON keys must be the model's declared
    * unique_key — the engine merge's uniqueness contract is per
    * DECLARED key, and silently merging on different keys would
    * corrupt the table.
    */
  private def registerMergeRoute(name: String): Unit =
    byName.get(name).foreach { m =>
      routedNames.add(name): Unit
      def checkKeys(onKeys: Seq[String], declared: Seq[String]): Unit =
        require(
          onKeys.map(_.toLowerCase).toSet ==
            declared.map(_.toLowerCase).toSet,
          s"MERGE INTO $name: ON keys (${onKeys.mkString(", ")}) must " +
            s"be the model's unique_key (${declared.mkString(", ")})")
      val dir = tablePath(name)
      m.materialization match {
        case Materialization.IncrementalMerge(keys, buckets, userParts, _) =>
          graft.gateway.MergeRoutes.register(name, this,
            new graft.gateway.MergeRoutes.Handler {
              private def merge(s: org.apache.spark.sql.SparkSession,
                  batch: DataFrame, onKeys: Seq[String],
                  residual: Option[String]): Long = {
                checkKeys(onKeys, keys)
                val n = m.fileFormat match {
                  case "delta" => graft.sources.DeltaWrite.merge(
                    s, dir, batch, keys, buckets, partitionBy = userParts,
                    residualPredicate = residual)
                  case "iceberg" => graft.sources.IcebergWrite.merge(
                    s, dir, batch, keys, buckets, partitionBy = userParts,
                    residualPredicate = residual)
                  case _ =>
                    require(residual.isEmpty, s"merge on $name: the " +
                      "manifest warehouse does not execute residual " +
                      "ON predicates") // unreachable: supportsResidual
                    mergeInto(name, batch, keys, buckets, userParts,
                      fullRefresh = false)
                }
                // lakehouse merges commit outside publishManifest —
                // the published views must re-resolve the post-merge
                // state
                registerSessionView(name)
                n
              }
              override def apply(s: org.apache.spark.sql.SparkSession,
                  batch: DataFrame, onKeys: Seq[String]): Long =
                merge(s, batch, onKeys, None)
              // dbt incremental_predicates: the Delta/Iceberg engine
              // merges prune their touched-file probe on the residual
              override def supportsResidual: Boolean =
                m.fileFormat == "delta" || m.fileFormat == "iceberg"
              override def mergeWithResidual(
                  s: org.apache.spark.sql.SparkSession, batch: DataFrame,
                  onKeys: Seq[String], residualSql: String): Long =
                merge(s, batch, onKeys, Some(residualSql))
              // MERGE delete legs fuse into the engine merge's own
              // atomic commit (ONE table version): Delta DV-masks
              // files the batch doesn't touch, Iceberg rewrites them
              // CoW — its native delete shape; both prune the delete
              // probe to its partitions
              override def supportsMergeDelete: Boolean =
                m.fileFormat == "delta" || m.fileFormat == "iceberg"
              override def mergeWithDelete(
                  s: org.apache.spark.sql.SparkSession, batch: DataFrame,
                  onKeys: Seq[String], deletePredicateSql: String): Long = {
                checkKeys(onKeys, keys)
                val n = m.fileFormat match {
                  case "delta" => graft.sources.DeltaWrite.merge(
                    s, dir, batch, keys, buckets,
                    deletePredicate = Some(deletePredicateSql))
                  case _ => graft.sources.IcebergWrite.merge(
                    s, dir, batch, keys, buckets,
                    deletePredicate = Some(deletePredicateSql))
                }
                registerSessionView(name)
                n
              }
            })
          // UPDATE (post-image upsert on the declared key) for every
          // merge model; DELETE FROM where a real engine delete
          // exists — Delta's DV merge-on-read delete (partitioned
          // tables prune the probe through partition values + stats,
          // the date-partitioned retention-delete shape)
          graft.gateway.DmlRoutes.register(name, this,
            graft.gateway.DmlRoutes.Ops(keys,
              deleteWhere =
                if (m.fileFormat == "delta")
                  Some((s, predicateSql) => {
                    val n = graft.sources.DeltaWrite.deleteWhere(
                      s, dir, predicateSql)
                    registerSessionView(name)
                    n
                  })
                else None))
        case Materialization.IncrementalMergeOnRead(keys, osc, delCol)
            if delCol.isEmpty =>
          graft.gateway.MergeRoutes.register(name, this, (s, batch, onKeys) => {
            checkKeys(onKeys, keys)
            val n =
              if (m.fileFormat == "iceberg")
                graft.sources.IcebergWrite.mergeOnRead(s, dir, batch, keys)
              else mergeOnRead(name, batch, keys,
                fullRefresh = false, osc = osc)
            registerSessionView(name)
            n
          })
          // UPDATE via the MoR upsert; DELETE as an Iceberg
          // equality-delete append (manifest MoR keeps Spark's error)
          graft.gateway.DmlRoutes.register(name, this,
            graft.gateway.DmlRoutes.Ops(keys,
              deleteWhere =
                if (m.fileFormat == "iceberg")
                  Some((s, predicateSql) => {
                    val n = graft.sources.IcebergWrite.deleteWhere(
                      s, dir, predicateSql, keys)
                    registerSessionView(name)
                    n
                  })
                else None))
        case _ => // not a merge model: leave MERGE INTO / DML unrouted
      }
    }

  /** `SELECT ... FROM <name> VERSION AS OF <v>` over SQL/Thrift →
    * the engine's version-pinned read: Delta log replay to version v,
    * Iceberg snapshot id v, manifest generation `gen_<v>`
    * ([[readTableAt]]). Registered for every published table.
    */
  private def registerTimeTravelRoute(name: String): Unit = {
    routedNames.add(name): Unit
    graft.gateway.TimeTravelRoutes.register(name, this, (s, v) =>
      if (isDeltaTable(name))
        graft.sources.DeltaRead.readDeltaTable(s, tablePath(name),
          versionAsOf = Some(v.toLong))
      else if (isIcebergTable(name))
        graft.sources.IcebergRead.readIcebergTable(s, tablePath(name),
          snapshotId = Some(v.toLong))
      else readTableAt(name, s"gen_$v"))
    // TIMESTAMP AS OF: resolve the wall-clock to a version driver-side
    // (commit mtimes / snapshot timestamps / generation mtimes — each
    // a bounded metadata walk, loud outside the available history)
    // and reuse the version-pinned read
    graft.gateway.TimeTravelRoutes.registerTimestamp(name, this,
      (s, micros) =>
        if (isDeltaTable(name))
          graft.sources.DeltaRead.readDeltaTable(s, tablePath(name),
            versionAsOf = Some(graft.sources.DeltaRead
              .versionAtTimestamp(tablePath(name), micros)))
        else if (isIcebergTable(name))
          graft.sources.IcebergRead.readIcebergTable(s, tablePath(name),
            snapshotId = Some(graft.sources.IcebergRead
              .snapshotIdAtTimestamp(tablePath(name), micros)))
        else readTableAt(name, generationAtTimestamp(name, micros)))
  }

  /** `ALTER TABLE <name> ADD COLUMNS (...)` over SQL/Thrift → the
    * engine's schema evolution (metaData-only Delta commit /
    * schema-only Iceberg snapshot / manifest republish with the
    * widened `#schema:` header). dbt-spark's
    * `on_schema_change: append_new_columns` emits exactly this before
    * the incremental insert. Registered for every published table.
    */
  private def registerDdlRoute(name: String): Unit = {
    routedNames.add(name): Unit
    graft.gateway.DdlRoutes.register(name, this, (s, fields) => {
      if (isDeltaTable(name))
        graft.sources.DeltaWrite.addColumns(s, tablePath(name), fields)
      else if (isIcebergTable(name))
        graft.sources.IcebergWrite.addColumns(s, tablePath(name), fields)
      else {
        val stored = currentSchema(name).getOrElse(sys.error(
          s"ALTER TABLE $name: no published schema"))
        fields.foreach(f => require(
          !stored.fieldNames.exists(_.equalsIgnoreCase(f.name)),
          s"ALTER TABLE $name: column ${f.name} already exists"))
        publishManifest(name, currentManifest(name).getOrElse(sys.error(
          s"ALTER TABLE $name: no published manifest")),
          StructType(stored.fields ++ fields.map(_.copy(nullable = true))))
      }
      // the published views must re-resolve the widened schema
      registerSessionView(name)
    })
    // the sync_all_columns REMOVE leg (`ALTER TABLE ... DROP
    // COLUMNS`): metaData-only narrow / schema-only snapshot /
    // manifest republish with the narrowed `#schema:` header
    graft.gateway.DdlRoutes.registerDrop(name, this, (s, cols) => {
      if (isDeltaTable(name))
        graft.sources.DeltaWrite.dropColumns(s, tablePath(name), cols)
      else if (isIcebergTable(name))
        graft.sources.IcebergWrite.dropColumns(s, tablePath(name), cols)
      else {
        val stored = currentSchema(name).getOrElse(sys.error(
          s"ALTER TABLE $name: no published schema"))
        cols.foreach(c => require(
          stored.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"ALTER TABLE $name: column $c does not exist"))
        val kept = stored.fields.filterNot(f =>
          cols.exists(_.equalsIgnoreCase(f.name)))
        require(kept.nonEmpty,
          s"ALTER TABLE $name: DROP COLUMNS would empty the schema")
        publishManifest(name, currentManifest(name).getOrElse(sys.error(
          s"ALTER TABLE $name: no published manifest")),
          StructType(kept))
      }
      registerSessionView(name)
    })
  }

  /** Manifest-table `TIMESTAMP AS OF`: the latest generation whose
    * manifest file's modification time is at-or-before the requested
    * wall-clock (ids break mtime ties — commits are ordered). Loud
    * before the earliest live generation: pre-creation, or vacuumed.
    */
  private def generationAtTimestamp(name: String, micros: Long): String = {
    val gens = listDir(Paths.get(tablePath(name)))
      .map(_.getFileName.toString)
      .filter(_.matches("gen_\\d+"))
      .map(g => g -> java.nio.file.Files.getLastModifiedTime(
        Paths.get(tablePath(name)).resolve(g)).toMillis)
    require(gens.nonEmpty, s"no generations to time-travel to: $name")
    val tsMillis = Math.floorDiv(micros, 1000L)
    val at = gens.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"TIMESTAMP AS OF ${java.time.Instant.ofEpochMilli(tsMillis)} " +
        s"precedes the earliest live generation of $name (at " +
        s"${java.time.Instant.ofEpochMilli(gens.map(_._2).min)}) — " +
        s"the table did not exist yet, or that history was vacuumed")
    at.maxBy(g => (g._2, g._1.stripPrefix("gen_").toLong))._1
  }

  /** The commit primitive: write the full manifest content to a temp
    * file in the table dir, then hard-link it to `gen_<max+1>` —
    * `Files.createLink` is atomic and FAILS if the target exists
    * (O_EXCL), so a generation file only ever appears fully written
    * and two processes racing the same id cannot overwrite each
    * other. The loser catches `FileAlreadyExistsException`, re-reads
    * the committed state, and retries with the new max+1 (optimistic
    * concurrency — the commit IS the lock). Returns the committed
    * generation name. On object storage the link maps to a
    * conditional put (If-None-Match).
    */
  private def commitGen(name: String, content: String): String = {
    val dir = Paths.get(tablePath(name))
    val tmp = Files.createTempFile(dir, ".committing_", ".tmp")
    try {
      Files.writeString(tmp, content)
      var committed: Option[String] = None
      while (committed.isEmpty) {
        val gen = nextGenName(name)
        try {
          Files.createLink(dir.resolve(gen), tmp)
          committed = Some(gen)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
          // lost the id race to a concurrent process — both manifests
          // survive (ours under a fresh id next iteration)
        }
      }
      committed.get
    } finally Files.deleteIfExists(tmp)
  }

  private def genSidecar(name: String, key: String): Option[String] =
    currentGenName(name).flatMap(gen =>
      genHeader(name, gen, s"sidecar.$key").map(decodeSidecar))

  /** Committed-batchId bookkeeping for the streaming sink: a
    * contiguous high-water mark (`hwm:<n>` — every id ≤ n committed)
    * plus a small out-of-order tail of ids > hwm. foreachBatch ids are
    * near-monotonic, so the tail stays O(1) and the sidecar size is
    * bounded for the stream's whole lifetime — the previous all-ids
    * set was rewritten (and parsed) in full per commit: O(batches²)
    * cumulative I/O on a long-lived stream. The legacy id-per-line
    * format parses as an all-tail set and folds into the hwm on the
    * next commit.
    */
  private def foldStreamIds(h0: Long, t0: Set[Long]): (Long, Set[Long]) = {
    var h = h0; var t = t0
    while (t.contains(h + 1)) { h += 1; t -= h }
    (h, t)
  }

  private def parseStreamIds(s: String): (Long, Set[Long]) = {
    val lines = s.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val hwm = lines.collectFirst {
      case l if l.startsWith("hwm:") => l.stripPrefix("hwm:").toLong
    }.getOrElse(-1L)
    val tail = lines.filterNot(_.startsWith("hwm:")).map(_.toLong)
      .filter(_ > hwm).toSet
    foldStreamIds(hwm, tail)
  }

  /** foreachBatch-compatible idempotent append — the streaming sink
    * onto the warehouse. The committed batchId bookkeeping rides in a
    * generation sidecar header, so "batch data visible" and "batchId
    * marked done" commit in ONE atomic manifest link: a redelivered
    * micro-batch (failure/restart replay) is a no-op, giving
    * exactly-once table contents on top of the source's replay.
    * Schema changes follow on_schema_change (append new, fail on
    * removed). Returns rows appended (0 for a replayed batch).
    */
  def appendBatch(name: String, df: DataFrame, batchId: Long,
      sidecars: Map[String, String] = Map.empty): Long =
    lockFor(name).synchronized {
      withStreamLedger(name, batchId) { ledger =>
        tracked {
          // same guard as the incremental-append materialization: a
          // merge_on_read table's reads reconcile latest-`__gver`-wins;
          // an appended member has no version column (schema-on-read
          // NULL → version 0), so its rows would tie nondeterministically
          // with base rows and be silently deduped instead of appended
          require(genSidecar(name, MorKeys).isEmpty,
            s"appendBatch on $name: table is merge_on_read " +
              "(version-reconciled); use mergeBatchOnRead, or " +
              "full-refresh before switching materialization")
          val schema = currentSchema(name)
            .map(st => evolveSchema(name, st, df.schema))
            .getOrElse(df.schema)
          val rel = writeBatch(name,
            p => df.write.mode("overwrite").parquet(p))
          publishManifest(name,
            currentManifest(name).getOrElse(Nil) :+ rel, schema,
            sidecars ++ ledger)
          val n = writtenCount(name, rel, df.schema)
          maybeAutoCompact(name)
          n
        }
      }
    }

  /** The exactly-once micro-batch ledger shared by every streaming
    * sink (`appendBatch` / `mergeBatch` / `mergeBatchOnRead`): parse
    * the committed-id state, no-op on replayed ids, otherwise run
    * `commit` with the updated ledger sidecar — which MUST ride the
    * same atomic manifest publish as the batch's data. Call under the
    * table lock.
    */
  private def withStreamLedger(name: String, batchId: Long)
      (commit: Map[String, String] => Long): Long = {
    val (hwm, tail) = genSidecar(name, "streamids")
      .map(parseStreamIds).getOrElse((-1L, Set.empty[Long]))
    if (batchId <= hwm || tail.contains(batchId)) 0L
    else {
      val (h2, t2) = foldStreamIds(hwm, tail + batchId)
      commit(Map("streamids" ->
        (s"hwm:$h2" +: t2.toSeq.sorted.map(_.toString)).mkString("\n")))
    }
  }

  /** Full-refresh publish: one new batch becomes the whole table.
    * Returns the batch's manifest-relative path. Clears the
    * merge-on-read sidecars: a full refresh from a non-MoR
    * materialization replaces the table's semantics too — carrying
    * `mor_keys` forward would leave reads reconciling on a key the
    * new content never declared and permanently trip the
    * append-onto-MoR guard (whose remedy IS full-refresh).
    */
  private def publish(name: String, schema: StructType,
      write: String => Unit): String = {
    val rel = writeBatch(name, write)
    publishManifest(name, Seq(rel), schema,
      dropSidecars = Set(MorKeys, MorVer))
    rel
  }

  /** Public model-less CTAS: publish `df` as `name`'s next generation
    * (full refresh). The superseded generation stays time-travelable
    * until `vacuum`; the streaming ledger carries forward, so a table
    * fed by `appendBatch` can be rebuilt (index retrain, backfill)
    * without re-accepting replayed micro-batches. Reading `name`
    * inside `df`'s own lineage is safe: the write stages a NEW batch
    * while the read resolves the still-live old generation.
    */
  def replaceTable(name: String, df: DataFrame): Long =
    lockFor(name).synchronized { tracked {
      val rel = publish(name, df.schema,
        p => df.write.mode("overwrite").parquet(p))
      writtenCount(name, rel, df.schema)
    } }

  /** Delta-`RESTORE`-style rollback: re-publish generation `gen`'s
    * exact member list and schema as the table's NEXT generation — a
    * metadata-only commit (zero data copied or moved; batches are
    * immutable and shared between generations). The bad generation
    * stays time-travelable, and the restore itself is an ordinary
    * atomic `commitGen` link, so a crash mid-restore changes nothing.
    * Current sidecars (the exactly-once streaming ledger, format
    * stamps) carry forward via `publishManifest` — restoring table
    * CONTENT must not re-open already-committed stream batch ids.
    * EXCEPT the merge-on-read pair: `mor_keys`/`mor_ver` describe the
    * restored MEMBERS (which key `__gver` versions reconcile on), not
    * the table, so they are taken from the restored generation's own
    * header. Carrying the live pair would e.g. restore a MoR
    * generation without its reconciliation key after a full refresh
    * dropped it — reads would silently surface superseded versions as
    * duplicates — or reconcile on a unique_key the restored content
    * never declared.
    * Fails loudly when `gen` or any batch it references was already
    * vacuumed (vacuum retains batches only for the newest
    * `keepGenerations` manifests).
    */
  def restoreTable(name: String, gen: String): Unit =
    lockFor(name).synchronized {
      require(Files.exists(Paths.get(tablePath(name), gen)),
        s"unknown generation $gen for table $name (vacuumed?)")
      val members = genManifest(name, gen)
      members.foreach { m =>
        require(Files.exists(Paths.get(tablePath(name)).resolve(m)),
          s"restore $name @ $gen: member $m no longer exists (vacuumed)")
      }
      val schema = genSchema(name, gen)
      val restoredMor = Seq(MorKeys, MorVer).flatMap(k =>
        genHeader(name, gen, s"sidecar.$k").map(decodeSidecar)
          .map(k -> _)).toMap
      publishManifest(name, members, schema, sidecars = restoredMor,
        dropSidecars = Set(MorKeys, MorVer))
    }

  /** Drop a warehouse table entirely: every generation, batch, and
    * sidecar under its dir — the reset that clears table-level
    * metadata (format stamps, the exactly-once stream ledger) which
    * `replaceTable` deliberately carries forward. The escape hatch a
    * format-version mismatch (e.g. Dedup's gram tables) points at:
    * drop, then rebuild from scratch. Irreversible — time travel goes
    * with it.
    */
  def dropTable(name: String): Unit = lockFor(name).synchronized {
    val dir = Paths.get(tablePath(name))
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      val all = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq
      } finally s.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
    stagedBatches.removeIf(_._1 == name)
    spark.catalog.dropTempView(sessionViewName(name)): Unit
    logger.log(LogLevel.INFO, s"dropped table $name")
  }

  /** Rows in one just-written batch — the per-run "rows affected"
    * count. O(written batch), where a `readTable(name).count()` would
    * be an O(table) scan per model run (a full-table pass per
    * scheduled run at 100 TB, just for the result envelope). The
    * explicit schema matters: a zero-row partitioned write leaves only
    * _SUCCESS behind, and a schema-less read of that dir would fail
    * with "unable to infer schema" on a perfectly normal no-data run.
    */
  private def writtenCount(name: String, rel: String,
      schema: StructType): Long = {
    // the row count of a just-written batch is already in the parquet
    // FOOTERS — sum them driver-side (zero Spark jobs) instead of
    // re-reading the batch in a count job; falls back to the count
    // job if any footer is unreadable. Footer counts are exact by the
    // format (each block records its row count), so the returned
    // value is identical.
    val res = scala.util.Try {
      val conf = spark.sessionState.newHadoopConf()
      val dir = new org.apache.hadoop.fs.Path(s"${tablePath(name)}/$rel")
      val fs = dir.getFileSystem(conf)
      // Hadoop-FS recursive listing (portable to object stores, where
      // java.nio.Files.walk sees nothing): partitioned batches nest
      // part files under <part>=<v>/<bucket>=<n>/ leaf dirs. Skip any
      // path with a '.'/'_'-prefixed segment — Spark's own hidden-file
      // filter — so a crashed write's _temporary leftovers never
      // inflate the reported count.
      val qualified = fs.makeQualified(dir)
      def hidden(p: org.apache.hadoop.fs.Path): Boolean =
        qualified.toUri.relativize(p.toUri).getPath.split('/')
          .exists(seg => seg.startsWith(".") || seg.startsWith("_"))
      val it = fs.listFiles(dir, true)
      val files = scala.collection.mutable.Buffer
        .empty[org.apache.hadoop.fs.Path]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet") && !hidden(p)) files += p
      }
      require(files.nonEmpty, s"no parquet files under $dir")
      files.iterator.map { p =>
        import scala.jdk.CollectionConverters._
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(p, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }.sum
    }
    res.getOrElse(
      spark.read.schema(schema).parquet(s"${tablePath(name)}/$rel").count())
  }

  /** Rewrite the current generation into a single batch (the OPTIMIZE
    * / compaction analogue): append, merge, and snapshot tables
    * accumulate one manifest member per run; compaction bounds the
    * member/file count while preserving hidden layout partitions
    * (merge buckets, snapshot open/closed split) so incremental runs
    * keep working afterwards. O(table) by nature — schedule it like
    * any OPTIMIZE job, never per-run.
    */
  /** Compact-if-worthwhile, on the paths that grow one member per
    * run. Skips when every member already owns its partition key
    * (compaction would rewrite O(table) for zero member reduction).
    * Called under the table lock (reentrant) right after a commit.
    */
  private def maybeAutoCompact(name: String): Unit =
    if (autoCompactMembers > 0) {
      val ms = currentManifest(name).getOrElse(Nil)
      def partKey(m: String) = m.split('/').drop(2).mkString("/")
      if (ms.size > autoCompactMembers &&
          ms.map(partKey).distinct.size < ms.size) {
        logger.log(LogLevel.INFO,
          s"auto-compacting $name (${ms.size} members > $autoCompactMembers)")
        compact(name)
      }
    }

  def compact(name: String): Unit = lockFor(name).synchronized { tracked {
    // the whole read-modify-write holds the table lock: a concurrent
    // publish between the manifest read and the compacted commit
    // would otherwise have its rows silently dropped
    val gen = currentGenName(name)
      .getOrElse(sys.error(s"table $name does not exist"))
    val schema = genSchema(name, gen)
    val members = genManifest(name, gen)
    if (members.nonEmpty) {
      // Derive the storage partition layout — visible columns
      // (insert_overwrite, partitioned merge) AND hidden ones (merge
      // buckets, snapshot open/closed) — from the member paths
      // themselves: data/batch_x[/col=v...]. Preserving only hidden
      // cols would collapse an insert_overwrite table's
      // partition-scoped members into one whole-batch member, and the
      // next incremental run would fail its layout guard.
      def partsOf(m: String): Seq[String] =
        m.split('/').drop(2).map(_.takeWhile(_ != '=')).toSeq
      val part = partsOf(members.head)
      require(members.forall(partsOf(_) == part),
        s"compact $name: members disagree on partition layout " +
          s"(${members.map(partsOf).distinct.mkString(" vs ")})")
      // readMembers keeps the layout cols; merge-on-read: folding
      // superseded key versions away IS the compaction (the kept rows
      // retain their __gver — reads stay correct before and after)
      val df = reconcileMor(name, gen, readMembers(name, members, schema))
      val newMembers =
        if (part.isEmpty)
          Seq(writeBatch(name,
            p => df.write.mode("overwrite").parquet(p)))
        else {
          val b = writeBatch(name, p => df
            .repartition(part.map(col): _*).write.mode("overwrite")
            .partitionBy(part: _*).parquet(p))
          partitionMembers(name, b, part.size)
        }
      // the streamids ledger carries forward via publishManifest —
      // dropping it would make appendBatch re-accept replayed batches
      publishManifest(name, newMembers, schema)
    }
  } }

  /** Garbage-collect batches and manifests no longer referenced by the
    * retained generations (failed writes, superseded full refreshes).
    * `keepGenerations` is the time-travel retention window (Delta's
    * RETAIN analogue): the newest N committed generations stay fully
    * readable via `readTableAt`; older manifests and any batch none of
    * the retained generations reference are deleted.
    * Serialized with publishes on the per-table lock, so within this
    * runner a `run --threads N` publish cannot commit a generation
    * between the manifest read and the deletes; each delete is
    * additionally double-checked against a freshly re-read keep set.
    *
    * Cross-process safety rides `minAgeMs` (Delta's VACUUM retention
    * analogue): only objects OLDER than the grace window are
    * deletable, so another JVM's just-staged batch or in-flight
    * `.committing_` temp — invisible to this JVM's `stagedBatches` /
    * table lock — cannot be swept out from under its commit. The
    * default comfortably exceeds any materialization's stage→publish
    * window; genuine crash debris ages past it and is then collected.
    * (Hammer-tested with two racing JVMs in `WarehouseStressSpec`.)
    *
    * Retention caveat (Delta VACUUM's RESTORE race, same class): age
    * cannot protect an OLD batch that another process RE-references
    * mid-vacuum (a cross-process `restoreTable` committing a new
    * generation over ancient batches). A post-delete re-check detects
    * exactly that collision and QUARANTINES the referencing
    * generation(s) — the table falls back to the newest intact
    * generation with an ERROR log, never a silent missing-file read.
    */
  def vacuum(name: String, keepGenerations: Int = 1,
      minAgeMs: Long = PipelineRunner.DefaultVacuumGraceMs): Unit =
    lockFor(name).synchronized {
      require(keepGenerations >= 1, "must retain at least the live generation")
      val cutoff = System.currentTimeMillis() - math.max(0L, minAgeMs)
      def oldEnough(p: java.nio.file.Path): Boolean =
        try Files.getLastModifiedTime(p).toMillis <= cutoff
        catch { case _: java.io.IOException => false } // gone already
      currentGenName(name).foreach { gen0 =>
        val root = Paths.get(tablePath(name))
        // batches referenced by ANY retained generation (the newest N)
        def retained(): Seq[String] =
          generations(name).takeRight(keepGenerations)
        def liveBatches(): Set[String] = retained()
          .flatMap(g => genManifest(name, g))
          .map(m => m.split('/').take(2).mkString("/")).toSet
        val keep0 = liveBatches()
        val dataDir = root.resolve("data")
        if (Files.exists(dataDir)) {
          val candidates = listDir(dataDir)
            .filterNot(b => keep0.contains(s"data/${b.getFileName}"))
            // skip batches staged by an in-flight materialization that
            // hasn't committed its manifest yet (run --threads N)
            .filterNot(b =>
              stagedBatches.contains((name, s"data/${b.getFileName}")))
            // cross-process grace: another JVM's staged batch is not
            // in OUR stagedBatches — age is the only safe signal
            .filter(oldEnough)
          if (candidates.nonEmpty) {
            // re-read immediately before deleting: a batch is removed
            // only if BOTH reads agree it is unreferenced
            val keep1 = liveBatches()
            val toDelete = candidates
              .filterNot(b => keep1.contains(s"data/${b.getFileName}"))
            toDelete.foreach(deleteRec)
            // Residual cross-process race the age grace CANNOT cover:
            // an OLD batch newly re-referenced by another JVM (e.g. a
            // restoreTable committing gen_{max+1} that points at
            // ancient batches) between the keep1 re-read and the
            // deletes — age is no signal for re-referenced old files.
            // Re-check once more AFTER the deletes and QUARANTINE any
            // generation that references a now-deleted batch: the
            // table falls back to the newest intact generation
            // (loudly) instead of surfacing missing-file read errors
            // later. Same class of caveat as Delta VACUUM racing a
            // time-travel-based RESTORE.
            if (toDelete.nonEmpty)
              quarantineClobberedGens(name,
                toDelete.map(b => s"data/${b.getFileName}").toSet,
                retained()): Unit
          }
        }
        // keep retained generations' manifests; also GC quarantined
        // aborts and orphaned commit temp files. EVERYTHING here
        // passes the cross-process age grace: a gen_ file commits
        // atomically, but another JVM can link gen_{max+1} BETWEEN
        // this pass's retained() snapshot and the delete loop —
        // without the age check that freshly-committed generation (not
        // in keepGens) would be deleted, losing the publish. In-flight
        // `.committing_` temps are milliseconds old; only true crash
        // debris ages past the window.
        val keepGens = retained().toSet + gen0
        listDir(root)
          .filter { p =>
            val f = p.getFileName.toString
            ((f.startsWith("gen_") && !keepGens(f)) ||
              f.startsWith("_aborted_") ||
              (f.startsWith(".committing_") && f.endsWith(".tmp"))) &&
              oldEnough(p)
          }
          .foreach(Files.deleteIfExists(_))
      }
    }

  /** The vacuum post-delete collision check: if any CURRENTLY
    * referenced batch is in `deletedBatches` (a concurrent commit —
    * e.g. a cross-process restore — re-referenced old batches inside
    * the delete window), quarantine the referencing generation(s) as
    * `_aborted_<gen>` so the table falls back to the newest intact
    * generation, and log ERROR. Returns the quarantined generation
    * names (empty = no collision).
    */
  private[graft] def quarantineClobberedGens(name: String,
      deletedBatches: Set[String],
      retainedGens: Seq[String]): Seq[String] = {
    val root = Paths.get(tablePath(name))
    def batchesOf(g: String): Set[String] =
      genManifest(name, g).map(_.split('/').take(2).mkString("/")).toSet
    // only RETAINED generations matter: non-retained manifests are
    // about to be GC'd anyway and legitimately reference swept batches
    val bad = retainedGens.distinct.filter(g =>
      Files.exists(root.resolve(g)) &&
        batchesOf(g).exists(deletedBatches.contains))
    bad.foreach { g =>
      val src = root.resolve(g)
      if (Files.exists(src))
        Files.move(src, root.resolve(s"_aborted_$g"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    if (bad.nonEmpty)
      logger.log(LogLevel.ERROR,
        s"vacuum($name) raced a concurrent commit that re-referenced " +
          s"vacuumed batches ${deletedBatches.toSeq.sorted.mkString(", ")}; " +
          s"quarantined generation(s) ${bad.mkString(", ")} — table " +
          "falls back to the newest intact generation (re-run the " +
          "restore/build)")
    bad
  }

  /** Model execution with dbt's skip-on-failure: a failed model marks
    * its transitive selected descendants `skipped` while independent
    * subgraphs keep running (dbt `run` semantics — a run never stops
    * the world, so `retry` has a precise failed/skipped frontier to
    * resume from). Serial, or dependency-ready under `--threads N`:
    * each model starts as soon as its last selected dep has settled
    * (see [[runReady]]).
    */
  private def runModels(names: Seq[String], threads: Int,
      fullRefresh: Boolean, failFast: Boolean = false)
      : Seq[(String, NodeStatus)] = {
    // dbt --fail-fast: after ANY failure, no further node STARTS —
    // everything unstarted is marked skipped (vs the default, where
    // only descendants skip and independent subgraphs keep running).
    // Checked at TASK start on pool threads: a queued model submitted
    // before the failure must skip, not run.
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    // version-RESOLVED deps: names holds resolved instance names
    // (dim_v2), so a bare ref('dim') must map to dim_v2 here or a
    // failed dim_v2 would not skip its consumers (stale reads).
    val rdeps = modelDeps
    val index = names.zipWithIndex.toMap
    def runOne(n: String): NodeStatus =
      if (failFast && failed.get()) {
        logger.log(LogLevel.WARNING, s"run: skipping $n (--fail-fast)")
        NodeStatus.Skipped
      } else
        try NodeStatus.Success(runModel(n, fullRefresh))
        catch {
          case e: Exception =>
            logger.log(LogLevel.ERROR, s"run: $n failed: ${e.getMessage}")
            failed.set(true)
            NodeStatus.Failed(String.valueOf(e.getMessage))
        }
    names.zip(runReady(names.size,
      i => rdeps(names(i)).flatMap(index.get), threads)(
      i => runOne(names(i))))
  }

  /** The dependency-ready scheduler behind `run --threads N` and
    * `test`: node `i` (0 until n, topo-ordered: `deps(i)` are all
    * < i) is submitted to a pool of `threads` the moment its last dep
    * has settled, so a slow node holds back only its own descendants.
    * A node with a failed or skipped dep settles `Skipped` without
    * taking a pool slot. Every started node settles before this
    * returns — returning early would let a sibling publish AFTER the
    * command reported. With one thread (or one node) everything runs
    * on the caller's thread, in order. `run` must not throw an
    * Exception (callers capture per-node errors); an Error stops new
    * submissions and is rethrown once the in-flight nodes settle.
    * Returns the statuses in index order.
    */
  private def runReady(n: Int, deps: Int => Seq[Int], threads: Int)(
      run: Int => NodeStatus): IndexedSeq[NodeStatus] = {
    val status = new Array[NodeStatus](n)
    val edges = IndexedSeq.tabulate(n)(deps(_).distinct)
    def blocked(i: Int) = edges(i).exists(d => status(d) match {
      case _: NodeStatus.Failed | NodeStatus.Skipped => true
      case _ => false
    })
    val poolSize = threads min n
    if (poolSize <= 1)
      for (i <- 0 until n)
        status(i) = if (blocked(i)) NodeStatus.Skipped else run(i)
    else {
      // only this (the calling) thread touches status / waiting
      val children = Array.fill(n)(mutable.Buffer.empty[Int])
      for (i <- 0 until n; d <- edges(i)) children(d) += i
      val waiting = Array.tabulate(n)(edges(_).size)
      val settled = new java.util.concurrent.LinkedBlockingQueue[
        (Int, Either[Throwable, NodeStatus])]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
      var inFlight = 0
      var fatal: Option[Throwable] = None
      def ready(i: Int): Unit =
        if (blocked(i)) settle(i, NodeStatus.Skipped)
        else if (fatal.isEmpty) {
          inFlight += 1
          pool.execute { () =>
            val st = try Right(run(i)) catch { case e: Throwable => Left(e) }
            settled.put(i -> st)
          }
        }
      def settle(i: Int, st: NodeStatus): Unit = {
        status(i) = st
        children(i).foreach { c =>
          waiting(c) -= 1
          if (waiting(c) == 0) ready(c)
        }
      }
      try {
        (0 until n).filter(waiting(_) == 0).foreach(ready)
        while (inFlight > 0) {
          val (i, st) = settled.take()
          inFlight -= 1
          settle(i, st.fold({ e =>
            fatal = fatal.orElse(Some(e))
            NodeStatus.Failed(String.valueOf(e.getMessage))
          }, identity))
        }
      } finally pool.shutdown()
      fatal.foreach(throw _)
    }
    status.toIndexedSeq
  }

  /** Write dbt's run_results artifact: the command verbatim plus one
    * row per touched node, after EVERY node-executing command (run /
    * build / test / seed / snapshot, any outcome) — `retry` tokenizes
    * the stored command and resumes its non-success frontier. dbt
    * retry resumes the most recent invocation of ANY command type, so
    * recording only run/build would make a retry issued after a failed
    * `test` silently replay the older run/build artifact.
    */
  private def recordRunResults(command: String,
      rows: Seq[(String, String, NodeStatus)]): Unit = {
    import org.json4s.JsonDSL._
    writeJson(Paths.get(warehouse).resolve("run_results.json"),
      ("command" -> command) ~ ("results" -> rows.map {
        case (kind, name, st) =>
          ("kind" -> kind) ~ ("name" -> name) ~ ("status" -> st.label)
      }))
  }

  /** Every JSON artifact is written compact, fields in build order. */
  private def writeJson(p: Path, v: JValue): Unit =
    Files.writeString(p, JsonMethods.compact(JsonMethods.render(v)))

  private def readJson(p: Path): JValue =
    JsonMethods.parse(Files.readString(p))

  private def jsonStr(obj: JValue, field: String): String =
    obj \ field match {
      case JString(s) => s
      case other => sys.error(s"malformed artifact: '$field' is $other")
    }

  /** The last run/build's (command, (kind, name, status) rows), or
    * None when no artifact exists.
    */
  private def loadRunResults(): Option[(String, Seq[(String, String, String)])] = {
    val p = Paths.get(warehouse).resolve("run_results.json")
    if (!Files.exists(p)) None
    else {
      val j = readJson(p)
      Some((jsonStr(j, "command"), (j \ "results").children.map(r =>
        (jsonStr(r, "kind"), jsonStr(r, "name"), jsonStr(r, "status")))))
    }
  }

  /** Version of the checksum FORMULA below, stamped into
    * manifest.json: two manifests diff node-by-node only when their
    * schemes match — values from different schemes differ for every
    * node by construction, which is an incomparability, not 100%
    * modification. Bump whenever checksumOf's input layout changes
    * (scheme 1 = the pre-stamp era: comma separator, no
    * eventTime/group/access fields).
    */
  private val ChecksumScheme = 2

  /** A resource's content checksum — what `state:modified` diffs.
    * Covers everything the spec DECLARES: kind, deps, tags,
    * materialization config, the SQL text for SQL-text models, seed
    * lines + schema, snapshot key/compare columns. A lambda model's
    * Scala body is not observable (dbt checksums the model FILE; a
    * closure has none) — its checksum tracks the declared shape only.
    */
  private def checksumOf(name: String): String = {
    val parts: Seq[String] = resourceKind(name) match {
      case "model" =>
        val m = byName(name)
        // description joins the checksum ONLY when present (prefixed
        // so it can't alias another optional field): WITHIN a scheme,
        // undocumented models keep their pre-description checksums, so
        // documenting one model doesn't dirty the rest (cross-scheme
        // comparisons are handled by the ChecksumScheme stamp above)
        Seq("model", m.name, m.deps.mkString(","), m.tags.mkString(","),
          m.materialization.toString, m.eventTime.getOrElse(""),
          m.group.getOrElse(""), m.access) ++
          m.description.map("desc:" + _).toSeq ++ m.sqlText.toSeq ++
          m.preHooks ++ m.postHooks
      case "seed" =>
        val sd = spec.seeds.find(_.name == name).get
        Seq("seed", sd.name, sd.tags.mkString(","),
          sd.schema.json) ++ sd.csvLines
      case "snapshot" =>
        val sn = spec.snapshots.find(_.name == name).get
        Seq("snapshot", sn.name, sn.source, sn.keyCols.mkString(","),
          sn.compareCols.mkString(","), sn.tags.mkString(","),
          sn.strategy.toString, sn.hardDeletes.toString)
      case "exposure" =>
        val e = spec.exposures.find(_.name == name).get
        Seq("exposure", e.name, e.exposureType, e.refs.mkString(","),
          e.owner, e.url)
      case "semantic_model" =>
        val sm = spec.semanticModels.find(_.name == name).get
        Seq("semantic_model", sm.name, sm.modelRef,
          sm.entities.map(e =>
            s"${e.name}:${e.entityType}:${e.expr.getOrElse("")}")
            .mkString(","),
          sm.dimensions.map(d => s"${d.name}:${d.dimType}:" +
            s"${d.expr.getOrElse("")}:${d.grain.getOrElse("")}")
            .mkString(","),
          sm.measures.map(m => s"${m.name}:${m.agg}:${m.expr}")
            .mkString(","),
          sm.aggTimeDimension.getOrElse("")) ++
          sm.description.map("desc:" + _).toSeq
      case "metric" =>
        val mt = spec.metrics.find(_.name == name).get
        Seq("metric", mt.name, mt.metricType, mt.label.getOrElse(""),
          mt.measure.getOrElse(""), mt.numerator.getOrElse(""),
          mt.denominator.getOrElse(""), mt.expr.getOrElse(""),
          mt.inputMetrics.mkString(",")) ++
          mt.description.map("desc:" + _).toSeq
      case other => Seq(other, name)
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(parts.mkString("\u0000").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Write dbt's OTHER first-class artifact, `manifest.json`: every
    * resource node with kind, deps, and config checksum — the input
    * `state:modified --state <dir>` diffs against and what external
    * orchestrators read for the DAG. Written on every recognized
    * command (a parse artifact, like dbt's), independent of selection
    * or outcome.
    */
  private def writeManifest(): Unit = {
    import org.json4s.JsonDSL._
    val deps = resourceDeps
    val nodes = deps.keys.toSeq.sorted.map { n =>
      // schema-namespaced relations carry their parts explicitly, the
      // manifest.json shape orchestrators key relations by
      val ns = if (n.contains('.')) Some(n.split('.')) else None
      ("name" -> n) ~ ("kind" -> resourceKind(n)) ~
        ("description" -> byName.get(n).flatMap(_.description)) ~
        ("schema" -> ns.map(_.head)) ~ ("identifier" -> ns.map(_.last)) ~
        ("deps" -> deps(n).sorted) ~ ("checksum" -> checksumOf(n))
    }
    writeJson(Paths.get(warehouse).resolve("manifest.json"),
      ("checksum_scheme" -> ChecksumScheme) ~ ("nodes" -> nodes))
  }

  /** Write dbt's `sources.json` artifact after `source freshness`:
    * one row per checked source with its max_loaded_at (epoch MILLIS,
    * null when the source is empty) and status — the input the
    * `source_status:fresher+` selector diffs against a `--state`
    * dir's copy (dbt's fresher-sources-only CI grammar).
    */
  private def writeSourcesJson(command: String,
      rows: Seq[(String, String, Option[Long])]): Unit = {
    import org.json4s.JsonDSL._
    writeJson(Paths.get(warehouse).resolve("sources.json"),
      ("command" -> command) ~ ("sources" -> rows.map {
        case (name, status, loadedMs) =>
          ("name" -> name) ~
            ("max_loaded_at_ms" -> loadedMs.fold[JValue](JNull)(JInt(_))) ~
            ("status" -> status)
      }))
  }

  /** name → Some(max_loaded_at_ms) | None-for-null from a dir's
    * sources.json; None overall when no artifact exists.
    */
  private def loadSourcesJson(dir: Path): Option[Map[String, Option[Long]]] = {
    val p = dir.resolve("sources.json")
    if (!Files.exists(p)) None
    else Some((readJson(p) \ "sources").children.map { s =>
      jsonStr(s, "name") -> (s \ "max_loaded_at_ms" match {
        case JInt(t) => Some(t.toLong)
        case JNull => None
        case other => sys.error(s"malformed sources.json: $other")
      })
    }.toMap)
  }

  /** (checksum scheme, name → checksum) from a `--state` dir's
    * manifest.json. An unstamped manifest predates scheme stamping →
    * scheme 1.
    */
  private def loadManifestChecksums(dir: Path): (Int, Map[String, String]) = {
    val p = dir.resolve("manifest.json")
    require(Files.exists(p), s"--state: no manifest.json under $dir")
    val j = readJson(p)
    val scheme = j \ "checksum_scheme" match {
      case JInt(v) => v.toInt
      case _ => 1
    }
    (scheme, (j \ "nodes").children
      .map(n => jsonStr(n, "name") -> jsonStr(n, "checksum")).toMap)
  }

  /** Resolve a model's inputs: sources (temp views already registered)
    * + upstream models (ephemeral inlined, others read back) + seed /
    * snapshot tables (dbt's ref() also targets those).
    */
  /** `--defer --state <dir>` context for the current command:
    * (selected node set, read-only runner over the state warehouse).
    * dbt defer semantics: a ref to a node that is NOT selected and
    * has NO local relation resolves to the state environment's table
    * (favor-local, dbt's default). Only table-backed kinds can defer
    * (table / incremental / seed / snapshot) — views and ephemerals
    * are session-scoped here, not stored relations.
    */
  private var deferCtx: Option[(Set[String], PipelineRunner)] = None

  /** dbt `--favor-state`: flip defer precedence — an UNSELECTED node
    * present in the state warehouse resolves there even when a local
    * relation exists (dbt's flag for CI runs whose scratch schema may
    * hold stale leftovers). Selected nodes always resolve locally.
    */
  private var deferFavorState: Boolean = false

  private def setDefer(defer: Boolean, sel: Selection,
      selected: => Set[String], favorState: Boolean = false): Unit = {
    require(defer || !favorState,
      "--favor-state requires --defer")
    deferFavorState = favorState
    deferCtx =
      if (!defer) None
      else {
        val dir = sel.state.getOrElse(sys.error(
          "--defer requires --state <dir> with a prior warehouse"))
        Some((selected, new PipelineRunner(spark, spec, dir)))
      }
  }

  /** A stored dep's frame under defer precedence: local generation if
    * one exists (unless `--favor-state` flips it), else the state
    * warehouse's (when deferrable), else the natural does-not-exist
    * error.
    */
  private def storedRelation(dep: String): DataFrame =
    deferCtx match {
      case Some((selected, st)) if !selected(dep) && st.tableExists(dep) &&
          (deferFavorState || !tableExists(dep)) =>
        logger.log(LogLevel.INFO, s"defer: reading $dep from state")
        st.readTable(dep)
      case _ => readTable(dep)
    }

  /** Resolve any node name to a frame for TESTS (dbt `test --defer`):
    * local table, else session view/source, else the state table.
    * Like [[storedRelation]], only UNSELECTED nodes defer — a node
    * the command selected but failed to build must error loudly, not
    * silently read the state environment's stale relation (`test`
    * arms defer with an empty selected set, so everything defers
    * there; `build --defer` passes its real selection).
    */
  private[pipeline] def testRelation(name: String): DataFrame =
    deferCtx match {
      case Some((selected, st)) if !selected(name) && st.tableExists(name) &&
          (deferFavorState ||
            (!tableExists(name) && !spark.catalog.tableExists(name))) =>
        st.readTable(name)
      case _ =>
        if (tableExists(name)) readTable(name)
        else spark.table(name)
    }

  /** dbt `--empty`: build every model against LIMIT-0 inputs — a
    * schema-only dry run that materializes empty relations, the CI
    * smoke for model SQL + schema contracts without paying for data.
    */
  private var cmdEmpty: Boolean = false

  /** dbt `--warn-error`: promote warnings to errors for the command's
    * duration — a warn-severity test outcome (or warn_if hit) FAILS
    * the test, and a warn-fresh source fails `source freshness`.
    * Same lifecycle as [[cmdVars]].
    */
  private var cmdWarnError: Boolean = false

  private def inputs(m: Model): Map[String, DataFrame] = inputs(m, None)

  /** `window` (microbatch): half-open `[lo, hi)` SQL-timestamp bounds
    * — deps that DECLARE an event-time column are pre-filtered to it
    * (dbt's automatic input filtering; a plain comparison predicate,
    * so it pushes into the scan and prunes time-partitioned storage).
    * Deps with no declared event time pass through whole.
    */
  private def inputs(m: Model, window: Option[(String, String)])
      : Map[String, DataFrame] =
    m.deps.map { dep =>
      // the ref TEXT stays the key (it names the SQL-side view); a
      // versioned bare ref resolves to its latest instance here
      val t = resolveDep(dep)
      byName.get(t) match {
        case Some(d) if d.materialization == Materialization.Ephemeral =>
          dep -> ephemeralCache.getOrElseUpdate(t, runEphemeral(d))
        case Some(d) if d.materialization == Materialization.View =>
          dep -> spark.table(sessionViewName(t))
        case Some(_) => dep -> storedRelation(t)
        case None if deferCtx.exists { case (selected, st) =>
          !selected(t) && st.tableExists(t) &&
            (deferFavorState ||
              (!tableExists(t) && !spark.catalog.tableExists(t))) } =>
          dep -> deferCtx.get._2.readTable(t) // state seed/snapshot
        case None if tableExists(t) =>
          dep -> readTable(t) // seed or snapshot table
        case None => dep -> spark.table(sessionViewName(t)) // source view
      }
    }.map { case (dep, df0) =>
      val df = (window, depEventTime(dep)) match {
        case (Some((lo, hi)), Some(c)) => df0.filter(
          col(c) >= to_timestamp(lit(lo)) && col(c) < to_timestamp(lit(hi)))
        case _ => df0
      }
      dep -> (if (cmdEmpty) df.limit(0) else df)
    }.toMap

  /** A dep's declared event-time column: model-level `eventTime`
    * config (a microbatch model's strategy column counts), or the
    * source-level declaration for sources/seeds.
    */
  private def depEventTime(dep: String): Option[String] =
    byName.get(resolveDep(dep)) match {
      case Some(d) => d.eventTime.orElse(d.materialization match {
        case mb: Materialization.IncrementalMicrobatch => Some(mb.eventTime)
        case _ => None
      })
      case None => spec.sourceEventTime.get(dep)
    }

  private def runEphemeral(m: Model): DataFrame = buildDf(m)

  /** `dbt clone`: materialize the state warehouse's live generation
    * of `name` into THIS warehouse. Parquet members are immutable, so
    * the copy is file-verbatim — no decode/re-encode job, O(bytes)
    * I/O and zero cluster compute (the Delta/Iceberg shallow-clone
    * analogue, minus cross-warehouse pointer sharing: a clone must
    * survive the source's vacuum, so files are copied, not
    * referenced). One local batch per source batch keeps partition
    * dirs directly under their batch root, as readMembers requires;
    * the manifest publishes atomically like any other write.
    */
  private def cloneTable(st: PipelineRunner, name: String): Long =
    lockFor(name).synchronized { tracked {
      val gen = st.currentGenName(name).getOrElse(
        sys.error(s"clone: $name has no committed generation in state"))
      val srcMembers = st.genManifest(name, gen)
      val schema = st.genSchema(name, gen)
      def copyRec(from: Path, to: Path): Unit = {
        import scala.jdk.CollectionConverters._
        val s = Files.walk(from)
        try s.iterator().asScala.foreach { p =>
          val dst = to.resolve(from.relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(dst)
          else {
            Files.createDirectories(dst.getParent)
            Files.copy(p, dst)
          }
        } finally s.close()
      }
      val srcBatches = srcMembers.map(_.split('/').take(2).mkString("/"))
        .distinct.sorted
      // copy per MEMBER, not per batch dir: a rewritten batch can hold
      // partition dirs its live manifest no longer references (kept
      // for time travel in the SOURCE) — batch-level copies would bake
      // that unreferenced data into the clone as garbage its own
      // vacuum could never reclaim (the batch stays referenced)
      val byBatch = srcMembers.groupBy(_.split('/').take(2).mkString("/"))
      val batchMap = srcBatches.map { sb =>
        sb -> writeBatch(name, dst => byBatch(sb).foreach { m =>
          val sub = m.split('/').drop(2).mkString("/")
          val from = Paths.get(st.tablePath(name), m)
          val to =
            if (sub.isEmpty) Paths.get(dst) else Paths.get(dst, sub)
          copyRec(from, to)
        })
      }.toMap
      val newMembers = srcMembers.map { m =>
        val parts = m.split('/')
        (batchMap(parts.take(2).mkString("/")) +: parts.drop(2))
          .mkString("/")
      }
      // carry the SOURCE's exactly-once stream ledger: a cloned
      // streaming-sink table must not re-accept micro-batches the
      // source already committed
      val sidecars = st.genSidecar(name, "streamids")
        .map("streamids" -> _).toMap
      publishManifest(name, newMembers, schema, sidecars)
      readTable(name).count()
    } }

  /** `INSERT INTO <table> <query>` — the hook shape dbt projects use
    * for audit rows / grants bookkeeping. The query part may itself
    * carry refs.
    */
  private val insertRe =
    """(?is)\s*INSERT\s+INTO\s+([A-Za-z_][A-Za-z0-9_]*)\s+(\S[\s\S]*)""".r

  /** Append rows to a warehouse table (created on first use) under
    * the atomic manifest protocol — the hook-INSERT primitive. Schema
    * evolves append-only like the streaming sink's.
    */
  private def appendRows(name: String, df: DataFrame): Long =
    lockFor(name).synchronized { tracked {
      val schema = currentSchema(name)
        .map(st => evolveSchema(name, st, df.schema))
        .getOrElse(df.schema)
      val rel = writeBatch(name, p => df.write.mode("overwrite").parquet(p))
      publishManifest(name, currentManifest(name).getOrElse(Nil) :+ rel,
        schema)
      writtenCount(name, rel, df.schema)
    } }

  /** Execute one hook statement (dbt pre-hook / post-hook /
    * on-run-start / on-run-end): render `{{ var }}`; `{{ this }}`
    * becomes a ref to the owning model (model hooks only); refs
    * resolve like model inputs. An `INSERT INTO t <query>` appends
    * the query's rows to warehouse table `t`; any other statement
    * runs through `spark.sql` for its effect. Exceptions propagate —
    * the hook's enclosing scope (model or command) owns the failure.
    */
  private def runHook(scope: String, hookSql: String,
      thisName: Option[String]): Unit = {
    var text = Model.renderVars(s"hook in $scope", hookSql, cmdVars)
    if (Model.thisRe.findFirstIn(text).isDefined) {
      val n = thisName.getOrElse(sys.error(
        s"hook in $scope: {{ this }} is only available on model hooks"))
      text = Model.thisRe.replaceAllIn(text, s"{{ ref('$n') }}")
    }
    def resolve(r: String): DataFrame =
      byName.get(r) match {
        case Some(d) if d.materialization == Materialization.View =>
          spark.table(r)
        case Some(d) if d.materialization == Materialization.Ephemeral =>
          ephemeralCache.getOrElseUpdate(r, runEphemeral(d))
        case _ =>
          if (tableExists(r)) readTable(r) else spark.table(r)
      }
    text match {
      case insertRe(target, query) =>
        val ins = Model.parseRefs(query).map(r => r -> resolve(r)).toMap
        val df = Model.runSqlText(s"hook_$scope", query, spark, ins)
        appendRows(target, df)
        ()
      case other =>
        val ins = Model.parseRefs(other).map(r => r -> resolve(r)).toMap
        // Spark executes commands (SET, CREATE VIEW, …) eagerly;
        // force queries so a SELECT-shaped assertion hook actually
        // evaluates
        Model.runSqlText(s"hook_$scope", other, spark, ins).collect()
        ()
    }
  }

  /** Wrap a run/build body in the project-level hooks: on-run-start
    * before any node (a failure aborts the command), on-run-end after
    * ALL nodes including failures (its own failure marks the command
    * failed after the fact) — dbt semantics.
    */
  private def withRunHooks(command: String)(body: => CommandResult)
      : CommandResult = {
    try spec.onRunStart.foreach(h => runHook("on_run_start", h, None))
    catch {
      case e: Exception =>
        logger.log(LogLevel.ERROR,
          s"on-run-start hook failed: ${e.getMessage}")
        return CommandResult(command, success = false, Nil, Map.empty,
          Some(s"on-run-start hook failed: ${e.getMessage}"))
    }
    val res = body
    try { spec.onRunEnd.foreach(h => runHook("on_run_end", h, None)); res }
    catch {
      case e: Exception =>
        logger.log(LogLevel.ERROR,
          s"on-run-end hook failed: ${e.getMessage}")
        res.copy(success = false,
          error = Some((res.error.toSeq :+
            s"on-run-end hook failed: ${e.getMessage}").mkString("; ")))
    }
  }

  /** Materialize one model; returns rows written (−1 for views).
    *
    * `fullRefresh` (dbt `run --full-refresh`) rebuilds incremental /
    * insert_overwrite / merge tables from scratch as if they did not
    * exist: the new batch becomes the whole table (in the strategy's
    * own storage layout, so subsequent incremental runs keep working).
    * This is the escape hatch the materialization-switch guards point
    * at ("full-refresh the table before switching materialization").
    */
  /** dbt contract enforcement: the built frame's (name, type) set
    * must equal the declared one — checked on the PLAN's schema, so a
    * violation fails before any data moves.
    */
  private def enforceContract(name: String, m: Model,
      df: DataFrame): Unit = m.contract.foreach { c =>
    // nullability-agnostic at EVERY nesting level: an inferred
    // ARRAY<BIGINT> with containsNull=false must equal the DDL form's
    // containsNull=true, or the mismatch error would print two
    // identical-looking type names
    def denull(dt: DataType): DataType = dt match {
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = denull(f.dataType), nullable = true)))
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        org.apache.spark.sql.types.ArrayType(denull(et), true)
      case org.apache.spark.sql.types.MapType(kt, vt, _) =>
        org.apache.spark.sql.types.MapType(denull(kt), denull(vt), true)
      case other => other
    }
    def shape(st: StructType) =
      st.fields.map(f => f.name -> denull(f.dataType)).toMap
    val (want, got) = (shape(c), shape(df.schema))
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val retyped = want.keySet.intersect(got.keySet)
      .filter(k => want(k) != got(k))
      .map(k => s"$k: ${got(k).sql} (contract: ${want(k).sql})")
    require(missing.isEmpty && extra.isEmpty && retyped.isEmpty,
      s"model $name violates its contract" +
        (if (missing.nonEmpty)
          s"; missing: ${missing.toSeq.sorted.mkString(",")}" else "") +
        (if (extra.nonEmpty)
          s"; undeclared: ${extra.toSeq.sorted.mkString(",")}" else "") +
        (if (retyped.nonEmpty)
          s"; retyped: ${retyped.toSeq.sorted.mkString(",")}" else ""))
  }

  /** Materialize a `file_format=delta|iceberg` model (dbt-spark's
    * `file_format` config — the reason the reference pins the Delta
    * stack, `dbtoperator.py:274`; Iceberg is dbt-spark's other
    * lakehouse format): the model's table is a REAL `_delta_log` /
    * Hadoop-catalog Iceberg table under the warehouse path, written
    * through [[graft.sources.DeltaWrite]] / [[graft.sources.IcebergWrite]]
    * and read back (refs, `{{ this }}`, tests, gateways) through the
    * matching interop reader — so an external Delta/Iceberg reader
    * sees exactly what the runner sees. Supported: `table` (atomic
    * CREATE-OR-REPLACE commit), `incremental merge` (copy-on-write
    * MERGE, O(touched files + batch), `partition_by` honored —
    * identity-partitioned tables with partition-pruned merges), and
    * for Iceberg additionally `incremental merge_on_read` (one
    * equality-delete + data file per run, O(batch) — the v2 MoR
    * contract; unpartitioned); `full-refresh` replaces in one commit
    * with history preserved (time travel).
    * `on_schema_change` applies exactly as on graft-format models:
    * `ignore` projects the batch onto the stored schema,
    * `append_new_columns`/`sync_all_columns` evolve the lakehouse
    * table for APPENDED columns (Delta metaData re-emission / Iceberg
    * fresh field ids; carried files surface NULL), `fail` and any
    * column DROP or retype reject loudly — never a silent behavior
    * fork between file formats.
    */
  private def materializeLakehouse(m: Model, df: DataFrame,
      fullRefresh: Boolean): Long = {
    val dir = tablePath(m.name)
    val delta = m.fileFormat == "delta"
    val exists = if (delta) isDeltaTable(m.name) else isIcebergTable(m.name)
    def storedSchema: org.apache.spark.sql.types.StructType =
      if (delta) graft.sources.DeltaRead.tableSchema(spark, dir)
      else graft.sources.IcebergRead.snapshotState(dir, None).schema
    // the dbt on_schema_change contract against the LAKEHOUSE table's
    // own schema: returns the batch aligned to the evolved column
    // order plus whether the table schema must extend
    def applyOsc(osc: OnSchemaChange): (DataFrame, Boolean) =
      if (!exists || fullRefresh) (df, false)
      else {
        val stored = storedSchema
        val (evolved, batch0) = applySchemaChange(m.name, osc, stored, df)
        val dropped = stored.fieldNames.filterNot(
          evolved.fieldNames.contains(_))
        require(dropped.isEmpty,
          s"file_format=${m.fileFormat} on ${m.name}: lakehouse tables " +
            s"cannot drop columns ${dropped.mkString(",")} " +
            "(full-refresh to drop)")
        val aligned = batch0.select(evolved.fieldNames.toIndexedSeq.map { c =>
          if (batch0.columns.contains(c)) col(c)
          else lit(null).cast(evolved(c).dataType).as(c)
        }: _*)
        (aligned, evolved.length > stored.length)
      }
    def replace(pb: Seq[String]): Long =
      if (delta) graft.sources.DeltaWrite.replace(spark, dir, df,
        partitionBy = pb)
      else graft.sources.IcebergWrite.replace(spark, dir, df,
        partitionBy = pb)
    val rows = m.materialization match {
      case Materialization.Table => replace(Nil)
      case Materialization.IncrementalMerge(keys, buckets, userParts, osc) =>
        if (fullRefresh && exists) replace(userParts)
        else {
          val (batch, evolves) = applyOsc(osc)
          if (delta)
            graft.sources.DeltaWrite.merge(spark, dir, batch, keys,
              buckets, partitionBy = userParts, allowEvolution = evolves)
          else graft.sources.IcebergWrite.merge(spark, dir, batch, keys,
            buckets, partitionBy = userParts, allowEvolution = evolves)
        }
      case Materialization.IncrementalMergeOnRead(keys, osc, delCol)
          if !delta =>
        require(delCol.isEmpty,
          s"file_format=iceberg merge_on_read on ${m.name}: CDC delete " +
            "columns are unsupported (upsert-only equality deletes)")
        if (fullRefresh && exists) replace(Nil)
        else {
          val (batch, evolves) = applyOsc(osc)
          require(!evolves,
            s"file_format=iceberg merge_on_read on ${m.name}: schema " +
              "evolution is unsupported (full-refresh to evolve)")
          graft.sources.IcebergWrite.mergeOnRead(spark, dir, batch, keys)
        }
      case other => sys.error(
        s"file_format=${m.fileFormat} on ${m.name} supports 'table' and " +
          s"'incremental merge'" +
          (if (delta) "" else " and 'incremental merge_on_read'") +
          s" materializations, not $other")
    }
    // graft-format tables register inside publishManifest; the
    // lakehouse path owns its commit, so register here
    registerSessionView(m.name)
    rows
  }

  def runModel(name: String, fullRefresh: Boolean = false): Long = tracked {
    val m = byName(name)
    m.preHooks.foreach(h => runHook(name, h, Some(name)))
    // lazy: the microbatch path builds once PER WINDOW with filtered
    // inputs instead of one whole-history build
    lazy val df = {
      val d = buildDf(m, fullRefresh)
      enforceContract(name, m, d)
      d
    }
    val rows = if (m.fileFormat != "graft")
      materializeLakehouse(m, df, fullRefresh)
    else m.materialization match {
      case Materialization.View =>
        df.createOrReplaceTempView(sessionViewName(name)); -1L

      case Materialization.Ephemeral =>
        ephemeralCache(name) = df; -1L

      case Materialization.Table =>
        val rel = publish(name, df.schema,
          p => df.write.mode("overwrite").parquet(p))
        writtenCount(name, rel, df.schema)

      case Materialization.IncrementalAppend(tsCol, osc) =>
        if (!tableExists(name) || fullRefresh) {
          val rel = publish(name, df.schema,
            p => df.write.mode("overwrite").parquet(p))
          writtenCount(name, rel, df.schema)
        } else {
          val (evolved, batchDf) = applySchemaChange(name, osc,
            currentSchema(name).getOrElse(df.schema), df)
          val cur0 = currentManifest(name).get
          // the last-member hwm below relies on whole-batch members
          // (each delta filtered past the previous hwm); a table
          // switched from a partition-scoped materialization would
          // silently duplicate rows instead
          val nonWhole = cur0.filter(_.split('/').length != 2)
          require(nonWhole.isEmpty,
            s"incremental append on $name: existing members are " +
              s"partition-scoped (e.g. ${nonWhole.head}); full-refresh " +
              "the table before switching materialization")
          // a merge_on_read table's members are whole-batch too, but
          // carry superseded key versions — appending to it would
          // surface duplicates after reconciliation stops applying
          require(genSidecar(name, MorKeys).isEmpty,
            s"incremental append on $name: table is merge_on_read " +
              "(version-reconciled); full-refresh before switching " +
              "materialization")
          // High-water mark from the LAST manifest member only: every
          // earlier delta was filtered to ts > the then-hwm, so the
          // global max lives in the newest batch — O(last batch), not
          // an O(table) scan per scheduled run. A null hwm (empty
          // table / all-null ts) means "nothing loaded yet" → append
          // everything, not nothing.
          val hwm = readMembers(name, Seq(cur0.last), currentSchema(name).get)
            .agg(max(col(tsCol))).head().get(0)
          val delta = if (hwm == null) batchDf
            else batchDf.filter(col(tsCol) > lit(hwm))
          // an empty delta commits nothing — otherwise a no-new-data
          // schedule grows the manifest (and readTable's path list)
          // by one empty batch per run, forever
          if (delta.isEmpty) 0L
          else {
            // stage the delta as a new batch, then commit old ∪ delta
            // as a new generation — a mid-write crash leaves the
            // previous generation live
            val deltaBatch = writeBatch(name,
              p => delta.write.mode("overwrite").parquet(p))
            publishManifest(name,
              currentManifest(name).get :+ deltaBatch, evolved)
            val n = writtenCount(name, deltaBatch, delta.schema)
            maybeAutoCompact(name)
            n
          }
        }

      case Materialization.IncrementalInsertOverwrite(parts, osc) =>
        // insert_overwrite semantics: replace exactly the partitions
        // present in the new batch, keep the rest. The batch is
        // written partitioned and the manifest swaps members at
        // partition granularity — O(touched partitions) I/O, never a
        // table rewrite, and fully atomic via the manifest flip.
        val fresh = !tableExists(name) || fullRefresh
        val (schema, batchDf) =
          if (fresh) (df.schema, df)
          else applySchemaChange(name, osc,
            currentSchema(name).getOrElse(df.schema), df)
        val batch = writeBatch(name, p =>
          batchDf.write.mode("overwrite").partitionBy(parts: _*).parquet(p))
        val newMembers = partitionMembers(name, batch, parts.size)
        def partKey(m: String) = m.split('/').drop(2).mkString("/")
        val newKeys = newMembers.map(partKey).toSet
        val members =
          if (fresh) newMembers
          else {
            val cur = currentManifest(name).get
            // a whole-batch member (from a prior table/append
            // materialization) has no partition path — its partKey ""
            // never matches, so stale rows of replaced partitions
            // would silently survive. Fail loudly: switching to
            // insert_overwrite requires a full refresh first.
            val nonPart = cur.filter(m => m.split('/').length != 2 + parts.size)
            require(nonPart.isEmpty,
              s"insert_overwrite on $name: existing members are not " +
                s"partitioned by ${parts.mkString(",")} (e.g. " +
                s"${nonPart.head}); full-refresh the table before " +
                "switching materialization")
            cur.filterNot(m => newKeys.contains(partKey(m))) ++ newMembers
          }
        // fresh path may be a materialization switch away from MoR —
        // clear its sidecars (non-fresh is unreachable for MoR tables:
        // the layout guard above rejects whole-batch members)
        publishManifest(name, members, schema,
          dropSidecars = Set(MorKeys, MorVer))
        writtenCount(name, batch, batchDf.schema)

      // MERGE emulation for vanilla parquet (no Delta/Iceberg in this
      // stack), partition-scoped: rows live under key-hash bucket dirs
      // (__gbucket = pmod(xxhash64(uniqueKey), buckets)), optionally
      // UNDER a user partition dimension (part=…/__gbucket=…), so a
      // matched key is ALWAYS inside a touched member. Each merge reads
      // only the members the new batch touches (partitions ∩ buckets),
      // anti-joins out updated keys, rewrites those members as one new
      // batch, and swaps exactly them in the manifest — O(touched)
      // I/O, never a table rewrite, untouched members' files unmoved.
      // The user partition matters at scale: hash-only buckets degrade
      // to an O(table) rewrite once a uniform delta has ≥ buckets keys,
      // while deltas clustered on a date/tenant partition rewrite only
      // those partitions' buckets (see IncrementalMerge scaladoc for
      // the stable-partition-per-key contract).
      case Materialization.IncrementalMerge(keys, buckets, userParts, osc) =>
        mergeInto(name, df, keys, buckets, userParts, fullRefresh, osc = osc)

      case Materialization.IncrementalMergeOnRead(keys, osc, delCol) =>
        mergeOnRead(name, df, keys, fullRefresh, osc, deleteCol = delCol)

      case mb: Materialization.IncrementalMicrobatch =>
        runMicrobatch(m, mb, fullRefresh)
    }
    m.postHooks.foreach(h => runHook(name, h, Some(name)))
    rows
  }

  /** Event-time window arithmetic for the microbatch strategy.
    * Boundaries parse as `yyyy-MM-dd` or ISO `yyyy-MM-dd'T'HH:mm[:ss]`
    * (space-free, so they survive argv tokenization like
    * `snapshot --at`); all comparisons happen in SQL-timestamp text
    * space via `to_timestamp`, i.e. the session time zone — the same
    * space the data's own timestamp literals live in.
    */
  private object Microbatch {
    import java.time.{LocalDate, LocalDateTime}
    import java.time.temporal.ChronoUnit
    private val sqlFmt =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    private val dirFmtP =
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmm")
    def parseTs(flag: String, s: String): LocalDateTime =
      try {
        if (s.length == 10) LocalDate.parse(s).atStartOfDay
        else LocalDateTime.parse(s)
      } catch {
        case e: java.time.format.DateTimeParseException => sys.error(
          s"$flag: unparseable timestamp '$s' " +
            "(expect yyyy-MM-dd or yyyy-MM-dd'T'HH:mm[:ss]): " + e.getMessage)
      }
    def trunc(t: LocalDateTime, unit: String): LocalDateTime = unit match {
      case "hour"  => t.truncatedTo(ChronoUnit.HOURS)
      case "day"   => t.toLocalDate.atStartOfDay
      case "month" => t.toLocalDate.withDayOfMonth(1).atStartOfDay
      case "year"  => t.toLocalDate.withDayOfYear(1).atStartOfDay
      case other => sys.error(
        s"unknown microbatch batch_size: $other (hour|day|month|year)")
    }
    def plus(t: LocalDateTime, unit: String, n: Int): LocalDateTime =
      unit match {
        case "hour"  => t.plusHours(n.toLong)
        case "day"   => t.plusDays(n.toLong)
        case "month" => t.plusMonths(n.toLong)
        case "year"  => t.plusYears(n.toLong)
        case other => sys.error(
          s"unknown microbatch batch_size: $other (hour|day|month|year)")
      }
    def sql(t: LocalDateTime): String = sqlFmt.format(t)
    def dirLabel(t: LocalDateTime): String = dirFmtP.format(t)
  }

  /** The microbatch write path: one independent, idempotent,
    * atomically-committed job per event-time window (dbt-core 1.9
    * `incremental_strategy='microbatch'`; see
    * [[Materialization.IncrementalMicrobatch]] for the semantics and
    * the 100 TB rationale).
    *
    * Window plan (dbt's): initial build / `--full-refresh` processes
    * `begin` → `--event-time-end`; a scheduled incremental run
    * processes the current window plus `lookback` closed ones;
    * `--event-time-start` overrides the start for explicit backfills.
    * The final window is clamped to the end clock, so a mid-window
    * run loads a partial batch that the next run's lookback
    * re-processes in full — exactly dbt's late-data healing.
    *
    * Storage: each window's rows live under a `__gwindow=<start>`
    * partition member; a batch commit swaps exactly that window's
    * members in the manifest (the insert_overwrite mechanics at
    * window granularity), so each window commits atomically and
    * INDEPENDENTLY — a failure mid-backfill keeps every completed
    * window, and re-running any window replaces it byte-for-byte
    * idempotently. An empty window still swaps (to nothing): a
    * re-processed window whose rows vanished upstream must lose its
    * stale member, not keep it.
    */
  private def runMicrobatch(m: Model,
      mb: Materialization.IncrementalMicrobatch,
      fullRefresh: Boolean): Long = {
    import Microbatch._
    val name = m.name
    val unit = mb.batchSize
    val end = cmdEventTime._2
      .map(parseTs("--event-time-end", _))
      .getOrElse {
        // --empty is a schema-only dry run: no event clock needed —
        // synthesize one window at `begin` (its inputs are LIMIT 0,
        // so it materializes the empty relation like any other kind)
        if (cmdEmpty)
          plus(parseTs(s"microbatch begin on $name", mb.begin), unit, 1)
        else sys.error(
          s"microbatch model $name requires run --event-time-end <ts> — " +
            "the injected event clock (dbt uses wall-clock 'now'; this " +
            "engine injects it for deterministic runs, like snapshot --at)")
      }
    val fresh = !tableExists(name) || fullRefresh
    val start = cmdEventTime._1.map(parseTs("--event-time-start", _))
      .getOrElse(
        if (fresh) parseTs(s"microbatch begin on $name", mb.begin)
        else plus(trunc(end, unit), unit, -mb.lookback))
    require(start.isBefore(end),
      s"microbatch on $name: empty window [$start, $end)")
    val windows = Iterator.iterate(trunc(start, unit))(plus(_, unit, 1))
      .takeWhile(_.isBefore(end)).toSeq

    // one window job: build against window-filtered inputs, clamp the
    // output, write the batch, and swap the window's members as an
    // atomic read-modify-publish under the table lock (safe for
    // concurrent windows). `resetManifest` = this commit IS the
    // fresh/full-refresh baseline and discards all prior members.
    def runWindow(w: java.time.LocalDateTime,
        resetManifest: Boolean): Long = tracked {
      val wEnd = plus(w, unit, 1)
      val hi = if (wEnd.isAfter(end)) end else wEnd
      val bounds = (sql(w), sql(hi))
      val built = buildDfWith(m, inputs(m, Some(bounds)), fullRefresh)
      enforceContract(name, m, built)
      // bound the OUTPUT to the window too — batch replacement is
      // only idempotent when every row lands in its window's member
      val batchDf = built
        .filter(col(mb.eventTime) >= to_timestamp(lit(bounds._1)) &&
          col(mb.eventTime) < to_timestamp(lit(bounds._2)))
        .withColumn(GWindow, lit(dirLabel(w)))
      val (schema, outDf) =
        if (resetManifest) (batchDf.schema, batchDf)
        else applySchemaChange(name, mb.onSchemaChange,
          currentSchema(name).getOrElse(batchDf.schema), batchDf)
      // no repartition: the batch holds exactly one window, so the
      // partitioned write has a single leaf dir — every task writes
      // its own file there in parallel (no small-file explosion, and
      // a constant-column repartition would collapse the write to
      // one task)
      val batch = writeBatch(name, p => outDf.write.mode("overwrite")
        .partitionBy(GWindow).parquet(p))
      val newMembers = partitionMembers(name, batch, 1)
      val winKey = s"$GWindow=${dirLabel(w)}"
      def partKey(mm: String) = mm.split('/').drop(2).mkString("/")
      lockFor(name).synchronized {
        val members =
          if (resetManifest) newMembers
          else {
            val cur = currentManifest(name).get
            val nonPart = cur.filter(mm => mm.split('/').length != 3)
            require(nonPart.isEmpty,
              s"microbatch on $name: existing members are not " +
                s"window-scoped (e.g. ${nonPart.head}); full-refresh " +
                "the table before switching materialization")
            cur.filterNot(mm => partKey(mm) == winKey) ++ newMembers
          }
        publishManifest(name, members, schema)
      }
      writtenCount(name, batch, outDf.schema)
    }

    // the first window always runs alone: when fresh it ESTABLISHES
    // the new baseline manifest the remaining windows extend
    var total = runWindow(windows.head, resetManifest = fresh)
    val rest = windows.tail
    if (rest.nonEmpty) {
      if (!mb.concurrentBatches) rest.foreach(w => total += runWindow(w, false))
      else {
        // dbt 1.9 concurrent_batches: windows are independent and
        // each commits atomically, so a pool just overlaps their
        // (cluster-parallel) jobs; per-window failure still keeps
        // every completed window
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(rest.size, 8))
        try {
          val futs = rest.map(w => pool.submit(
            new java.util.concurrent.Callable[Long] {
              def call(): Long = runWindow(w, resetManifest = false)
            }))
          futs.foreach(f =>
            try total += f.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                pool.shutdownNow()
                throw e.getCause
            })
        } finally pool.shutdown()
      }
    }
    total
  }

  /** Merge-on-read write path (see
    * [[Materialization.IncrementalMergeOnRead]]): append the batch as
    * ONE new member stamped `__gver = prev + 1` — no existing member
    * is read, rewritten, or moved (O(delta) I/O unconditionally,
    * where copy-on-write merge rewrites touched buckets). The key
    * list and version stamp ride as sidecars INSIDE the manifest, so
    * read-side reconciliation config commits atomically with the
    * data; `reconcileMor` resolves latest-version-wins at read time
    * and `compact` folds superseded versions away.
    */
  private def mergeOnRead(name: String, df: DataFrame, keys: Seq[String],
      fullRefresh: Boolean, osc: OnSchemaChange,
      sidecars: Map[String, String] = Map.empty,
      deleteCol: Option[String] = None): Long = {
    require(keys.nonEmpty, s"merge_on_read on $name needs a unique_key")
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField}
    // consume the CDC delete flag into the hidden tombstone marker
    // BEFORE any schema handling — the flag column itself never
    // reaches the table surface
    val delFlag = deleteCol
      .map(c => coalesce(col(c).cast(BooleanType), lit(false)))
      .getOrElse(lit(false))
    val tagged = {
      val t = df.withColumn(GDel, delFlag)
      deleteCol.map(t.drop(_)).getOrElse(t)
    }
    if (!tableExists(name) || fullRefresh) {
      val base = tagged.withColumn(GVer, lit(0L))
      val rel = writeBatch(name,
        p => base.write.mode("overwrite").parquet(p))
      publishManifest(name, Seq(rel), base.schema, sidecars = sidecars ++
        Map(MorKeys -> keys.mkString(","), MorVer -> "0"))
      writtenCount(name, rel, base.schema)
    } else {
      require(genSidecar(name, MorKeys).contains(keys.mkString(",")),
        s"merge_on_read on $name: stored table reconciles on " +
          s"${genSidecar(name, MorKeys).getOrElse("<none>")}, model " +
          s"declares ${keys.mkString(",")} — full-refresh to change " +
          "the unique_key (or the source materialization)")
      // schema evolution over surface + tombstone marker: declaring
      // GDel as part of the compared stored shape keeps it through
      // EVERY on_schema_change mode (Ignore's projection onto the
      // stored schema would otherwise silently drop tombstones; a
      // pre-delete-support table gains the column, its old members
      // read NULL → kept). Only GVer stays outside the comparison.
      val stored = currentSchema(name).getOrElse(tagged.schema)
      val storedCmp = StructType(stored.fields
        .filterNot(f => f.name == GVer || f.name == GDel) :+
        StructField(GDel, BooleanType))
      val (evolvedCmp, batchDf) =
        applySchemaChange(name, osc, storedCmp, tagged)
      val ver = genSidecar(name, MorVer).map(_.toLong).getOrElse(0L) + 1
      val delta = batchDf.withColumn(GVer, lit(ver))
      val evolved = StructType(evolvedCmp.fields :+
        stored.fields.find(_.name == GVer)
          .getOrElse(StructField(GVer, LongType)))
      val deltaBatch = writeBatch(name,
        p => delta.write.mode("overwrite").parquet(p))
      publishManifest(name, currentManifest(name).get :+ deltaBatch,
        evolved, sidecars = sidecars ++ Map(MorVer -> ver.toString))
      val n = writtenCount(name, deltaBatch, delta.schema)
      maybeAutoCompact(name)
      n
    }
  }

  /** The merge write path (shared by the `IncrementalMerge`
    * materialization and the streaming `mergeBatch` sink). `sidecars`
    * commit atomically with the member swap.
    */
  private def mergeInto(name: String, df: DataFrame, keys: Seq[String],
      buckets: Int, userParts: Seq[String], fullRefresh: Boolean,
      sidecars: Map[String, String] = Map.empty,
      osc: OnSchemaChange = OnSchemaChange.AppendNewColumns): Long = {
    val partCols = userParts :+ GBucket
    val depth = partCols.size
    val newB = df.withColumn(GBucket,
      pmod(xxhash64(keys.map(col): _*), lit(buckets)))
    def writePartitioned(data: DataFrame): (String, Seq[String]) = {
      // cluster rows by partition+bucket before the partitioned
      // write: without it every write task emits a file into every
      // leaf dir (tasks × leaves small files per batch — file-count
      // death at scale); with it each leaf gets one file and
      // write parallelism = touched leaves
      val batch = writeBatch(name, p => data
        .repartition(partCols.map(col): _*).write.mode("overwrite")
        .partitionBy(partCols: _*).parquet(p))
      (batch, partitionMembers(name, batch, depth))
    }
    if (!tableExists(name) || fullRefresh) {
      val (batch, members) = writePartitioned(newB)
      // may be a full-refresh switch away from merge_on_read — clear
      // its sidecars with the content they described
      publishManifest(name, members, newB.schema, sidecars,
        dropSidecars = Set(MorKeys, MorVer))
      writtenCount(name, batch, newB.schema)
    } else {
      // explicit MoR check before the layout check: a merge_on_read
      // table's whole-batch members would fail the member-shape
      // require below anyway, but with a misleading "not scoped to
      // __gbucket" message — name the real conflict
      require(genSidecar(name, MorKeys).isEmpty,
        s"merge on $name: table is merge_on_read (version-reconciled); " +
          "use mergeBatchOnRead / merge_on_read materialization, or " +
          "full-refresh before switching to copy-on-write merge")
      val stored = currentSchema(name).getOrElse(newB.schema)
      val (evolved, evolvedB) = applySchemaChange(name, osc, stored, newB)
      val cur = currentManifest(name).get
      val nonPart = cur.filter(m => m.split('/').length != 2 + depth)
      require(nonPart.isEmpty,
        s"merge on $name: existing members are not scoped to " +
          s"${partCols.mkString("/")} " +
          s"(e.g. ${nonPart.headOption.getOrElse("")}); full-refresh " +
          "before switching materialization or partitioning")
      // Write the new batch FIRST: the model's build lineage runs
      // exactly once, the written partition dirs name the touched
      // buckets, and the anti-join keys are re-read from the
      // written parquet (a key-column footer scan), not recomputed
      val (newBatch, newMembers) = writePartitioned(evolvedB)
      def partKey(m: String) = m.split('/').drop(2).mkString("/")
      val touched = newMembers.map(partKey).toSet
      val (touchedM, untouchedM) = cur.partition(m => touched(partKey(m)))
      // carry = existing touched-bucket rows whose key was NOT
      // upserted; written as a sibling batch (≤ 2 members per
      // bucket at any time — the next merge of a bucket collapses
      // them again)
      val carryMembers =
        if (touchedM.isEmpty) Nil
        else {
          val newKeys = spark.read.schema(evolved)
            .parquet(s"${tablePath(name)}/$newBatch")
            .select(keys.map(col): _*)
          val carry = readMembers(name, touchedM, stored)
            .join(newKeys, keys, "left_anti")
          writePartitioned(carry)._2
        }
      publishManifest(name,
        untouchedM ++ newMembers ++ carryMembers, evolved, sidecars)
      writtenCount(name, newBatch, evolved)
    }
  }

  /** foreachBatch-compatible exactly-once streaming MERGE — the
    * streaming-upsert sink (what Delta's `foreachBatch` + MERGE
    * pattern does, on this vanilla-parquet storage layer): each
    * micro-batch upserts on `uniqueKey` into the bucket-scoped merge
    * layout, the committed-batchId bookkeeping rides in the SAME
    * atomic manifest flip as the member swap, and a redelivered
    * micro-batch is a no-op. Composes with a user partition column
    * exactly like `IncrementalMerge(partitionBy = …)`. Returns rows
    * upserted (0 for a replayed batch).
    */
  def mergeBatch(name: String, df: DataFrame, batchId: Long,
      uniqueKey: Seq[String], buckets: Int = 16,
      partitionBy: Seq[String] = Nil,
      sidecars: Map[String, String] = Map.empty): Long =
    lockFor(name).synchronized {
      withStreamLedger(name, batchId) { ledger =>
        tracked {
          val n = mergeInto(name, df, uniqueKey, buckets, partitionBy,
            fullRefresh = false, sidecars = sidecars ++ ledger)
          maybeAutoCompact(name)
          n
        }
      }
    }

  /** foreachBatch-compatible exactly-once MERGE-ON-READ sink — the
    * streaming-CDC shape: each micro-batch APPENDS one versioned
    * member (zero write amplification at any upsert frequency, where
    * `mergeBatch`'s copy-on-write rewrites touched buckets per
    * micro-batch); reads reconcile latest-version-wins and
    * auto-compaction bounds the member count. The committed-batchId
    * ledger rides the same manifest sidecar as `appendBatch`, so a
    * replayed micro-batch is a no-op — exactly-once contents on top
    * of the source's replay.
    */
  def mergeBatchOnRead(name: String, df: DataFrame, batchId: Long,
      uniqueKey: Seq[String],
      sidecars: Map[String, String] = Map.empty,
      deleteCol: Option[String] = None): Long =
    lockFor(name).synchronized {
      withStreamLedger(name, batchId) { ledger =>
        tracked {
          mergeOnRead(name, df, uniqueKey, fullRefresh = false,
            osc = OnSchemaChange.AppendNewColumns,
            sidecars = sidecars ++ ledger, deleteCol = deleteCol)
        }
      }
    }

  /** Load one seed CSV (header + declared schema) and publish it. */
  private def runSeed(seed: Seed): Long = tracked {
    val df = csvRows(seed.csvLines, seed.schema)
    val rel = publish(seed.name, df.schema,
      p => df.write.mode("overwrite").parquet(p))
    writtenCount(seed.name, rel, df.schema)
  }

  /** One SCD2 snapshot step at the injected timestamp `asOf`.
    *
    * Storage is append-only on the closed history: batches are
    * partitioned on the hidden `__open` flag; each run reads ONLY the
    * current open member, appends the newly-closed delta, and swaps in
    * the new open member — O(open + changes) I/O per run. Closed
    * members are never rewritten (a full-history republish per
    * scheduled snapshot would be O(table)).
    */
  private def runSnapshot(sn: SnapshotDef, asOf: String): Long = tracked {
    val source =
      if (tableExists(sn.source)) readTable(sn.source)
      else spark.table(sn.source)
    val prevOpen =
      if (!tableExists(sn.name)) None
      else {
        val openM = currentManifest(sn.name).get
          .filter(_.endsWith(s"$OpenCol=true"))
        // all keys hard-deleted leaves a generation with no open member
        if (openM.isEmpty) None
        else Some(readMembers(sn.name, openM, currentSchema(sn.name).get)
          .drop(OpenCol))
      }
    // dbt `check_cols: all` — track every non-key source column,
    // resolved against the live schema (guarded against the stored
    // one below)
    val compareCols =
      if (sn.compareCols == Seq("all"))
        source.columns.toSeq.filterNot(sn.keyCols.contains)
      else sn.compareCols
    // Snapshot history is append-only: closed rows are never
    // rewritten, so a change to the TRACKED columns (key + compare —
    // all the SCD2 step stores) cannot be absorbed — fail loudly with
    // the diff instead of crashing later inside the SCD2 join/union
    // with an unresolved-column error. Untracked source columns are
    // not stored, so they may come and go.
    prevOpen.foreach { po =>
      // engine-added columns (SCD2 validity range, the
      // hard_deletes=new_record deletion flag) are not source shape
      val stored = po.columns.toSet --
        Set("valid_from", "valid_to", Snapshot.DeletedCol)
      val live = (sn.keyCols ++ compareCols).toSet
        .filter(source.columns.contains)
      if (stored != live) sys.error(
        s"snapshot ${sn.name}: source schema changed (stored: " +
          s"${stored.toSeq.sorted.mkString(",")}; live: " +
          s"${live.toSeq.sorted.mkString(",")}) — snapshot history " +
          "is append-only; declare a new snapshot for the new shape")
    }
    val (closedDelta, nextOpen) = sn.strategy match {
      case SnapshotStrategy.Check =>
        Snapshot.scd2Step(prevOpen, source, sn.keyCols, compareCols,
          asOf, sn.hardDeletes)
      case SnapshotStrategy.Timestamp(tsCol) =>
        Snapshot.scd2StepTimestamp(prevOpen, source, sn.keyCols,
          compareCols, tsCol, asOf, sn.hardDeletes)
    }
    val out = closedDelta.unionByName(nextOpen)
      .withColumn(OpenCol, col("valid_to").isNull)
    val batch = writeBatch(sn.name, p => out.repartition(col(OpenCol))
      .write.mode("overwrite").partitionBy(OpenCol).parquet(p))
    val newMembers = partitionMembers(sn.name, batch, 1)
    val closedM =
      if (!tableExists(sn.name)) Nil
      else currentManifest(sn.name).get
        .filterNot(_.endsWith(s"$OpenCol=true"))
    publishManifest(sn.name, closedM ++ newMembers, out.schema)
    val n = writtenCount(sn.name, batch, out.schema)
    maybeAutoCompact(sn.name)
    n
  }

  /** Execute one data test under its config: count violations
    * (limit-capped; a zero-only threshold short-circuits after the
    * first violating row), judge with dbt's warn_if / error_if
    * precedence, log the outcome. Returns (Some(name) when the test
    * FAILS, whether it warned).
    */
  private def runTest(t: DataTest,
      storeAll: Boolean = false): (Option[String], Boolean) = {
    val viol = DataTests.violations(spark, this, t)
    val n =
      if (storeAll || t.config.storeFailures)
        // the stored audit rows ARE the judged count (and the write
        // already knows it — no second scan of the violations query)
        replaceTable(s"dbt_test__audit_${t.name}", viol)
      else if (t.config.zeroOnly) viol.limit(1).count()
      else viol.count()
    val (judgedFails, warns) = t.config.judge(n)
    // dbt --warn-error: a warning IS a failure for this invocation
    val fails = judgedFails || (warns && cmdWarnError)
    if (fails)
      logger.log(LogLevel.ERROR, s"test ${t.name} failed ($n violations)" +
        (if (judgedFails) "" else " [--warn-error]"))
    else if (warns)
      logger.log(LogLevel.WARNING, s"test ${t.name}: warn ($n violations)")
    (if (fails) Some(t.name) else None, warns && !fails)
  }

  /** Header+schema CSV-lines loading shared by seeds and unit-test
    * fixtures — one parser, so fixture semantics can never diverge
    * from seed semantics.
    */
  private def csvRows(lines: Seq[String], schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema)
      .csv(spark.createDataset(lines)(
        org.apache.spark.sql.Encoders.STRING))

  private def loadFixture(f: Fixture): DataFrame =
    csvRows(f.csvLines, f.schema)

  /** Execute one unit test ([[UnitTest]] semantics): build the model
    * against its mocked inputs only and multiset-compare the output's
    * expect-columns to the expected rows. Returns Some(message) on a
    * failure, None on pass. Model state (warehouse tables, temp
    * views) is never read or written — the mocked build goes through
    * the model's own `buildC`, so `{{ var }}` rendering and the
    * is_incremental guard (always FALSE here) behave exactly as a
    * real initial run.
    */
  private def runUnitTest(u: UnitTest): Option[String] = {
    val m = spec.models.find(_.name == u.model).getOrElse(
      sys.error(s"unit test ${u.name}: unknown model ${u.model}"))
    val unmocked = m.deps.filterNot(u.given.contains)
    require(unmocked.isEmpty,
      s"unit test ${u.name}: every input of ${u.model} must be mocked " +
        s"in `given` (missing: ${unmocked.mkString(",")})")
    val mocked = u.given.map { case (k, f) => k -> loadFixture(f) }
    val ctx = BuildCtx(vars = u.vars) // isIncremental=false, no {{this}}
    val actual = m.buildC match {
      case Some(f) => f(spark, mocked, ctx)
      case None => m.buildV match {
        case Some(f) => f(spark, mocked, u.vars)
        case None    => m.build(spark, mocked)
      }
    }
    val expected = loadFixture(u.expect)
    val cols = expected.columns.toSeq
    val absentCols = cols.filterNot(actual.columns.contains)
    if (absentCols.nonEmpty)
      return Some(s"output lacks expected columns: " +
        absentCols.mkString(","))
    val proj = actual.select(cols.map(col): _*)
    val typed = expected.select(cols.map(c =>
      col(c).cast(proj.schema(c).dataType).as(c)): _*)
    // one job for both directions; fixture-sized data, so the
    // driver-side collect is bounded by the fixtures themselves
    val extra  = proj.exceptAll(typed).count()
    val absent = typed.exceptAll(proj).count()
    if (extra == 0 && absent == 0) None
    else Some(s"$extra unexpected rows, $absent missing rows " +
      s"(compared on: ${cols.mkString(",")})")
  }

  /** Run `units` with per-test error capture, logging failures —
    * shared by `test`, `build` and `retry`. Returns
    * (name, passed) per test.
    */
  private def runUnitTests(units: Seq[UnitTest]): Seq[(String, Boolean)] =
    units.map { u =>
      val failure =
        try runUnitTest(u)
        catch { case e: Exception => Some(String.valueOf(e.getMessage)) }
      failure.foreach(msg => logger.log(LogLevel.ERROR,
        s"unit test ${u.name} failed: $msg"))
      (u.name, failure.isEmpty)
    }

  /** The invocation's `--vars` map (dbt `run --vars '{"k": v}'`),
    * set per command and read by var-aware model builds
    * ([[Model.sql]]'s `{{ var(...) }}` rendering). Set BEFORE models
    * run (including `--threads` pool workers) and constant for the
    * command's duration, so no synchronization is needed.
    */
  private var cmdVars: Map[String, String] = Map.empty

  /** The invocation's `--event-time-start` / `--event-time-end`
    * bounds (dbt's microbatch backfill flags) — the injected event
    * clock microbatch models window against. Same lifecycle as
    * [[cmdVars]]: set per command, constant for its duration.
    */
  private var cmdEventTime: (Option[String], Option[String]) = (None, None)

  /** True when `is_incremental()` renders true for this model on this
    * invocation: it IS an incremental materialization, its target
    * exists, and the run is not `--full-refresh` (dbt-core 1.9).
    */
  private def isIncrementalRun(m: Model, fullRefresh: Boolean): Boolean =
    (m.materialization match {
      case _: Materialization.IncrementalAppend          => true
      case _: Materialization.IncrementalInsertOverwrite => true
      case _: Materialization.IncrementalMerge           => true
      case _: Materialization.IncrementalMergeOnRead     => true
      case _: Materialization.IncrementalMicrobatch      => true
      case _                                             => false
    }) && !fullRefresh && tableExists(m.name)

  private[pipeline] def buildCtx(m: Model, fullRefresh: Boolean): BuildCtx =
    BuildCtx(cmdVars, isIncrementalRun(m, fullRefresh),
      if (tableExists(m.name)) Some(() => readTable(m.name)) else None)

  private def buildDf(m: Model, fullRefresh: Boolean = false): DataFrame =
    buildDfWith(m, inputs(m), fullRefresh)

  /** Build against explicit input frames — the microbatch path passes
    * window-filtered inputs; everything else routes through
    * [[buildDf]] with the plain resolution.
    */
  private def buildDfWith(m: Model, ins: Map[String, DataFrame],
      fullRefresh: Boolean): DataFrame =
    m.buildC match {
      case Some(f) => f(spark, ins, buildCtx(m, fullRefresh))
      case None => m.buildV match {
        case Some(f) => f(spark, ins, cmdVars)
        case None    => m.build(spark, ins)
      }
    }

  /** Parse dbt's `--vars` payload: a FLAT JSON object of scalars
    * (string / number / boolean — what `dbt run --vars` carries in
    * practice; nested collections are rejected loudly). Values render
    * to their Jinja substitution text: strings bare (unescaped),
    * numbers and booleans verbatim — the model text supplies SQL
    * quoting, exactly as in a dbt model file. Decimals parse as
    * BigDecimal so `1.50` keeps its scale; anything after the object
    * is malformed input, not ignored.
    */
  private def parseVarsJson(s: String): Map[String, String] = {
    import com.fasterxml.jackson.databind.DeserializationFeature._
    val fields = scala.util.Try(JsonMethods.mapper.readerFor(classOf[JValue])
      .`with`(USE_BIG_DECIMAL_FOR_FLOATS, FAIL_ON_TRAILING_TOKENS)
      .readValue[JValue](s)) match {
      case scala.util.Success(JObject(fs)) => fs
      case scala.util.Success(_) =>
        sys.error(s"--vars expects a JSON object, got: $s")
      case scala.util.Failure(e) =>
        sys.error(s"--vars: malformed JSON (${e.getMessage}): $s")
    }
    fields.map { case (k, v) =>
      k -> (v match {
        case JString(x) => x
        case JInt(n) => n.toString
        case JDecimal(d) => d.toString
        case JBool(b) => b.toString
        case JNull => "null"
        case _ => sys.error(
          s"--vars: value for $k must be a scalar (got ${JsonMethods.compact(v)})")
      })
    }.toMap
  }

  /** argv tokenization with single-quote spans, so
    * `run --vars '{"k": "a b"}'` arrives as ONE token — the same
    * grouping a shell hands dbt. A quote only OPENS a span at token
    * start; an apostrophe inside a token (a selector or `--at` value
    * containing `'`) is a literal character, so quote-free commands
    * tokenize exactly as a whitespace split would.
    */
  private def tokenize(command: String): Seq[String] = {
    val out = mutable.Buffer.empty[String]
    val sb = new StringBuilder
    var quoted = false
    command.trim.foreach { c =>
      if (quoted) { if (c == '\'') quoted = false else sb += c }
      else if (c == '\'' && sb.isEmpty) quoted = true
      else if (c.isWhitespace) {
        if (sb.nonEmpty) { out += sb.result(); sb.clear() }
      } else sb += c
    }
    require(!quoted, s"unterminated quote in command: $command")
    if (sb.nonEmpty) out += sb.result()
    out.toSeq
  }

  /** Shared select/exclude argv parsing: `--select` / `-s` and
    * `--exclude` each consume EVERY following non-flag token (dbt's
    * space-separated union), may repeat, and compose with the
    * command-specific flags handled by `other`; `--state <dir>` feeds
    * the `state:` selector methods. Returns None on an unrecognized
    * flag so runCommand reports "unknown command".
    */
  private def parseSelFlags(flags: Seq[String])(
      other: PartialFunction[List[String], List[String]])
      : Option[Selection] = {
    val inc = mutable.Buffer.empty[String]
    val exc = mutable.Buffer.empty[String]
    var state: Option[String] = None
    var selName: Option[String] = None
    var rest = flags.toList
    while (rest.nonEmpty) rest match {
      case ("--select" | "-s") :: t =>
        val (vals, t2) = t.span(!_.startsWith("-"))
        if (vals.isEmpty) return None
        inc ++= vals; rest = t2
      case "--state" :: v :: t if !v.startsWith("-") =>
        state = Some(v); rest = t
      case "--selector" :: v :: t if !v.startsWith("-") =>
        selName = Some(v); rest = t
      case "--exclude" :: t =>
        val (vals, t2) = t.span(!_.startsWith("-"))
        if (vals.isEmpty) return None
        exc ++= vals; rest = t2
      case r if other.isDefinedAt(r) => rest = other(r)
      case _ => return None
    }
    // named selectors materialize HERE, so commands that branch on
    // "no selection given" (seed/snapshot/test fast paths) see the
    // resolved atoms; dbt's default selector applies exactly when the
    // command carries no explicit selection at all
    val resolved = resolveSelector(
      Selection(inc.toSeq, exc.toSeq, state, selName))
    Some(
      if (resolved.include.isEmpty && resolved.exclude.isEmpty)
        spec.selectors.find(_.default).fold(resolved)(d =>
          Selection(d.include, d.exclude, state))
      else resolved)
  }

  /** `test` flags: select/exclude plus `--store-failures` (dbt's
    * flag forcing every run test to persist its violating rows).
    */
  private final case class TestFlags(sel: Selection, store: Boolean,
      defer: Boolean, warnError: Boolean, favorState: Boolean,
      indirect: String)

  private def parseTestFlags(flags: Seq[String]): Option[TestFlags] = {
    var store = false
    var defer = false
    var warnError = false
    var favorState = false
    var indirect = "eager"
    parseSelFlags(flags) {
      case "--store-failures" :: t => store = true; t
      case "--defer" :: t => defer = true; t
      case "--warn-error" :: t => warnError = true; t
      case "--favor-state" :: t => favorState = true; t
      case "--indirect-selection" :: v :: t => indirect = checkIndirect(v); t
    }.map(TestFlags(_, store, defer, warnError, favorState, indirect))
  }

  /** Validate an `--indirect-selection` mode at PARSE time, so a typo
    * fails the command even when no selection follows (the
    * no-selection fast path never builds the predicate).
    */
  private def checkIndirect(v: String): String = {
    require(Set("eager", "cautious", "buildable", "empty")(v),
      s"unknown --indirect-selection mode: $v " +
        "(eager|cautious|buildable|empty)")
    v
  }

  /** dbt `--indirect-selection` (1.9): which ATTACHED tests join a
    * node selection. eager (default) — any referenced node selected;
    * cautious — every referenced node selected; buildable — every
    * referenced node selected or an ancestor of the selection;
    * empty — only tests selected directly by their own name.
    */
  private def indirectTestPred(deps: Map[String, Seq[String]],
      names: Set[String], mode: String): DataTest => Boolean =
    checkIndirect(mode) match {
      case "eager"    => t => names(t.name) || t.refs.exists(names)
      case "cautious" => t => names(t.name) || t.refs.forall(names)
      case "buildable" =>
        val ok = names ++ ancestorsOf(deps, names.filter(deps.contains))
        t => names(t.name) || t.refs.forall(ok)
      case _ => t => names(t.name) // empty
    }

  /** `clone` flags: select/exclude (with `--state`, required) plus
    * `--full-refresh` to overwrite existing local relations.
    */
  private def parseCloneFlags(flags: Seq[String])
      : Option[(Selection, Boolean)] = {
    var fullRefresh = false
    parseSelFlags(flags) {
      case "--full-refresh" :: t => fullRefresh = true; t
    }.map((_, fullRefresh))
  }

  /** `snapshot` flags: `--at <ts>` (required, the injected clock)
    * plus select/exclude.
    */
  private def parseSnapshotFlags(flags: Seq[String])
      : Option[(Selection, Option[String])] = {
    var at: Option[String] = None
    parseSelFlags(flags) {
      case "--at" :: v :: t => at = Some(v); t
    }.map((_, at))
  }

  /** `source freshness` flags: `--at <ts>` (required, the injected
    * clock), `--warn-error`, plus select/exclude (dbt's
    * `source freshness --select <source>` narrowing).
    */
  private def parseFreshnessFlags(flags: Seq[String])
      : Option[(Selection, Option[String], Boolean)] = {
    var at: Option[String] = None
    var warnError = false
    parseSelFlags(flags) {
      case "--at" :: v :: t => at = Some(v); t
      case "--warn-error" :: t => warnError = true; t
    }.map((_, at, warnError))
  }

  /** dbt `seed/snapshot --select`: an empty selection means all. */
  private def chosenSeeds(sel: Selection): Seq[Seed] =
    if (sel.include.isEmpty && sel.exclude.isEmpty) spec.seeds
    else {
      val names = selectIn(resourceDeps, sel, lenient = true)
      spec.seeds.filter(sd => names(sd.name))
    }

  private def chosenSnapshots(sel: Selection): Seq[SnapshotDef] =
    if (sel.include.isEmpty && sel.exclude.isEmpty) spec.snapshots
    else {
      val names = selectIn(resourceDeps, sel, lenient = true)
      spec.snapshots.filter(sn => names(sn.name))
    }

  /** `vacuum` flags: select/exclude plus `--keep <n>` retained
    * generations (default 1 — live only).
    */
  private def parseVacuumFlags(flags: Seq[String])
      : Option[(Selection, Int, Long)] = {
    var keep = 1
    var minAge = PipelineRunner.DefaultVacuumGraceMs
    parseSelFlags(flags) {
      case "--keep" :: v :: t if v.forall(_.isDigit) && v.nonEmpty =>
        keep = v.toInt; t
      // Delta `VACUUM ... RETAIN` analogue: lower ONLY when no other
      // process can be mid-publish (CI teardown, single-writer batch)
      case "--min-age-ms" :: v :: t if v.forall(_.isDigit) && v.nonEmpty =>
        minAge = v.toLong; t
    }.map((_, keep, minAge))
  }

  /** `run` flags: select/exclude plus `--threads <n>`,
    * `--full-refresh` (dbt's escape hatch — rebuilds selected
    * incremental/merge tables from scratch, the command the
    * materialization-switch guards direct users to) and
    * `--vars <json>`.
    */
  private final case class RunFlags(sel: Selection, threads: Int,
      fullRefresh: Boolean, vars: Map[String, String], defer: Boolean,
      failFast: Boolean, empty: Boolean,
      eventTime: (Option[String], Option[String]),
      favorState: Boolean)

  private def parseRunFlags(flags: Seq[String]): Option[RunFlags] = {
    var threads = 1
    var fullRefresh = false
    var vars = Map.empty[String, String]
    var defer = false
    var failFast = false
    var empty = false
    var etStart: Option[String] = None
    var etEnd: Option[String] = None
    var favorState = false
    parseSelFlags(flags) {
      case "--threads" :: v :: t if v.forall(_.isDigit) =>
        threads = v.toInt; t
      case "--full-refresh" :: t => fullRefresh = true; t
      case "--vars" :: v :: t => vars = parseVarsJson(v); t
      case "--defer" :: t => defer = true; t
      case "--fail-fast" :: t => failFast = true; t
      case "--empty" :: t => empty = true; t
      case "--event-time-start" :: v :: t => etStart = Some(v); t
      case "--event-time-end" :: v :: t => etEnd = Some(v); t
      case "--favor-state" :: t => favorState = true; t
    }.map(RunFlags(_, threads, fullRefresh, vars, defer, failFast, empty,
      (etStart, etEnd), favorState))
  }

  /** `build` flags: select/exclude, `--full-refresh`, `--at <ts>`
    * (snapshot clock — space-free timestamp, same as `snapshot --at`)
    * and `--vars <json>`.
    */
  private final case class BuildFlags(sel: Selection,
      fullRefresh: Boolean, at: Option[String],
      vars: Map[String, String], defer: Boolean, empty: Boolean,
      eventTime: (Option[String], Option[String]),
      warnError: Boolean, favorState: Boolean,
      indirect: String = "eager")

  private def parseBuildFlags(flags: Seq[String]): Option[BuildFlags] = {
    var fullRefresh = false
    var at: Option[String] = None
    var vars = Map.empty[String, String]
    var defer = false
    var empty = false
    var etStart: Option[String] = None
    var etEnd: Option[String] = None
    var warnError = false
    var favorState = false
    var indirect = "eager"
    parseSelFlags(flags) {
      case "--full-refresh" :: t => fullRefresh = true; t
      case "--at" :: v :: t => at = Some(v); t
      case "--vars" :: v :: t => vars = parseVarsJson(v); t
      case "--defer" :: t => defer = true; t
      case "--empty" :: t => empty = true; t
      case "--event-time-start" :: v :: t => etStart = Some(v); t
      case "--event-time-end" :: v :: t => etEnd = Some(v); t
      case "--warn-error" :: t => warnError = true; t
      case "--favor-state" :: t => favorState = true; t
      case "--indirect-selection" :: v :: t => indirect = checkIndirect(v); t
    }.map(BuildFlags(_, fullRefresh, at, vars, defer, empty,
      (etStart, etEnd), warnError, favorState, indirect))
  }

  private def parseLsFlags(flags: Seq[String])
      : Option[(Selection, Option[String])] = {
    var rtype: Option[String] = None
    parseSelFlags(flags) {
      case "--resource-type" :: v :: t => rtype = Some(v); t
    }.map((_, rtype))
  }

  /** `compile` flags: select/exclude, `--vars`, `--full-refresh`
    * (flips `is_incremental()` in the rendered text, like dbt
    * compile's).
    */
  private def parseCompileFlags(flags: Seq[String])
      : Option[(Selection, Map[String, String], Boolean)] = {
    var vars = Map.empty[String, String]
    var fullRefresh = false
    parseSelFlags(flags) {
      case "--vars" :: v :: t => vars = parseVarsJson(v); t
      case "--full-refresh" :: t => fullRefresh = true; t
    }.map((_, vars, fullRefresh))
  }

  /** `show` flags: select/exclude, `--limit <n>` (preview rows,
    * dbt's default 5), `--vars`.
    */
  private def parseShowFlags(flags: Seq[String])
      : Option[(Selection, Int, Map[String, String], Option[String])] = {
    var limit = 5
    var vars = Map.empty[String, String]
    var inline: Option[String] = None
    parseSelFlags(flags) {
      case "--limit" :: v :: t if v.forall(_.isDigit) => limit = v.toInt; t
      case "--vars" :: v :: t => vars = parseVarsJson(v); t
      case "--inline" :: v :: t => inline = Some(v); t
    }.map((_, limit, vars, inline))
  }

  /** The `run` command body (also `retry` of a run, with `names`
    * restricted to the stored non-success frontier): execute with
    * skip-on-failure, record the run_results artifact under the
    * ORIGINAL command (`recordAs`) so a retry-of-a-retry keeps
    * resuming the same invocation, and report per-model failures with
    * their messages.
    */
  private def runModelsCommand(command: String, recordAs: String,
      names: Seq[String], threads: Int,
      fullRefresh: Boolean,
      failFast: Boolean = false): CommandResult = withRunHooks(command) {
    val outcomes = runModels(names, threads, fullRefresh, failFast)
    recordRunResults(recordAs, outcomes.map { case (n, st) =>
      ("model", n, st)
    })
    val counts = outcomes.collect {
      case (n, NodeStatus.Success(rows)) if rows >= 0 => n -> rows
    }.toMap
    val failed = outcomes.collect { case (n, f: NodeStatus.Failed) =>
      s"$n: ${f.msg}"
    }
    val skipped = outcomes.collect { case (n, NodeStatus.Skipped) => n }
    logger.log(LogLevel.INFO,
      s"ran ${names.size - failed.size - skipped.size}/${names.size} " +
        "models" + (if (fullRefresh) " (full-refresh)" else ""))
    CommandResult(command, failed.isEmpty, outcomes.map(_._1), counts,
      if (failed.isEmpty) None
      else Some(s"failed: ${failed.mkString("; ")}" +
        (if (skipped.nonEmpty)
          s"; skipped: ${skipped.sorted.mkString(",")}" else "")))
  }

  /** The `test` command body (also `retry` of a test): run the chosen
    * data tests concurrently on the session's cores (they are
    * independent reads; each `store_failures` audit table is its own),
    * each under its config, catching per-test errors (dbt's "error"
    * test status) so one broken test never aborts the rest, then the
    * unit tests; record the artifact, in spec order, under the
    * ORIGINAL command for retry-of-retry.
    */
  private def runTestsCommand(command: String, recordAs: String,
      chosen: Seq[DataTest], units: Seq[UnitTest] = Nil,
      storeAll: Boolean = false): CommandResult = {
    def status(ok: Boolean): NodeStatus =
      if (ok) NodeStatus.Success(0) else NodeStatus.Failed("")
    val tested = runReady(chosen.size, _ => Nil,
      spark.sparkContext.defaultParallelism) { i =>
      val t = chosen(i)
      status(
        try runTest(t, storeAll)._1.isEmpty
        catch {
          case e: Exception =>
            logger.log(LogLevel.ERROR,
              s"test ${t.name} errored: ${e.getMessage}")
            false
        })
    }
    val outcomes = chosen.zip(tested).map { case (t, st) =>
      ("test", t.name, st)
    } ++ runUnitTests(units).map { case (n, ok) =>
      ("unit_test", n, status(ok))
    }
    recordRunResults(recordAs, outcomes)
    val failures = outcomes.collect { case (_, n, _: NodeStatus.Failed) => n }
    CommandResult(command, failures.isEmpty, outcomes.map(_._2), Map.empty,
      if (failures.isEmpty) None
      else Some(s"failing tests: ${failures.mkString(",")}"))
  }

  /** The `seed` command body (also `retry` of a seed run). */
  private def runSeedsCommand(command: String, recordAs: String,
      seeds: Seq[Seed]): CommandResult = {
    val outcomes = seeds.map { sd =>
      try (sd.name, NodeStatus.Success(runSeed(sd)): NodeStatus)
      catch {
        case e: Exception =>
          logger.log(LogLevel.ERROR,
            s"seed ${sd.name} failed: ${e.getMessage}")
          (sd.name, NodeStatus.Failed(String.valueOf(e.getMessage)): NodeStatus)
      }
    }
    recordRunResults(recordAs, outcomes.map { case (n, st) =>
      ("seed", n, st)
    })
    finishNodeCommand(command, outcomes)
  }

  /** The `snapshot --at` command body (also `retry` of one). */
  private def parseOperationArgs(rest: Seq[String]): Map[String, String] =
    rest match {
      case Seq()            => Map.empty
      case Seq("--args", v) => parseVarsJson(v)
      case Seq("--vars", v) => parseVarsJson(v)
      case other => sys.error(
        s"run-operation: unrecognized flags: ${other.mkString(" ")}")
    }

  /** Execute one named operation, RECORDING run_results (kind
    * `operation`) whatever the outcome — `retry` after a failed
    * run-operation must re-run it, not silently replay the previous
    * node-executing command's artifact.
    */
  private def runOperationCommand(command: String, recordAs: String,
      op: String): CommandResult = {
    val sql = spec.operations.getOrElse(op, sys.error(
      s"unknown operation: $op (declared: " +
        s"${spec.operations.keys.toSeq.sorted.mkString(",")})"))
    val status: NodeStatus =
      try { runHook(s"run_operation_$op", sql, None); NodeStatus.Success(0L) }
      catch {
        case e: Exception =>
          logger.log(LogLevel.ERROR,
            s"run-operation $op failed: ${e.getMessage}")
          NodeStatus.Failed(e.getMessage)
      }
    recordRunResults(recordAs, Seq(("operation", op, status)))
    status match {
      case NodeStatus.Failed(m) => CommandResult(command, success = false,
        Seq(op), Map.empty, Some(s"run-operation $op failed: $m"))
      case _ => CommandResult(command, success = true, Seq(op),
        Map.empty, None)
    }
  }

  private def runSnapshotsCommand(command: String, recordAs: String,
      snaps: Seq[SnapshotDef], asOf: String): CommandResult = {
    val outcomes = snaps.map { sn =>
      try (sn.name, NodeStatus.Success(runSnapshot(sn, asOf)): NodeStatus)
      catch {
        case e: Exception =>
          logger.log(LogLevel.ERROR,
            s"snapshot ${sn.name} failed: ${e.getMessage}")
          (sn.name, NodeStatus.Failed(String.valueOf(e.getMessage)): NodeStatus)
      }
    }
    recordRunResults(recordAs, outcomes.map { case (n, st) =>
      ("snapshot", n, st)
    })
    finishNodeCommand(command, outcomes)
  }

  /** The `clone` command body (also `retry` of one): per-node error
    * capture + run_results artifact, so a partial clone failure
    * (disk full mid-copy) is retryable like any node command.
    */
  private def runCloneCommand(command: String, recordAs: String,
      sel: Selection, fullRefresh: Boolean,
      only: Option[Set[String]]): CommandResult = {
    val dir = sel.state.getOrElse(sys.error(
      "clone requires --state <dir> with a prior warehouse"))
    val st = new PipelineRunner(spark, spec, dir)
    val deps = resourceDeps
    val names = topoOrderIn(deps, selectIn(deps, sel))
      .filter(st.tableExists)
      .filter(n => fullRefresh || !tableExists(n))
      .filter(n => only.forall(_(n)))
    val outcomes = names.map { n =>
      try (n, NodeStatus.Success(cloneTable(st, n)): NodeStatus)
      catch {
        case e: Exception =>
          logger.log(LogLevel.ERROR, s"clone: $n failed: ${e.getMessage}")
          (n, NodeStatus.Failed(String.valueOf(e.getMessage)): NodeStatus)
      }
    }
    recordRunResults(recordAs, outcomes.map { case (n, s0) =>
      (resourceKind(n), n, s0)
    })
    finishNodeCommand(command, outcomes)
  }

  private def finishNodeCommand(command: String,
      outcomes: Seq[(String, NodeStatus)]): CommandResult = {
    val counts = outcomes.collect {
      case (n, NodeStatus.Success(rows)) => n -> rows
    }.toMap
    val failed = outcomes.collect { case (n, f: NodeStatus.Failed) =>
      s"$n: ${f.msg}"
    }
    CommandResult(command, failed.isEmpty, outcomes.map(_._1), counts,
      if (failed.isEmpty) None
      else Some(s"failed: ${failed.mkString("; ")}"))
  }

  /** `dbt build` — the modern main command: seeds, models, snapshots
    * AND their attached tests in one DAG-ordered pass. A resource that
    * fails (or whose test fails) skips every transitive descendant,
    * while independent subgraphs keep running — dbt's skip-on-failure.
    * Serial by design: the skip frontier advances node-by-node, and
    * `run --threads N` remains the parallel path for test-free runs.
    * Snapshots need the injected clock; without `--at` they (and their
    * descendants) are skipped, loudly.
    *
    * `only` is `retry`'s frontier: resources outside it succeeded in
    * the invocation being retried, so they are NOT re-executed (their
    * tables are live) but still count as satisfied deps and may have
    * individual still-failing tests in `only` that rerun standalone.
    */
  private def runBuild(command: String, recordAs: String, sel: Selection,
      fullRefresh: Boolean, at: Option[String],
      only: Option[Set[String]] = None,
      indirect: String = "eager"): CommandResult = withRunHooks(command) {
    val deps = resourceDeps
    val order = topoOrderIn(deps, selectIn(deps, sel))
    // --indirect-selection scope for node-attached tests: under
    // eager the attached node being built is enough; cautious /
    // buildable also require the test's OTHER refs (relationships'
    // parent, singular-test reads) in or above the built set; empty
    // runs no indirectly-selected tests at all
    val builtSet = order.toSet
    val indirectPred = indirectTestPred(deps, builtSet, indirect)
    val failed = mutable.Set.empty[String]     // gating: res + test owners
    val failedRes = mutable.Set.empty[String]  // resource execution failures
    val skipped = mutable.Set.empty[String]
    val ran = mutable.Buffer.empty[String]
    val counts = mutable.Map.empty[String, Long]
    val failedTests = mutable.Buffer.empty[String]
    val testsRun = mutable.Buffer.empty[(String, Boolean)] // name -> passed
    val unitsRun = mutable.Buffer.empty[(String, Boolean)]
    def runTests(n: String, pred: DataTest => Boolean): Unit =
      spec.tests.filter(t => t.model == n && pred(t)).foreach { t =>
        ran += t.name
        val bad = runTest(t)._1.isDefined
        testsRun += t.name -> !bad
        if (bad) {
          failedTests += t.name
          failed += n // a failing ERROR-severity test gates n's
                      // descendants; warn-severity never does
        }
      }
    // dbt 1.8 gating: a model's unit tests run BEFORE it materializes;
    // any failure skips the model (and, via `failed`, descendants)
    def runUnits(n: String, pred: UnitTest => Boolean): Boolean = {
      val outcomes =
        runUnitTests(spec.unitTests.filter(u => u.model == n && pred(u)))
      ran ++= outcomes.map(_._1)
      unitsRun ++= outcomes
      val bad = outcomes.collect { case (name, false) => name }
      failedTests ++= bad
      bad.isEmpty
    }
    order.foreach { n =>
      val kind = resourceKind(n)
      if (deps(n).exists(d => failed(d) || skipped(d))) {
        skipped += n
        logger.log(LogLevel.WARNING,
          s"build: skipping $n (upstream failure)")
      } else if (only.exists(o => !o(n))) {
        // retried run: n already succeeded — only its listed
        // still-failing tests rerun
        runUnits(n, u => only.exists(_(u.name)))
        runTests(n, t => only.exists(_(t.name)))
      } else if (kind == "exposure" || kind == "semantic_model" ||
          kind == "metric") {
        // exposures and semantic-layer nodes are declarative —
        // nothing executes; they exist for lineage, selection
        // (+exposure / +metric pulls ancestors), ls, and the
        // manifest artifact (metrics additionally serve
        // `semanticQuery`, invoked on demand, never as a build node)
        ()
      } else if (kind == "snapshot" && at.isEmpty) {
        skipped += n
        logger.log(LogLevel.WARNING,
          s"build: skipping snapshot $n (no --at clock given)")
      } else if (kind == "snapshot" && cmdEmpty) {
        // an --empty dry run must NEVER touch snapshot history: the
        // snapshot would read the just-emptied models and close every
        // open row as a spurious hard delete — permanently, since
        // closed history is append-only
        skipped += n
        logger.log(LogLevel.WARNING,
          s"build: skipping snapshot $n (--empty is schema-only)")
      } else if (kind == "model" &&
          !runUnits(n, u => indirect != "empty" || builtSet(u.name))) {
        failed += n
        skipped += n
        logger.log(LogLevel.WARNING,
          s"build: skipping $n (failing unit test)")
      } else {
        val ok =
          try {
            val rows = kind match {
              case "seed" => runSeed(spec.seeds.find(_.name == n).get)
              case "snapshot" =>
                runSnapshot(spec.snapshots.find(_.name == n).get, at.get)
              case _ => runModel(n, fullRefresh)
            }
            ran += n
            if (rows >= 0) counts(n) = rows
            true
          } catch {
            case e: Exception =>
              logger.log(LogLevel.ERROR,
                s"build: $n failed: ${e.getMessage}")
              false
          }
        if (!ok) { failed += n; failedRes += n }
        else runTests(n, indirectPred)
      }
    }
    recordRunResults(recordAs,
      order.flatMap { n =>
        if (skipped(n)) Some((resourceKind(n), n, NodeStatus.Skipped))
        else if (only.exists(o => !o(n))) None // untouched prior success
        else if (failedRes(n))
          Some((resourceKind(n), n, NodeStatus.Failed("")))
        else Some((resourceKind(n), n, NodeStatus.Success(0)))
      } ++ testsRun.map { case (name, passed) =>
        ("test", name,
          if (passed) NodeStatus.Success(0) else NodeStatus.Failed(""))
      } ++ unitsRun.map { case (name, passed) =>
        ("unit_test", name,
          if (passed) NodeStatus.Success(0) else NodeStatus.Failed(""))
      })
    def list(s: Iterable[String]) = s.toSeq.sorted.mkString(",")
    CommandResult(command, success = failed.isEmpty, ran.toSeq,
      counts.toMap,
      if (failed.isEmpty) None
      else Some(s"failed: ${list(failedRes)}" +
        (if (failedTests.nonEmpty)
          s"; failing tests: ${list(failedTests)}" else "") +
        (if (skipped.nonEmpty) s"; skipped: ${list(skipped)}" else "")))
  }

  /** One dbt-style command — the same argv surface the reference
    * shells out (`dbtoperator.py:35,46,324,334`): "debug",
    * "run [--select|-s specs...] [--exclude specs...] [--threads n]
    * [--full-refresh] [--vars json] [--event-time-start ts]
    * [--event-time-end ts]" (the event-time flags drive microbatch
    * windows), "test [--select ...] [--exclude ...] [--warn-error]"
    * (runs its data tests concurrently on the session's cores;
    * --warn-error promotes warn outcomes to failures, also accepted
    * on build and source freshness),
    * "seed", "snapshot --at <ts>", "source freshness --at <ts>",
    * "build [--select ...] [--exclude ...] [--full-refresh] [--at ts]",
    * "ls [--select ...] [--exclude ...] [--resource-type kind]",
    * "compile [--select ...] [--vars json] [--full-refresh]"
    * (render SQL-text models to target/compiled),
    * "show --select m [--limit n] [--vars json]" (row preview),
    * "compact [--select ...] [--exclude ...]" (scheduled OPTIMIZE),
    * "retry" (resume the last node-executing command from its
    * recorded failed/skipped frontier under the original flags).
    * Select specs support the full dbt atom grammar (`m`, `+m+`,
    * `tag:t`, `@m`; space = union, comma = intersection).
    */
  def runCommand(command: String): CommandResult = {
    cmdVars = Map.empty
    cmdEventTime = (None, None)
    cmdWarnError = false
    try {
      val parts = tokenize(command)
      // init failures (e.g. unreadable source) become a failed result
      // envelope, mirroring the reference's init envelope
      // (`dbtoperator.py:168-174`)
      initialize()
      deferCtx = None // only run/build/test (re)arm --defer
      cmdEmpty = false // only run/build (re)arm --empty
      // ephemeral frames are per-COMMAND: a cached frame built under a
      // previous command's context (--empty inputs, different --vars)
      // must not leak into the next command's builds
      ephemeralCache.clear()
      // manifest.json is a parse artifact: refresh it on every
      // command so `--state` consumers always diff against the
      // project as last seen, not only after a run
      writeManifest()
      parts match {
        // connectivity / environment check (the reference's default
        // command list is [['debug']], `dbtoperator.py:46`)
        case Seq("debug") =>
          val missing = spec.sources.keys
            .filterNot(spark.catalog.tableExists(_)).toSeq
          CommandResult(command, success = missing.isEmpty, Nil, Map.empty,
            if (missing.isEmpty) None
            else Some(s"unresolvable sources: ${missing.mkString(",")}"))
        // `dbt run-operation <name> [--args '{...}']` — execute one
        // named project operation (dbt invokes a macro; a single-
        // engine runner's analog is a named SQL statement with the
        // hook grammar: {{ var }}/{{ ref }} render, `INSERT INTO t
        // <query>` appends under the atomic manifest protocol).
        // `--args` feeds the same renderer as `--vars` — dbt's
        // kwargs analog. Basis: ordinary dbt argv the reference
        // forwards (`dbtoperator.py:35,46`).
        case "run-operation" +: op +: rest if !op.startsWith("-") =>
          cmdVars = parseOperationArgs(rest)
          runOperationCommand(command, command, op)
        // `dbt clean` — delete the target/ artifact dir (compiled
        // SQL, catalog.json). Warehouse DATA and the run_results /
        // manifest / sources artifacts it sits beside are untouched,
        // matching dbt's clean-targets default of target/ only.
        case Seq("clean") =>
          val target = Paths.get(warehouse, "target")
          if (Files.isDirectory(target)) {
            import scala.jdk.CollectionConverters._
            val s = Files.walk(target)
            try s.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(Files.delete)
            finally s.close()
          }
          CommandResult(command, success = true, Nil, Map.empty, None)
        // `dbt parse` — parse the project and refresh manifest.json
        // without executing anything. Our spec is parsed at
        // construction and the manifest refreshes on every command
        // (see the writeManifest call above), so this just reports
        // the node inventory like dbt's "Found N models..." summary.
        case Seq("parse") =>
          CommandResult(command, success = true,
            resourceDeps.keys.toSeq.sorted, Map.empty, None)
        case "run" +: flags if parseRunFlags(flags).isDefined =>
          val f = parseRunFlags(flags).get
          cmdVars = f.vars
          cmdEmpty = f.empty
          cmdEventTime = f.eventTime
          val chosen = select(f.sel)
          setDefer(f.defer, f.sel, chosen, f.favorState)
          runModelsCommand(command, command, topoOrder(chosen),
            f.threads, f.fullRefresh, f.failFast)
        // `test [--select|--exclude specs...]` — selection matches
        // dbt: tests attached to the selected nodes run (full atom
        // grammar over the resource graph; lenient, so a bare name
        // outside the graph — e.g. a source with attached tests —
        // selects that table's tests only)
        case "test" +: flags if parseTestFlags(flags).isDefined =>
          val f = parseTestFlags(flags).get
          cmdWarnError = f.warnError
          // tests build nothing, so every missing relation is
          // deferrable — the selected set is empty by construction
          setDefer(f.defer, f.sel, Set.empty, f.favorState)
          val (chosen, units) =
            if (f.sel.include.isEmpty && f.sel.exclude.isEmpty)
              (spec.tests, spec.unitTests)
            else {
              val deps = resourceDeps
              val names = selectIn(deps, f.sel, lenient = true)
              // dbt's attached-node expansion, scoped by
              // --indirect-selection: eager (default) runs a test
              // when ANY node it reads is selected (relationships'
              // parent, every ref of a singular test); cautious /
              // buildable / empty narrow it. A unit test attaches
              // to its model only — its mocks are not graph reads.
              (spec.tests.filter(indirectTestPred(deps, names, f.indirect)),
                spec.unitTests.filter(u =>
                  if (f.indirect == "empty") names(u.name)
                  else names(u.model)))
            }
          runTestsCommand(command, command, chosen, units, f.store)
        case "seed" +: flags if parseSelFlags(flags)(
            PartialFunction.empty).isDefined =>
          val sel = parseSelFlags(flags)(PartialFunction.empty).get
          runSeedsCommand(command, command, chosenSeeds(sel))
        case "snapshot" +: flags if parseSnapshotFlags(flags).isDefined =>
          val (sel, at) = parseSnapshotFlags(flags).get
          runSnapshotsCommand(command, command, chosenSnapshots(sel),
            at.getOrElse(sys.error("snapshot requires --at <ts>")))
        // `dbt source freshness` — the standard dbt subcommand the
        // reference can pass through its arbitrary-argv surface
        // (`dbtoperator.py:35,46`); `--at` injects the clock so runs
        // are deterministic. Fails when any source is in error state.
        // `source freshness --at <ts> [--warn-error]` — flags in any
        // order; exactly one non-flag token (the clock value)
        case "source" +: "freshness" +: rest
            if parseFreshnessFlags(rest).exists(_._2.isDefined) =>
          val (sel, atOpt, warnErr) = parseFreshnessFlags(rest).get
          val asOf = atOpt.get
          cmdWarnError = warnErr
          // dbt: `source freshness --select <source>` narrows the
          // check; lenient resolution, since sources are temp views,
          // not graph nodes
          val chosen =
            if (sel.include.isEmpty && sel.exclude.isEmpty) spec.freshness
            else {
              val names = selectIn(resourceDeps, sel, lenient = true)
              spec.freshness.filter(f => names(f.source))
            }
          val full = chosen.map { f =>
            val df =
              if (tableExists(f.source)) readTable(f.source)
              else spark.table(f.source)
            val row = Freshness.check(df, f.source, f.tsCol, asOf,
              f.warnAfterSec, f.errorAfterSec)
              // millisecond precision: an epoch-SECOND floor would
              // hide sub-second freshness advances from
              // source_status:fresher diffs
              .select(col("status"),
                (col("max_loaded_at")
                  .cast(org.apache.spark.sql.types.DoubleType) * 1000)
                  .cast(org.apache.spark.sql.types.LongType).as("ms"))
              .head()
            (f.source, row.getAs[String]("status"),
              if (row.isNullAt(1)) None else Some(row.getLong(1)))
          }
          // dbt writes sources.json on every freshness invocation —
          // the source_status:fresher selector diffs it vs --state
          writeSourcesJson(command, full)
          val reports = full.map { case (s, st, _) => (s, st) }
          reports.filter(_._2 == "warn").foreach { case (s, _) =>
            logger.log(LogLevel.WARNING, s"source $s freshness: warn")
          }
          // dbt --warn-error: warn-fresh sources fail the command too
          val stale = reports.filter { case (_, st) =>
            st == "error" || (st == "warn" && cmdWarnError)
          }.map(_._1)
          CommandResult(command, success = stale.isEmpty,
            chosen.map(_.source), Map.empty,
            if (stale.isEmpty) None
            else Some(s"stale sources: ${stale.mkString(",")}"))
        case "build" +: flags if parseBuildFlags(flags).isDefined =>
          val f = parseBuildFlags(flags).get
          cmdVars = f.vars
          cmdEmpty = f.empty
          cmdEventTime = f.eventTime
          cmdWarnError = f.warnError
          setDefer(f.defer, f.sel, selectIn(resourceDeps, f.sel),
            f.favorState)
          runBuild(command, command, f.sel, f.fullRefresh, f.at,
            indirect = f.indirect)
        // `dbt retry` — resume the most recent node-executing command
        // (run / build / test / seed / snapshot) from its failure
        // frontier: previously-succeeded nodes are not re-executed;
        // failed and skipped ones (and still-failing tests) rerun
        // under the ORIGINAL command's flags, selection and vars. The
        // refreshed artifact records only the retried frontier, so a
        // retry-of-a-retry keeps narrowing.
        case Seq("retry") =>
          loadRunResults() match {
            case None => CommandResult(command, success = false, Nil,
              Map.empty,
              Some("nothing to retry: no run_results.json in warehouse"))
            case Some((prev, rows)) =>
              val redo = rows.collect {
                case (_, n, st) if st != "success" => n
              }.toSet
              if (redo.isEmpty)
                CommandResult(command, success = true, Nil, Map.empty, None)
              else tokenize(prev) match {
                case "run" +: flags if parseRunFlags(flags).isDefined =>
                  val f = parseRunFlags(flags).get
                  cmdVars = f.vars
                  cmdEmpty = f.empty
                  cmdEventTime = f.eventTime
                  val chosen = select(f.sel)
                  setDefer(f.defer, f.sel, chosen, f.favorState)
                  runModelsCommand(command, prev,
                    topoOrder(chosen).filter(redo), f.threads,
                    f.fullRefresh, f.failFast)
                case "build" +: flags if parseBuildFlags(flags).isDefined =>
                  val f = parseBuildFlags(flags).get
                  cmdVars = f.vars
                  cmdEmpty = f.empty
                  cmdEventTime = f.eventTime
                  cmdWarnError = f.warnError
                  setDefer(f.defer, f.sel, selectIn(resourceDeps, f.sel),
                    f.favorState)
                  runBuild(command, prev, f.sel, f.fullRefresh, f.at,
                    only = Some(redo), indirect = f.indirect)
                case "test" +: flags if parseTestFlags(flags).isDefined =>
                  val f = parseTestFlags(flags).get
                  cmdWarnError = f.warnError
                  setDefer(f.defer, f.sel, Set.empty, f.favorState)
                  runTestsCommand(command, prev,
                    spec.tests.filter(t => redo(t.name)),
                    spec.unitTests.filter(u => redo(u.name)),
                    f.store)
                case "seed" +: flags if parseSelFlags(flags)(
                    PartialFunction.empty).isDefined =>
                  val sel = parseSelFlags(flags)(PartialFunction.empty).get
                  runSeedsCommand(command, prev,
                    chosenSeeds(sel).filter(sd => redo(sd.name)))
                case "snapshot" +: flags
                    if parseSnapshotFlags(flags).isDefined =>
                  val (sel, at) = parseSnapshotFlags(flags).get
                  runSnapshotsCommand(command, prev,
                    chosenSnapshots(sel).filter(sn => redo(sn.name)),
                    at.get)
                case "clone" +: flags if parseCloneFlags(flags).isDefined =>
                  val (sel, fullRefresh) = parseCloneFlags(flags).get
                  runCloneCommand(command, prev, sel, fullRefresh,
                    Some(redo))
                // single-statement command: rerun it whole when it
                // was the recorded failure (under its original args)
                case "run-operation" +: op +: rest
                    if !op.startsWith("-") =>
                  cmdVars = parseOperationArgs(rest)
                  if (redo(op)) runOperationCommand(command, prev, op)
                  else CommandResult(command, success = true, Nil,
                    Map.empty, None)
                case _ => CommandResult(command, success = false, Nil,
                  Map.empty, Some(s"retry: unsupported command: $prev"))
              }
          }
        // `compile [--select ...] [--vars json] [--full-refresh]` —
        // dbt compile: render every selected SQL-text model (vars,
        // is_incremental guard, ref/source/this → relation names) to
        // `<warehouse>/target/compiled/<name>.sql` without running
        // anything. Lambda models have no text and are skipped, like
        // dbt skips non-SQL resources. Basis: ordinary dbt argv the
        // reference forwards (`dbtoperator.py:35,46`).
        case "compile" +: flags if parseCompileFlags(flags).isDefined =>
          val (sel, vars, fullRefresh) = parseCompileFlags(flags).get
          cmdVars = vars
          val names = topoOrder(select(sel))
            .filter(n => byName(n).sqlText.isDefined)
          val outDir = Paths.get(warehouse, "target", "compiled")
          Files.createDirectories(outDir)
          names.foreach { n =>
            val m = byName(n)
            Files.writeString(outDir.resolve(s"$n.sql"),
              Model.compileText(m, vars, isIncrementalRun(m, fullRefresh)))
          }
          logger.log(LogLevel.INFO,
            s"compiled ${names.size} models to $outDir")
          CommandResult(command, success = true, names, Map.empty, None)
        // `show --select m [--limit N] [--vars json]` — dbt show: run
        // each selected model's rendered SELECT (nothing
        // materialized) and surface a row preview; rowCounts carries
        // rows-shown per model, the preview rows land in the logger
        // at INFO (the envelope's stdout analogue).
        case "show" +: flags if parseShowFlags(flags).isDefined =>
          val (sel, limit, vars, inline) = parseShowFlags(flags).get
          cmdVars = vars
          if (inline.isDefined && sel.include.nonEmpty)
            CommandResult(command, success = false, Nil, Map.empty,
              Some("show: --select and --inline are mutually exclusive"))
          else if (inline.isDefined) {
            // dbt `show --inline 'select …'`: arbitrary SQL whose
            // {{ ref }}/{{ source }} calls resolve against the
            // warehouse/session relations — the ad-hoc query door
            val sqlText = Model.renderVars("__inline", inline.get, vars)
            val refs = Model.parseRefs(sqlText)
            val out = Model.runSqlText("__inline", sqlText, spark,
              refs.map(r => r -> testRelation(r)).toMap)
            val preview = out.limit(limit).toJSON.collect()
            preview.foreach(row =>
              logger.log(LogLevel.INFO, s"show inline: $row"))
            // the preview is already collected — drop the scratch
            // views now (cleanup() only knows spec-declared scopes)
            refs.foreach(r =>
              spark.catalog.dropTempView(s"__graft_ref___inline_$r"))
            CommandResult(command, success = true, Seq("inline"),
              Map("inline" -> preview.length.toLong), None)
          } else if (sel.include.isEmpty)
            CommandResult(command, success = false, Nil, Map.empty,
              Some("show requires --select or --inline"))
          else {
            val names = topoOrder(select(sel))
            val counts = names.map { n =>
              val preview = buildDf(byName(n)).limit(limit).toJSON
                .collect()
              preview.foreach(row =>
                logger.log(LogLevel.INFO, s"show $n: $row"))
              n -> preview.length.toLong
            }.toMap
            CommandResult(command, success = true, names, counts, None)
          }
        // `compact [--select|--exclude specs...]` — the scheduled
        // OPTIMIZE pass: rewrite each selected warehouse table's live
        // generation into one member per partition (bounds file/member
        // growth from append/merge/snapshot runs). Resources without a
        // materialized table (views, not-yet-run models) are skipped.
        case "compact" +: flags if parseSelFlags(flags)(
            PartialFunction.empty).isDefined =>
          val sel = parseSelFlags(flags)(PartialFunction.empty).get
          // lenient: streaming-sink tables (appendBatch/mergeBatch)
          // live in the warehouse without being graph nodes; no topo
          // order — compaction is per-table, dependency-free
          val names = selectIn(resourceDeps, sel, lenient = true)
            .toSeq.sorted.filter(tableExists)
          names.foreach(compact)
          CommandResult(command, success = true, names, Map.empty, None)
        // `vacuum [--select ...] [--keep N]` — storage reclaim over
        // selected warehouse tables (Delta VACUUM / Iceberg
        // expire_snapshots analogue): drop generations beyond the
        // newest N (default 1 = live only) and every batch none of
        // the retained generations reference. Time travel via
        // readTableAt works within the retention window; per-table
        // locking and the staged-batch guard make it safe next to
        // `run --threads N` publishes.
        case "vacuum" +: flags if parseVacuumFlags(flags).isDefined =>
          val (sel, keep, minAge) = parseVacuumFlags(flags).get
          val names = selectIn(resourceDeps, sel, lenient = true)
            .toSeq.sorted.filter(tableExists)
          names.foreach(vacuum(_, keep, minAge))
          CommandResult(command, success = true, names, Map.empty, None)
        // `dbt clone` — copy each selected node's live relation from
        // the `--state` warehouse into this one (dbt's CI-bootstrap
        // command: stand up a dev/CI environment from prod without
        // recomputing). Existing local relations are kept unless
        // `--full-refresh`; nodes without a state table are skipped.
        case "clone" +: flags if parseCloneFlags(flags).isDefined =>
          val (sel, fullRefresh) = parseCloneFlags(flags).get
          runCloneCommand(command, command, sel, fullRefresh, None)
        // `dbt docs generate` — write the catalog artifact
        // (<warehouse>/target/catalog.json): per MATERIALIZED
        // relation its kind, ordered columns with Spark SQL types,
        // and stats (row count + on-disk bytes of the live
        // generation's members). Columns and bytes come from stored
        // metadata (schema file + member file sizes — no data scan);
        // the row count is the only per-table job, over footer
        // metadata. Basis: ordinary dbt argv the reference forwards
        // (`dbtoperator.py:35,46`).
        case "docs" +: "generate" +: flags if parseSelFlags(flags)(
            PartialFunction.empty).isDefined =>
          val sel = parseSelFlags(flags)(PartialFunction.empty).get
          val deps = resourceDeps
          val names = topoOrderIn(deps, selectIn(deps, sel))
            .filter(tableExists)
          val counts = mutable.Map.empty[String, Long]
          import org.json4s.JsonDSL._
          val entries = names.map { n =>
            val schema = currentSchema(n).getOrElse(StructType(Nil))
            val cols = schema.fields.toSeq.filterNot(f =>
              hiddenCols.contains(f.name)).zipWithIndex.map {
              case (f, i) =>
                ("name" -> f.name) ~ ("type" -> f.dataType.sql) ~ ("index" -> i)
            }
            val members = currentManifest(n).getOrElse(Nil)
            val bytes = members.map { m =>
              import scala.jdk.CollectionConverters._
              val p = Paths.get(tablePath(n), m)
              val s = Files.walk(p)
              try s.iterator().asScala
                .filter(f => f.toString.endsWith(".parquet"))
                .map(Files.size).sum
              finally s.close()
            }.sum
            val rows = readTable(n).count()
            counts(n) = rows
            ("name" -> n) ~ ("kind" -> resourceKind(n)) ~
              ("description" -> byName.get(n).flatMap(_.description)) ~
              ("columns" -> cols) ~
              ("stats" -> (("row_count" -> rows) ~ ("bytes" -> bytes)))
          }
          val outDir = Paths.get(warehouse, "target")
          Files.createDirectories(outDir)
          writeJson(outDir.resolve("catalog.json"), "nodes" -> entries)
          logger.log(LogLevel.INFO,
            s"catalog: ${names.size} relations -> $outDir/catalog.json")
          CommandResult(command, success = true, names, counts.toMap, None)
        // `dbt ls` — resource listing: `kind.name` rows in DAG order,
        // each resource's tests right after it (dbt's fqn listing).
        case "ls" +: flags if parseLsFlags(flags).isDefined =>
          val (sel, rtype) = parseLsFlags(flags).get
          val deps = resourceDeps
          val rows = topoOrderIn(deps, selectIn(deps, sel))
            .flatMap { n =>
              s"${resourceKind(n)}.$n" +:
                (spec.unitTests.filter(_.model == n)
                  .map(u => s"unit_test.${u.name}") ++
                 spec.tests.filter(_.model == n).map(t => s"test.${t.name}"))
            }
            .filter(r => rtype.forall(t => r.startsWith(s"$t.")))
          CommandResult(command, success = true, rows, Map.empty, None)
        case other =>
          CommandResult(command, success = false, Nil, Map.empty,
            Some(s"unknown command: ${other.mkString(" ")}"))
      }
    } catch {
      case e: Throwable =>
        logger.log(LogLevel.ERROR, s"$command failed: ${e.getMessage}")
        CommandResult(command, success = false, Nil, Map.empty,
          Some(e.getMessage))
    }
  }

  /** Ordered execution, stop on first failure — exactly the
    * reference's execute loop (`dbtoperator.py:426-434`); cleanup is
    * the caller's duty via withRunner (finally-semantics,
    * `dbtoperator.py:446-451`).
    */
  def run(commands: Seq[String]): RunResult = {
    val results = mutable.Buffer.empty[CommandResult]
    var ok = true
    val it = commands.iterator
    while (ok && it.hasNext) {
      val r = runCommand(it.next())
      results += r
      if (!r.success) ok = false // remaining commands are skipped
    }
    RunResult(ok, results.toSeq)
  }

  /** Drop temp views + scratch dirs (`dbtoperator.py:387-408`). */
  def cleanup(): Unit = {
    // retire this runner's JVM-global SQL routes FIRST (owner-scoped:
    // a newer runner's same-named registration survives) — a closed
    // runner's MERGE/DML/time-travel handlers must never serve or
    // mutate its defunct warehouse again; post-cleanup statements get
    // Spark's own loud unsupported error instead
    routedNames.forEach { n =>
      graft.gateway.MergeRoutes.unregister(n, this)
      graft.gateway.DmlRoutes.unregister(n, this)
      graft.gateway.TimeTravelRoutes.unregister(n, this)
      graft.gateway.TimeTravelRoutes.unregisterTimestamp(n, this)
      graft.gateway.DdlRoutes.unregister(n, this)
      graft.gateway.DdlRoutes.unregisterDrop(n, this)
    }
    routedNames.clear()
    spec.models.filter(_.materialization == Materialization.View)
      .foreach(m => spark.catalog.dropTempView(sessionViewName(m.name)))
    // SQL-text models register one __graft_ref_<model>_<dep> view per
    // resolved input — drop them too or the shared session catalog
    // accumulates a stale view (pinning its plan) per model run
    spec.models.foreach(m => m.deps.foreach(dep =>
      spark.catalog.dropTempView(
        s"__graft_ref_${m.name.replace('.', '_')}_${dep.replace('.', '_')}")))
    // {{ this }} resolves through a scoped view too
    spec.models.foreach(m =>
      spark.catalog.dropTempView(s"__graft_this_${m.name.replace('.', '_')}"))
    // singular tests register __graft_ref_test_<name>_<dep> views via
    // the same path (DataTests.violations → Model.runSqlText)
    spec.tests.collect { case t: DataTest.Singular => t }.foreach(t =>
      t.refs.foreach(ref =>
        spark.catalog.dropTempView(s"__graft_ref_test_${t.name}_$ref")))
    spec.sources.keys.foreach(n =>
      spark.catalog.dropTempView(sessionViewName(n)))
    ephemeralCache.clear()
  }
}

object PipelineRunner {
  /** Default cross-process vacuum retention (Delta VACUUM-retention
    * analogue): objects younger than this are never swept, so another
    * JVM's stage→publish window can't lose its batch. 15 minutes —
    * orders of magnitude above any single materialization's staging
    * time, small enough that crash debris collects within the hour.
    */
  val DefaultVacuumGraceMs: Long = 15L * 60L * 1000L

  /** Loan pattern mirroring the reference's context manager
    * (`dbtoperator.py:454-461`): init on entry, cleanup on exit even
    * on failure.
    */
  def withRunner[T](spark: SparkSession, spec: PipelineSpec,
      warehouse: String)(f: PipelineRunner => T): T = {
    val r = new PipelineRunner(spark, spec, warehouse)
    try { r.initialize(); f(r) } finally r.cleanup()
  }
}
