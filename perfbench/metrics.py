"""Metric derivation from the JVM's run record (`out/run.json`).

Pure functions over plain dicts, so the harness self-tests exercise
them without a JVM: percentiles, statement classes, span self time and
the attribution of Spark listener events to ops.
"""
import re
import statistics

# (name, unit) of every end-to-end metric the final line may carry
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_ms", "ms"),
              ("peak_heap_mb", "MB")]

PER_LAYER = [
    ("pipeline.load_ms", "ms"), ("pipeline.init_ms", "ms"),
    ("pipeline.seed_ms", "ms"), ("pipeline.run_ms", "ms"),
    ("pipeline.snapshot_ms", "ms"), ("pipeline.test_ms", "ms"),
    ("pipeline.nodes", "count"), ("pipeline.rows_written", "count"),
    ("pipeline.bytes_written", "bytes"), ("pipeline.write_amp", "ratio"),
    ("pipeline.warehouse_files", "count"),
    ("gateway.connect_ms", "ms"), ("gateway.ddl_ms", "ms"),
    ("gateway.ctas_ms", "ms"), ("gateway.insert_ms", "ms"),
    ("gateway.merge_ms", "ms"), ("gateway.introspect_ms", "ms"),
    ("gateway.select_ms", "ms"), ("gateway.fetch_ms", "ms"),
    ("gateway.statements", "count"),
    ("sources.commits", "count"), ("sources.data_files_written", "count"),
    ("sources.bytes_written", "bytes"), ("sources.write_amp", "ratio"),
    ("sources.orphan_files", "count"), ("sources.read_ms", "ms"),
    ("catalyst.parse_ms", "ms"), ("catalyst.analyze_ms", "ms"),
    ("catalyst.optimize_ms", "ms"), ("catalyst.plan_ms", "ms"),
    ("catalyst.queries", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_ms", "ms"),
    ("spark.task_wait_ms", "ms"), ("spark.driver_only_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("spark.failed_tasks", "count"), ("jvm.gc_ms", "ms"),
    ("queries.relational_ms", "ms"), ("operators.llm_ms", "ms"),
    ("self.harness_ms", "ms"), ("self.pipeline_ms", "ms"),
    ("self.gateway_ms", "ms"), ("self.sources_ms", "ms"),
    ("self.queries_ms", "ms"), ("self.operators_ms", "ms"),
    ("self.catalyst_ms", "ms"), ("self.spark_ms", "ms"),
    ("trace.overhead_s", "s"),
]

# Catalyst's QueryPlanningTracker phase -> metric
PHASES = {"parsing": "catalyst.parse_ms", "analysis": "catalyst.analyze_ms",
          "optimization": "catalyst.optimize_ms",
          "planning": "catalyst.plan_ms"}

P90_MIN_OPS = 100


def p50(xs):
    return statistics.median(xs) if xs else None


def p90(xs):
    """The 90th percentile, only when at least P90_MIN_OPS samples back
    it (ten or more beyond it); None otherwise."""
    if len(xs) < P90_MIN_OPS:
        return None
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def p50_by_kind(ops):
    """Median latency of the successful ops of each kind (gateway
    statements by class)."""
    by = {}
    for o in ops:
        if o["ok"]:
            k = classify(o["name"]) if o["kind"] == "statement" else o["kind"]
            by.setdefault(k, []).append(o["end"] - o["start"])
    return {k: round(p50(v), 1) for k, v in sorted(by.items())}


_CTAS = re.compile(r"^(create\s+(or\s+replace\s+)?|replace\s+)table\b.*\bas\b",
                   re.S)


def classify(sql):
    """The gateway class of one statement, from its text."""
    s = sql.strip().lower()
    if s.startswith(("show ", "describe ", "desc ")):
        return "introspect"
    if s.startswith("merge "):
        return "merge"
    if s.startswith("insert "):
        return "insert"
    if _CTAS.match(s):
        return "ctas"
    if s.startswith(("select", "with")):
        return "select"
    return "ddl"


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per layer: each span's duration minus the part of it
    its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        own = (s["end"] - s["start"]) - union_ms(
            children.get(s["id"], []), s["start"], s["end"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, own)
    return out


def attribute(t, ops, text=""):
    """The op an event at time t belongs to: the op whose interval
    contains t; among several (concurrent clients), the one whose
    statement text the event carries, else the latest started."""
    live = [o for o in ops if o["start"] <= t <= o["end"]]
    if not live:
        return 0
    if len(live) > 1 and text:
        same = [o for o in live if o["name"].strip() == text.strip()]
        if same:
            live = same
    return max(live, key=lambda o: o["start"])["id"]


def end_to_end(run, failed_ids, inputs_s):
    """The end-to-end metrics over the untraced passes, plus the counts
    and figures the summary line reports beside them."""
    passes = [p for p in run["passes"] if not p["traced"]]
    nums = {p["pass"] for p in passes}
    ops = [o for o in run["ops"] if o["pass"] in nums]
    ok = [o for o in ops if o["ok"] and o["id"] not in failed_ids]
    lat = [o["end"] - o["start"] for o in ok]
    first = min(p["start"] for p in run["passes"])
    return {
        "setup_s": inputs_s + (first - run["jvm_start"]) / 1000.0,
        "wall_s": p50([(p["end"] - p["start"]) / 1000.0 for p in passes]),
        "op_p50_ms": p50(lat),
        "op_p90_ms": p90(lat),
        "failed_frac": (len(ops) - len(ok)) / len(ops) if ops else 1.0,
        "peak_heap_mb": max(p["peak_heap_mb"] for p in passes),
        "live_heap_mb": max(p["live_heap_mb"] for p in passes),
        "ops": len(ops),
        "attempted": len(ops),
        "failed": len(ops) - len(ok),
    }


def per_layer(run):
    """Every per-layer metric of the traced pass (layers the workload
    does not reach read 0), and the pass's spans including those made
    from the listener records: Catalyst phases and Spark jobs under the
    op they belong to, stages under their job."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    traced = [p for p in run["passes"] if p["traced"]]
    if not traced:
        return m, []
    tp = traced[0]["pass"]
    ops = [o for o in run["ops"] if o["pass"] == tp]
    spans = list(run.get("spans", []))
    facts = run.get("facts", {})
    dur = lambda o: o["end"] - o["start"]

    for o in ops:
        a = o.get("attrs") or {}
        if o["layer"] == "pipeline":
            m[f"pipeline.{o['kind']}_ms"] += dur(o)
            m["pipeline.nodes"] += a.get("nodes", 0)
            if o["kind"] != "test":
                m["pipeline.rows_written"] += a.get("rows", 0)
        elif o["layer"] == "gateway":
            if o["kind"] == "connect":
                m["gateway.connect_ms"] += dur(o)
            else:
                m[f"gateway.{classify(o['name'])}_ms"] += dur(o)
                m["gateway.fetch_ms"] += a.get("fetch_ms", 0.0)
                m["gateway.statements"] += 1
        elif o["layer"] == "queries":
            m["queries.relational_ms"] += dur(o)
        elif o["layer"] == "operators":
            m["operators.llm_ms"] += dur(o)
    for s in spans:
        if s["name"] == "pipeline.load":
            m["pipeline.load_ms"] += dur(s)
        elif s["name"] == "pipeline.init":
            m["pipeline.init_ms"] += dur(s)
        elif s["name"] == "sources.read":
            m["sources.read_ms"] += dur(s)
    for k in ("pipeline.bytes_written", "pipeline.warehouse_files",
              "sources.commits", "sources.data_files_written",
              "sources.bytes_written", "sources.orphan_files"):
        m[k] = facts.get(k, 0.0)
    if facts.get("pipeline.input_bytes"):
        m["pipeline.write_amp"] = (facts.get("pipeline.bytes_written", 0.0)
                                   / facts["pipeline.input_bytes"])
    if facts.get("sources.input_bytes"):
        m["sources.write_amp"] = (facts.get("sources.bytes_written", 0.0)
                                  / facts["sources.input_bytes"])

    spark = run.get("spark", {})
    for n, c in enumerate(spark.get("catalyst", [])):
        m["catalyst.queries"] += 1
        for phase, (a, b) in c["phases"].items():
            if phase in PHASES:
                m[PHASES[phase]] += b - a
                spans.append({"id": -3_000_000 - n, "name": f"catalyst.{phase}",
                              "layer": "catalyst", "start": a, "end": b,
                              "parent": attribute(a, ops), "op": 0})
    job_iv = {}
    stage_iv = {s["stage"]: (s["submit"], s["complete"] or s["submit"])
                for s in spark.get("stages", []) if s["submit"]}
    for j in spark.get("jobs", []):
        end = j["end"] or j["start"]
        op = attribute(j["start"], ops, j.get("description", ""))
        job_iv.setdefault(op, []).append((j["start"], end))
        jid = -1_000_000 - j["job"]
        spans.append({"id": jid, "name": "spark.job", "layer": "spark",
                      "start": j["start"], "end": end, "parent": op, "op": op})
        for st in j["stages"]:
            if st in stage_iv:
                spans.append({"id": -2_000_000 - st, "name": "spark.stage",
                              "layer": "spark", "start": stage_iv[st][0],
                              "end": stage_iv[st][1], "parent": jid, "op": op})
    m["spark.jobs"] = len(spark.get("jobs", []))
    # a stage listed by a job but never submitted was skipped (its
    # shuffle output already existed): no work, not counted
    for s in (s for s in spark.get("stages", []) if s["submit"]):
        m["spark.stages"] += 1
        m["spark.tasks"] += s["tasks"]
        m["spark.task_ms"] += s["task_ms"]
        m["spark.task_wait_ms"] += s["wait_ms"]
        m["spark.shuffle_write_bytes"] += s["shuffle_write"]
        m["spark.shuffle_read_bytes"] += s["shuffle_read"]
        m["spark.spill_bytes"] += s["spill"]
        m["spark.input_bytes"] += s["input"]
        m["spark.output_bytes"] += s["output"]
        m["spark.failed_tasks"] += s["failed_tasks"]
    m["spark.driver_only_ms"] = sum(
        dur(o) - union_ms(job_iv.get(o["id"], []), o["start"], o["end"])
        for o in ops)
    m["jvm.gc_ms"] = float(traced[0]["gc_ms"])

    for layer, ms in self_times(spans).items():
        if f"self.{layer}_ms" in m:
            m[f"self.{layer}_ms"] = ms
    reference = [p for p in run["passes"] if p["pass"] == tp - 1]
    if reference:
        wall = lambda p: (p["end"] - p["start"]) / 1000.0
        m["trace.overhead_s"] = wall(traced[0]) - wall(reference[0])
    return m, spans
