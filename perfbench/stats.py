"""The benchmark's arithmetic: medians, ratios, the trace's span algebra and
the metric definitions. Pure functions over the raw record the JVM writes;
`test_stats.py` covers them. Metric units live in BENCHMARK.json only.
"""
import statistics

SELF_LAYERS = ["iteration", "tdf.book", "tdf.deref", "gate.build", "gate.exec",
               "catalyst.analysis", "catalyst.optimization", "catalyst.planning",
               "spark.job", "spark.stage", "stream.trigger"]

# the metric reporting each span kind's self time; a deref's self time is
# the driver time spent in neither a Catalyst phase nor a job
SELF_METRIC = {layer: "tdf.driver_s" if layer == "tdf.deref" else f"self.{layer}_s"
               for layer in SELF_LAYERS}

# spans only gate passes have; their self times come from the gate units
GATE_LAYERS = {"gate.build", "gate.exec", "stream.trigger"}

STREAM_CONTROL = ["latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets"]


# ---- plain statistics -------------------------------------------------------

def median(xs):
    """Median of the samples; NaN when there are none."""
    return statistics.median(xs) if xs else float("nan")


def summary(xs):
    """A timing as reported: median with its sample count."""
    return {"median": median(xs), "n": len(xs)}


def failed_ratio(failed, attempted):
    """Failed or wrong units over attempted ones (0 when none attempted)."""
    return failed / attempted if attempted else 0.0


# ---- span algebra -----------------------------------------------------------

def union_length(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover."""
    s, e = span["start"], span["end"]
    clipped = [(max(s, c["start"]), min(e, c["end"])) for c in children]
    return (e - s) - union_length([(a, b) for a, b in clipped if b > a])


def resolve_parents(spans):
    """Gives every span a parent. Listener spans without one take the bench
    span of the job that ran the same query (same execution id), else the
    innermost bench span whose interval contains theirs."""
    bench = [s for s in spans if s["id"].startswith("b")]
    job_parent = {}
    for s in spans:
        if s["name"] == "spark.job" and s.get("parent") and s.get("exec_id", -1) >= 0:
            job_parent.setdefault(s["exec_id"], s["parent"])

    def containing(s):
        best = None
        for b in bench:
            if b["start"] <= s["start"] and s["end"] <= b["end"] and b is not s:
                if best is None or b["end"] - b["start"] < best["end"] - best["start"]:
                    best = b
        return best["id"] if best else None

    for s in spans:
        if s.get("parent"):
            continue
        p = job_parent.get(s.get("exec_id", -1)) if s["name"] != "spark.job" else None
        s["parent"] = p or (containing(s) if not s["id"].startswith("b") else None)
    return spans


def children_index(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s.get("parent"), []).append(s)
    return kids


def descendants(span_id, kids):
    out, todo = [], list(kids.get(span_id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo += kids.get(s["id"], [])
    return out


def stream_split(duration_ms):
    """(control-plane ms, addBatch work ms) of one trigger's durationMs map."""
    control = sum(duration_ms.get(k, 0) for k in STREAM_CONTROL)
    return control, duration_ms.get("addBatch", 0)


def skew(task_ms):
    """Slowest task over the median task (1.0 for uniform tasks)."""
    m = median(task_ms)
    return max(task_ms) / m if task_ms and m > 0 else 0.0


# ---- metrics ----------------------------------------------------------------

def setup_s(setup):
    """Session build + median of the three input writes + the warm-up
    units."""
    return setup["session_s"] + median(setup["prepare_s"]) + setup["warmup_s"]


def end_to_end(raw):
    smp = raw["samples"]
    result = median(smp["result_s"])
    return {
        "setup_s": setup_s(raw["setup"]),
        "result_s": result,
        "fanout8_result_s": median(smp["fanout8_result_s"]),
        "events_per_s": raw["input_rows"] / result,
    }


def _iteration_layers(it, kids, cores, gates):
    """Per-layer numbers of one traced unit (an `iteration` span)."""
    d = descendants(it["id"], kids)
    by = lambda n: [s for s in d if s["name"] == n]
    dur = lambda ss: sum((s["end"] - s["start"]) / 1e3 for s in ss)
    m = {"book": dur(by("tdf.book")), "deref": dur(by("tdf.deref"))}
    m["actions"] = sum(s.get("actions", 0) for s in by("tdf.book"))
    m["deref_jobs"] = sum(1 for s in by("tdf.deref") for x in descendants(s["id"], kids)
                          if x["name"] == "spark.job")
    for ph in ("analysis", "optimization", "planning"):
        m[ph] = sum(x["end"] - x["start"] for x in by(f"catalyst.{ph}"))
    jobs, stages = by("spark.job"), by("spark.stage")
    m["jobs"], m["stages"] = len(jobs), len(stages)
    m["job_wall"] = union_length([(j["start"], j["end"]) for j in jobs]) / 1e3
    for k in ("tasks", "input_rows", "input_bytes", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes"):
        m[k] = sum(s.get(k, 0) for s in stages)
    m["task_run"] = sum(s.get("task_run_ms", 0) for s in stages) / 1e3
    m["task_cpu"] = sum(s.get("task_cpu_ns", 0) for s in stages) / 1e9
    m["gc"] = sum(s.get("gc_ms", 0) for s in stages) / 1e3
    m["core_util"] = m["task_run"] / (m["job_wall"] * cores) if m["job_wall"] > 0 else 0.0
    big = max(stages, key=lambda s: s.get("task_run_ms", 0), default=None)
    m["skew"] = skew(big["task_ms"]) if big else 0.0
    for g in gates:
        gs = [s for s in d if s["name"] in ("gate.build", "gate.exec") and s.get("gate") == g]
        under = [x for s in gs for x in descendants(s["id"], kids)]
        m[f"{g}.build"] = dur([s for s in gs if s["name"] == "gate.build"])
        m[f"{g}.exec"] = dur([s for s in gs if s["name"] == "gate.exec"])
        m[f"{g}.jobs"] = sum(1 for x in under if x["name"] == "spark.job")
        m[f"{g}.shuffle"] = sum(x.get("shuffle_write_bytes", 0) for x in under
                                if x["name"] == "spark.stage")
        m[f"{g}.spill"] = sum(x.get("spill_bytes", 0) for x in under
                              if x["name"] == "spark.stage")
    trig = by("stream.trigger")
    splits = [stream_split(t["duration_ms"]) for t in trig]
    m["triggers"] = len(trig)
    m["control_ms"] = sum(c for c, _ in splits)
    m["add_batch_ms"] = sum(w for _, w in splits)
    m["state_rows"] = max((t.get("state_rows", 0) for t in trig), default=0)
    selfs = {layer: 0.0 for layer in SELF_LAYERS}
    for s in [it] + d:
        if s["name"] in selfs:
            selfs[s["name"]] += self_time(s, kids.get(s["id"], [])) / 1e3
    m["self"] = selfs
    return m


def per_layer(raw):
    """Every per-layer metric from a traced run's record (0 where a layer
    does not take part in the workload)."""
    tr, smp, ex = raw["trace"], raw["samples"], raw.get("extras", {})
    cores, gates = raw["cores"], raw["gates"]
    spans = resolve_parents(tr["spans"])
    kids = children_index(spans)
    its = [s for s in spans if s["name"] == "iteration"]
    layers = lambda unit: [_iteration_layers(s, kids, cores, gates)
                           for s in its if s["unit"] == unit]
    main, narrow = layers("traced_result_s"), layers("traced_fanout8_result_s")
    gate_runs = layers("traced_gates_s")
    med = lambda key, rows=main: median([r[key] for r in rows]) if rows else 0.0
    untraced = median(smp["untraced_result_s"])
    jobs = med("deref_jobs")
    out = {
        "tdf.book_s": med("book"), "tdf.deref_s": med("deref"),
        "tdf.jobs_per_deref": jobs, "tdf.jobs_per_deref8": med("deref_jobs", narrow),
        "tdf.actions_per_job": med("actions") / jobs if jobs else 0.0,
        "tdf.fused_vs_separate": ex["tdf.separate_s"] / ex["tdf.fused8_s"],
        "catalyst.analysis_ms": med("analysis"), "catalyst.optimization_ms": med("optimization"),
        "catalyst.planning_ms": med("planning"),
        "exec.job_wall_s": med("job_wall"), "exec.jobs": med("jobs"),
        "exec.stages": med("stages"), "exec.tasks": med("tasks"),
        "exec.task_run_s": med("task_run"), "exec.task_cpu_s": med("task_cpu"),
        "exec.gc_s": med("gc"), "exec.core_util": med("core_util"),
        "exec.task_skew": med("skew"), "exec.input_rows": med("input_rows"),
        "exec.input_bytes": med("input_bytes"),
        "exec.shuffle_write_bytes": med("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": med("shuffle_read_bytes"),
        "exec.spill_bytes": med("spill_bytes"), "exec.peak_rss_mb": raw["vm_hwm_mb"],
        "scan.noop_s": ex.get("scan.noop_s", 0.0),
        "functions.histo_direct_s": ex.get("functions.histo_direct_s", 0.0),
        "result_p1_s": median(smp["result_p1_s"]),
        "hep.speedup": median(smp["result_p1_s"]) / untraced,
        "streaming.triggers": med("triggers", gate_runs),
        "streaming.add_batch_ms": med("add_batch_ms", gate_runs),
        "streaming.control_ms": med("control_ms", gate_runs),
        "streaming.state_rows": med("state_rows", gate_runs),
        "trace.overhead_s": median(smp["traced_result_s"]) - untraced,
    }
    for g in gates:
        for m, k in [("build_s", "build"), ("exec_s", "exec"), ("jobs", "jobs"),
                     ("shuffle_bytes", "shuffle"), ("spill_bytes", "spill")]:
            out[f"gate.{g}.{m}"] = med(f"{g}.{k}", gate_runs)
    for layer, name in SELF_METRIC.items():
        rows = gate_runs if layer in GATE_LAYERS else main
        out[name] = median([r["self"][layer] for r in rows]) if rows else 0.0
    return out


def operator_records(raw):
    """One compact record per traced query, in the shape per-operator cost
    models train on: the bench span it served, its wall and its operators
    as (depth, node, output rows, operator time ms)."""
    spans = {s["id"]: s for s in raw["trace"]["spans"]}
    exec_span = {}
    for s in spans.values():
        if s["name"] == "spark.job" and s.get("exec_id", -1) >= 0 and s.get("parent"):
            exec_span.setdefault(s["exec_id"], spans.get(s["parent"], {}).get("name"))
    return [{"span": exec_span.get(q["exec_id"]), "func": q["func"],
             "wall_ms": q["wall_ms"], "ops": q["ops"]} for q in raw["trace"]["queries"]]
