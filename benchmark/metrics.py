"""Turns one raw run record (written by the benchmark JVM) into the checked
result and its metrics. Pure functions of the record; tested by
test_metrics.py.
"""
import json
import re
import statistics

# end-to-end metrics: (name, unit); every workload reports all of them.
# The median operation time is printed but not gated: its spread between
# runs came close to the largest bound allowed (see README.md).
END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s")]

# the modules the query selection covers (no GraphQueries: see README.md)
MODULES = ["Ref", "Core", "Event", "Text", "Similarity", "Dedup", "Misc",
           "Analytics", "Join", "Multimodal", "Sampling", "Sketch"]
CORPUS_FILES = ["CorpusJob", "Dedup", "Classifier", "Packing", "Sampling", "Bloom"]
KERNELS = ["cosine_sim", "sq_dist", "bitset_intersect", "winnow_spans", "tokens",
           "simhash", "minhash", "hll_sketch", "bloom_contains"]
CORES = 4


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, q2, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        x = xs[0] if xs else 0.0
        return (x, x, x)
    q = statistics.quantiles(xs, n=4)
    return (q[0], q[1], q[2])


def iqr_share(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else 0.0


def percentile(xs, p):
    """Nearest-rank percentile and the number of samples above it."""
    if not xs:
        return 0.0, 0
    s = sorted(xs)
    k = max(1, min(len(s), -(-len(s) * p // 100)))
    v = s[int(k) - 1]
    return v, sum(1 for x in s if x > v)


def highest_supported_percentile(n, candidates=(99, 95, 90, 75)):
    """The highest percentile with at least ten samples beyond it."""
    for p in candidates:
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


# ---------------------------------------------------------------- attribution

_CALLSITE = re.compile(r" at ([A-Za-z0-9_$]+)\.scala:\d+")


def stage_file(stage_name):
    """Source file stem of a stage's call site ("count at Dedup.scala:120"
    -> "Dedup"), or None when the name carries no Scala call site."""
    m = _CALLSITE.search(stage_name or "")
    return m.group(1) if m else None


def job_file(job, stages_by_id):
    """A job is attributed to the call site of its result stage, the
    highest stage id it ran."""
    ids = [s for s in job["stages"] if s in stages_by_id]
    if not ids:
        return None
    return stage_file(stages_by_id[max(ids)]["name"])


# ---------------------------------------------------------------- spans

def self_times(spans):
    """Self time of each span in microseconds: its duration minus the part
    of its interval that its children cover (overlapping children are
    merged, and clipped to the parent)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        ivs = sorted((max(a, c["start_us"]), min(b, c["end_us"]))
                     for c in kids.get(s["id"], []) if c["id"] != s["id"])
        covered, cur_a, cur_b = 0, None, None
        for x, y in ivs:
            if y <= x:
                continue
            if cur_b is None or x > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = x, y
            else:
                cur_b = max(cur_b, y)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (b - a) - covered
    return out


def spark_spans(spark, span_by_id, next_id):
    """Job spans under the span named by each job's group, and stage spans
    under their job; all share the op id of the group's span."""
    out = []
    job_span = {}
    for j in spark["jobs"]:
        g = _group_span(j["group"], span_by_id)
        if g is None or not j["end_ms"]:
            continue
        sid = next_id()
        job_span[j["id"]] = (sid, g["op"])
        out.append({"id": sid, "parent": g["id"], "op": g["op"], "layer": "spark.job",
                    "name": f"job {j['id']}", "start_us": j["submit_ms"] * 1000,
                    "end_us": j["end_ms"] * 1000})
    for st in spark["stages"]:
        if st["job"] in job_span and st["end_ms"]:
            pid, op = job_span[st["job"]]
            out.append({"id": next_id(), "parent": pid, "op": op, "layer": "spark.stage",
                        "name": st["name"], "start_us": st["submit_ms"] * 1000,
                        "end_us": st["end_ms"] * 1000})
    return out


def _group_span(group, span_by_id):
    if not group.startswith("bench:"):
        return None
    try:
        return span_by_id.get(int(group.split(":", 1)[1]))
    except ValueError:
        return None


# ---------------------------------------------------------------- checks

def check_op(op, raw, ref):
    """None when the op's output matches the reference, else why not."""
    if not op["ok"]:
        return op["error"] or "failed"
    obs = op["observed"]
    if "check_error" in obs:
        return obs["check_error"]
    wl_name = raw["workload"]
    want = ref["queries"].get(op["name"]) if wl_name == "query_suite" else ref.get("corpus")
    if want is None:
        return "no reference value"
    bad = [k for k in ("rows", "hash") if str(obs.get(k)) != str(want[k])]
    if op["name"] == "CorpusJob.execute":
        got = obs.get("funnel", {})
        bad += [f"funnel.{k}" for k, v in want["funnel"].items() if got.get(k) != v]
    if obs.get("equals_batch") is False:
        bad.append("stream != batch")
    if op["name"] == "CorpusStream.run":
        # one epoch per landed batch, each with its progress record
        n = len(_drain_epochs(raw, op))
        if n != raw.get("batches_landed"):
            bad.append(f"{n} epoch records for {raw.get('batches_landed')} batches")
    return None if not bad else "mismatch: " + ",".join(bad)


def parse_memo(stats):
    """(hits, misses) summed over every counter in the *MemoStats strings:
    "hit=3,miss=1,toks=4/2" style entries."""
    hits = misses = 0
    for text in stats.values():
        for h, m in re.findall(r"hit=(\d+),miss=(\d+)", text):
            hits, misses = hits + int(h), misses + int(m)
        for h, m in re.findall(r"(\d+)/(\d+)", text):
            hits, misses = hits + int(h), misses + int(m)
    return hits, misses


# ---------------------------------------------------------------- summary

def summarize(raw, ref, span_path=None, untraced=None):
    """The checked result of one run. A traced run needs `untraced`, the
    end-to-end metrics of an untraced run of the same workload, for
    trace_overhead_s."""
    wl = raw["workload"]
    ops = raw["ops"]
    failures = []
    for op in ops:
        why = check_op(op, raw, ref)
        if why:
            failures.append((op["name"], op["pass"], why))
    res = {"correct": not failures and bool(ops), "attempted": max(1, len(ops)),
           "failed": len(failures) if ops else 1, "failures": failures,
           "workload": wl}
    if wl == "query_suite":
        # cold: the first pass; warm: the sum of per-query warm medians
        warm = [o for o in ops if o["pass"] >= 1]
        samples = [o["s"] for o in warm]
        cold_s = sum(o["s"] for o in ops if o["pass"] == 0)
        warm_s = _per_name_median_sum(warm)
    else:
        # cold: the whole drain, stream start to stop; warm: the median
        # epoch's foreachBatch body; the op: an epoch
        drains = [o for o in ops if o["name"] == "CorpusStream.run"]
        epochs = [e for o in drains for e in _drain_epochs(raw, o)]
        samples = [e["trigger_ms"] / 1000 for e in epochs]
        cold_s = sum(o["s"] for o in drains)
        warm_s = median([e["add_batch_ms"] / 1000 for e in epochs])
    e2e = {
        "setup_s": median(raw["setup_s"]),
        "cold_s": cold_s,
        "warm_s": warm_s,
    }
    res["detail"] = {"session_s": raw["session_s"], "peak_rss_mb": raw["peak_rss_mb"],
                     "samples": len(samples), "op_p50_s": median(samples),
                     "fail_ratio": res["failed"] / res["attempted"]}
    p = highest_supported_percentile(len(samples))
    if p > 50:
        res["detail"][f"op_p{p}_s"], _ = percentile(samples, p)
    drains = [o for o in ops if o["name"] == "CorpusStream.run"]
    res["detail"].update(_stream_e2e(raw, drains) if drains else {})
    res["e2e"] = e2e
    if raw["trace"]:
        layer = per_layer(raw, span_path)
        traced = e2e["cold_s"] + e2e["warm_s"]
        if untraced is None:
            raise ValueError("a traced run needs an untraced run to compare with")
        layer["trace_overhead_s"] = (traced - (untraced["cold_s"] + untraced["warm_s"]), "s")
        res["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        units = dict(END_TO_END)
        res["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    return res


def _per_name_median_sum(ops):
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["s"])
    return sum(median(v) for v in by.values())


def _drain_epochs(raw, op):
    rid = op["observed"].get("run_id")
    return [e for e in raw.get("streams", []) if e["run_id"] == rid]


def _stream_e2e(raw, drains):
    last, rate = [], []
    for o in drains:
        ep = sorted(_drain_epochs(raw, o), key=lambda e: e["batch"])
        if ep:
            last.append(ep[-1]["trigger_ms"] / 1000)
            rate.append(sum(e["rows"] for e in ep) / o["s"])
    return {"epoch_last_s": median(last), "stream_docs_per_s": median(rate)}


def per_layer(raw, span_path):
    """Every per-layer metric, as {name: (value, unit)}. Layers a workload
    does not exercise read 0 (in_wscg reads -1 when a kernel did not run).

    Spark totals cover the measured ops: the warm passes of query_suite
    (per pass), the stream drain of corpus."""
    ops = raw["ops"]
    if raw["workload"] == "query_suite":
        measured = [o for o in ops if o["pass"] >= 1]
    else:
        measured = [o for o in ops if o["name"] == "CorpusStream.run"]
    npass = len({o["pass"] for o in measured}) or 1
    spark = raw.get("spark", {"jobs": [], "stages": []})
    spans = _load_spans(span_path)
    span_by_id = {s["id"]: s for s in spans}
    op_by_id = {o["id"]: o for o in ops}
    op_by_run = {o["observed"].get("run_id"): o for o in ops if o["observed"].get("run_id")}

    def op_of_group(group):
        """The timed call a job ran under: its group names the call's span
        (or a span below it), or the stream run it belongs to."""
        s = _group_span(group, span_by_id)
        return op_by_id.get(s["op"]) if s else op_by_run.get(group)

    def jobs_of(op_list):
        ids = {o["id"] for o in op_list}
        return [j for j in spark["jobs"] if (op_of_group(j["group"]) or {}).get("id") in ids]

    def stages_of(jobs):
        ids = {j["id"] for j in jobs}
        return [s for s in spark["stages"] if s["job"] in ids]

    jobs = jobs_of(measured)
    stages = stages_of(jobs)
    stages_by_id = {s["id"]: s for s in spark["stages"]}
    wall = sum(o["s"] for o in measured) or 1.0
    run_s = sum(s["run_ms"] for s in stages) / 1000
    multi = [s for s in stages if len(s["task_ms"]) >= 2]
    m = {
        "spark.jobs": (len(jobs) / npass, "count"),
        "spark.stages": (len(stages) / npass, "count"),
        "spark.tasks": (sum(len(s["task_ms"]) for s in stages) / npass, "count"),
        "spark.floor_s": (raw.get("floor_s", 0.0), "s"),
        "spark.sched_delay_s": (sum(s["sched_ms"] for s in stages) / 1000 / npass, "s"),
        "spark.executor_run_s": (run_s / npass, "s"),
        "spark.executor_cpu_s": (sum(s["cpu_ns"] for s in stages) / 1e9 / npass, "s"),
        "spark.gc_s": (sum(s["gc_ms"] for s in stages) / 1000 / npass, "s"),
        "spark.core_busy_ratio": (run_s / (CORES * wall), "ratio"),
        "spark.shuffle_read_bytes": (sum(s["shuffle_read"] for s in stages) / npass, "B"),
        "spark.shuffle_write_bytes": (sum(s["shuffle_write"] for s in stages) / npass, "B"),
        "spark.spill_mem_bytes": (sum(s["spill_mem"] for s in stages) / npass, "B"),
        "spark.spill_disk_bytes": (sum(s["spill_disk"] for s in stages) / npass, "B"),
        "spark.peak_exec_mem_bytes": (max([s["peak_mem"] for s in stages] or [0]), "B"),
        "spark.straggler_ratio": (
            sum(max(s["task_ms"]) for s in multi) /
            (sum(median(s["task_ms"]) for s in multi) or 1), "ratio"),
        "spark.single_task_stage_s": (
            sum(s["end_ms"] - s["submit_ms"] for s in stages if s["tasks"] == 1) / 1000 / npass, "s"),
        "spark.output_bytes": (sum(s["out_bytes"] for s in stages) / npass, "B"),
        "spark.failed_tasks": (sum(s["failed"] for s in stages), "count"),
        "tables.open_s": (median([s["end_us"] - s["start_us"] for s in spans
                                  if s["layer"] == "setup" and s["name"] == "tables.open"]) / 1e6, "s"),
    }
    m.update(_query_layer(raw, ops, measured, jobs, npass, op_of_group))
    m.update(_corpus_layer(jobs if raw["workload"] == "corpus" else [], stages_by_id))
    # the release tail CorpusJob shares with the stream runs in publish
    drains = [o for o in ops if o["name"] == "CorpusStream.run"]
    djobs = jobs_of(drains)
    m.update(_stream_layer(raw, drains, djobs, stages_of(djobs)))
    m.update(_kernel_layer(raw))
    if span_path and spans:
        _write_spans(span_path, spans, spark)
    return m


def _query_layer(raw, ops, measured, jobs, npass, op_of_group):
    m = {}
    suite = raw["workload"] == "query_suite"
    warm = [o for o in ops if o["pass"] >= 1] if suite else []
    for mod in MODULES:
        by = {}
        for o in warm:
            if o["group"] == mod:
                by.setdefault(o["name"], []).append(o["s"])
        m[f"queries.{mod}.warm_s"] = (sum(median(v) for v in by.values()), "s")
        n = sum(1 for j in jobs if (op_of_group(j["group"]) or {}).get("group") == mod) if suite else 0
        m[f"queries.{mod}.jobs"] = (n / npass, "count")
    windows = sorted((o["start_us"] / 1000, o["end_us"] / 1000) for o in measured)
    plan = exe = 0.0
    for r in raw.get("plans", []):
        if any(a <= r["start_ms"] <= b for a, b in windows):
            plan += r["plan_ms"] / 1000
            exe += r["exec_ms"] / 1000
    m["queries.plan_s"] = (plan / npass, "s")
    m["queries.exec_s"] = (exe / npass, "s")
    memo = raw.get("memo")
    ratio = 0.0
    if memo and len(memo) >= 3:
        h1, m1 = parse_memo(memo[1])
        h2, m2 = parse_memo(memo[2])
        tot = (h2 - h1) + (m2 - m1)
        ratio = (h2 - h1) / tot if tot else 0.0
    m["queries.memo_hit_ratio"] = (ratio, "ratio")
    cold = {o["name"]: o["s"] for o in ops if o["pass"] == 0} if suite else {}
    wm = {}
    for o in warm:
        wm.setdefault(o["name"], []).append(o["s"])
    m["queries.first_run_extra_s"] = (
        sum(cold[q] - median(v) for q, v in wm.items() if q in cold), "s")
    samples = [o["s"] for o in warm]
    m["queries.warm_samples"] = (len(samples), "count")
    p90, _ = percentile(samples, 90)
    m["queries.p90_s"] = (p90, "s")
    return m


def _corpus_layer(jobs, stages_by_id):
    m = {}
    for f in CORPUS_FILES:
        js = [j for j in jobs if job_file(j, stages_by_id) == f]
        m[f"corpus.{f}_s"] = (sum((j["end_ms"] - j["submit_ms"]) for j in js) / 1000, "s")
        m[f"corpus.{f}_jobs"] = (len(js), "count")
    return m


def _stream_layer(raw, drains, jobs, stages):
    ep = [e for o in drains for e in o["observed"].get("epochs_traced", [])]
    prog = [e for o in drains for e in _drain_epochs(raw, o)]
    last = drains[-1]["observed"] if drains else {}
    e2e = _stream_e2e(raw, drains)
    return {
        "stream.ingest_s": (median([e["ingest_s"] for e in ep]), "s"),
        "stream.publish_s": (median([e["publish_s"] for e in ep]), "s"),
        "stream.vacuum_s": (median([e["vacuum_s"] for e in ep]), "s"),
        "stream.engine_overhead_s": (
            median([(e["trigger_ms"] - e["add_batch_ms"]) / 1000 for e in prog]), "s"),
        "stream.jobs_per_epoch": (len(jobs) / max(1, len(prog)), "count"),
        "stream.state_bytes": (last.get("state_bytes", 0), "B"),
        "stream.state_files": (last.get("state_files", 0), "count"),
        "stream.write_amp": (
            sum(s["out_bytes"] for s in stages) / max(1, raw.get("landing_bytes", 1)), "ratio"),
        "stream.epoch_last_s": (e2e["epoch_last_s"], "s"),
        "stream.docs_per_s": (e2e["stream_docs_per_s"], "1/s"),
    }


def _kernel_layer(raw):
    m = {}
    got = {k["name"]: k for k in raw.get("kernels", [])}
    for k in KERNELS:
        r = got.get(k)
        m[f"kernel.{k}.rows_per_s"] = (r["rows"] / r["s"] if r else 0.0, "1/s")
        m[f"kernel.{k}.rows_per_s_nowscg"] = (r["rows"] / r["s_nowscg"] if r else 0.0, "1/s")
        m[f"kernel.{k}.in_wscg"] = (r["in_wscg"] if r else -1, "flag")
    return m


def _load_spans(path):
    if not path:
        return []
    try:
        with open(path) as f:
            return [json.loads(ln) for ln in f if ln.strip()]
    except FileNotFoundError:
        return []


def _write_spans(path, spans, spark):
    """Add the Spark job and stage spans, compute self times, rewrite."""
    top = max(s["id"] for s in spans)
    counter = iter(range(top + 1, top + 10**9))
    span_by_id = {s["id"]: s for s in spans}
    allspans = spans + spark_spans(spark, span_by_id, lambda: next(counter))
    selfs = self_times(allspans)
    with open(path, "w") as f:
        for s in allspans:
            f.write(json.dumps(dict(s, self_us=selfs[s["id"]])) + "\n")


def describe(res):
    """A few human-readable lines for standard output."""
    lines = [f"workload {res['workload']}: correct={res['correct']} "
             f"attempted={res['attempted']} failed={res['failed']} "
             f"fail_ratio={res['detail']['fail_ratio']:.4f}"]
    for name, why in ((f"{n} (pass {p})", w) for n, p, w in res["failures"][:5]):
        lines.append(f"  FAIL {name}: {why}")
    extra = ", ".join(f"{k}={v:.4g}" for k, v in res["detail"].items() if k != "fail_ratio")
    lines.append(f"  {extra}")
    lines.append("  " + ", ".join(f"{k}={v['value']:.4g} {v['unit']}"
                                  for k, v in sorted(res["metrics"].items())[:40]))
    return lines
