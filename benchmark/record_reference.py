#!/usr/bin/env python3
"""Records benchmark/reference.json, the values every benchmark run checks
its outputs against. Run from the repository root when the selected queries
or the program's intended outputs change:

    python3 benchmark/record_reference.py

Queries run once on the recompute path (spark.graft.dedup.sharePairs off,
the path Verify uses); their outputs are dumped and checked against the
DuckDB oracle with tools/check_oracle.py before any value is recorded. The
corpus values are CorpusJob.execute's funnel and output hash; the same run
checks that the stream's published corpus equals the batch output.
"""
import json
import os
import shutil
import subprocess
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def jvm(cp, wl, params, queries=None):
    cfg = run.WORKLOADS[wl]
    cfg["params"] = dict(cfg["params"], **params)
    if queries is not None:
        cfg["queries"] = queries
    raw = os.path.join(run.BUILD, f"record-{wl}.json")
    args = types.SimpleNamespace(seed=1, trace=0)
    run.run_jvm(cp, wl, args, raw, raw + ".spans", os.path.join(run.BUILD, "record-work"), 3600)
    ops = json.load(open(raw))["ops"]
    bad = [(o["name"], o["error"]) for o in ops if not o["ok"]]
    if bad:
        raise SystemExit(f"recording failed: {bad}")
    return ops


def main():
    cp, _ = run.build()
    queries = run.WORKLOADS["query_suite"]["queries"]
    dump = os.path.join(run.BUILD, "record-dump")
    shutil.rmtree(dump, ignore_errors=True)
    ops = jvm(cp, "query_suite", {"setups": 0, "warm": 0, "share": "false", "dump": dump})
    chk = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                          os.path.join(HERE, "data", "sf0.1"), dump,
                          "--only", ",".join(queries)], capture_output=True, text=True)
    print(chk.stdout)
    if chk.returncode != 0:
        raise SystemExit("oracle check failed; nothing recorded")
    ref = {"queries": {o["name"]: {k: o["observed"][k] for k in ("rows", "hash")}
                       for o in ops}}
    batch, stream = jvm(cp, "corpus", {"setups": 0, "batch": "true"})
    if not stream["observed"]["equals_batch"]:
        raise SystemExit("the stream's published corpus differs from the batch job's")
    ref["corpus"] = {k: batch["observed"][k] for k in ("rows", "hash", "funnel")}
    with open(os.path.join(HERE, "reference.json"), "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(ref['queries'])} queries and the corpus")


if __name__ == "__main__":
    main()
