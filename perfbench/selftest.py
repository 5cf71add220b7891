#!/usr/bin/env python3
"""Self-test of the benchmark: ``python3 perfbench/selftest.py`` from the
root of a checkout (about three minutes on four cores).

1. ``BENCHMARK.json`` agrees with ``perfbench/metrics.json`` and keeps the
   format limits (names, units, bounds, one-line reasons).
2. Every workload runs at a tiny size, untraced and traced:
   - the untraced run passes its checks and prints every end-to-end metric
     with its unit, none of them 0;
   - the traced run prints every per-layer metric with its unit, every time
     and rate of a layer the workload loads is non-zero and every metric of
     a layer it bypasses is 0, every span's parent exists within the same
     job, and the layer self times of each traced job add up to its wall.
3. In a directory holding only ``BENCHMARK.json`` and ``perfbench/``, the
   benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

failures: list = []


def expect(cond, msg):
    if not cond:
        failures.append(msg)
        print("FAIL:", msg, flush=True)


def run(args, cwd=ROOT, timeout=180):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=timeout)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def check_definitions(defs, bench):
    expect(set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"},
           f"BENCHMARK.json keys {sorted(bench)}")
    expect([w["name"] for w in bench["workloads"]] == list(defs["workloads"]),
           "workload names differ from metrics.json")
    for w in bench["workloads"]:
        expect(set(w) == {"name", "why"} and len(w["why"]) <= 200
               and "\n" not in w["why"], f"workload entry {w['name']}")
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    expect(list(e2e) == list(defs["end_to_end"]),
           "end_to_end names differ from metrics.json")
    for k, m in e2e.items():
        d = defs["end_to_end"][k]
        expect((m["unit"], m["better"], m["bound"])
               == (d["unit"], d["better"], d["bound"]), f"e2e {k} differs")
        expect(0 < m["bound"] <= 0.25, f"bound of {k}")
    expect(all(e2e["setup_s"]["bound"] > m["bound"]
               for k, m in e2e.items() if k != "setup_s"),
           "setup_s must carry the largest bound")
    layer = {m["name"]: m for m in bench["per_layer"]}
    expect(list(layer) == list(defs["per_layer"]),
           "per_layer names differ from metrics.json")
    for k, m in layer.items():
        d = defs["per_layer"][k]
        expect((m["unit"], m["better"]) == (d["unit"], d["better"]),
               f"per-layer {k} differs")
        expect(d["moves"] is None or d["moves"] in e2e,
               f"{k} names an unknown end-to-end metric")
        expect(set(d["on"]) | set(d["bypassed_by"]) <= set(defs["workloads"]),
               f"{k} names an unknown workload")
    for m in [*bench["end_to_end"], *bench["per_layer"]]:
        expect(NAME.match(m["name"]) and UNIT.match(m["unit"])
               and m["better"] in ("higher", "lower"), f"format of {m}")


def check_untraced(wl, defs):
    code, res, err = run(["--workload", wl, "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--tiny"])
    expect(code == 0 and res is not None, f"{wl} untraced exit {code}: "
           + err[-2000:])
    if res is None:
        return
    expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
           f"{wl} untraced checks: {res}")
    want = defs["end_to_end"]
    expect(list(res["metrics"]) == list(want), f"{wl} e2e metric names")
    for k, m in res["metrics"].items():
        expect(m["unit"] == want[k]["unit"] and m["value"] > 0,
               f"{wl} {k} = {m}")


def check_traced(wl, defs, tmp):
    spans_path = os.path.join(tmp, f"spans_{wl}.json")
    code, res, err = run(["--workload", wl, "--seed", "3", "--seconds", "1",
                          "--trace", "1", "--tiny", "--spans-out",
                          spans_path])
    expect(code == 0 and res is not None, f"{wl} traced exit {code}: "
           + err[-2000:])
    if res is None:
        return
    expect(res["correct"] and res["failed"] == 0,
           f"{wl} traced checks: correct={res['correct']}")
    want = defs["per_layer"]
    expect(list(res["metrics"]) == list(want), f"{wl} per-layer names")
    for k, m in res["metrics"].items():
        d = want.get(k, {})
        expect(m["unit"] == d.get("unit"), f"{wl} unit of {k}")
        if wl in d.get("on", ()) and d.get("unit") in ("s", "Mpx/s"):
            expect(m["value"] > 0, f"{wl} loads {k} but it reads 0")
        if wl in d.get("bypassed_by", ()):
            expect(m["value"] == 0, f"{wl} bypasses {k} but it reads "
                   f"{m['value']}")
    with open(spans_path) as f:
        tr = json.load(f)
    expect(not tr["problems"], f"{wl} trace problems {tr['problems'][:3]}")
    traced_jobs = {j["id"] for j in tr["jobs"] if j["traced"]}
    expect(traced_jobs, f"{wl} ran no traced job")
    by_job: dict = {}
    for s in tr["spans"]:
        by_job.setdefault(s["job"], []).append(s)
    for jid in traced_jobs:
        spans = by_job.get(jid, [])
        ids = {s["id"] for s in spans}
        roots = [s for s in spans if s["parent"] is None]
        expect(len(roots) == 1, f"{wl} job {jid} has {len(roots)} roots")
        expect(all(s["parent"] is None or s["parent"] in ids for s in spans),
               f"{wl} job {jid}: a span's parent is outside the job")
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) \
                    + s["t1"] - s["t0"]
        total = sum(s["t1"] - s["t0"] - child.get(s["id"], 0.0)
                    for s in spans)
        if roots:
            wall = roots[0]["t1"] - roots[0]["t0"]
            expect(abs(total - wall) < 1e-6,
                   f"{wl} job {jid}: self times {total} vs wall {wall}")
        names = {s["name"] for s in spans}
        expect(len(names) > 1, f"{wl} job {jid} has no layer spans")


def check_bare_dir(tmp):
    bare = os.path.join(tmp, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _err = run(["--workload", "raster", "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=bare)
    expect(code != 0 and res is None,
           f"bare directory: exit {code}, result {res}")


def main() -> int:
    with open(os.path.join(HERE, "metrics.json")) as f:
        defs = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_definitions(defs, bench)
    with tempfile.TemporaryDirectory() as tmp:
        check_bare_dir(tmp)
        for wl in defs["workloads"]:
            print(f"{wl}: untraced", flush=True)
            check_untraced(wl, defs)
            print(f"{wl}: traced", flush=True)
            check_traced(wl, defs, tmp)
    print("selftest:", "FAILED" if failures else "ok", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
