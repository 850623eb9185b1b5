"""Self-test of the benchmark itself: `python3 perfbench/run.py --self-test`.

1. The harness depends only on stable entry points: no `graft.examples`,
   no `WhProf`, no `graft.Bench` (which rewrites bench_defs.json), no
   registry entries (`st_warehouse_e2e` appends to a committed profile).
2. BENCHMARK.json names exactly the workloads and metrics run.py emits.
3. A small smoke pass of every workload, traced and untraced (catch-up with
   the seven-boolean equivalence gate), passes its output checks and emits
   every metric name of BENCHMARK.json with its unit.
4. Each output check catches a corrupted row; the curate invariants agree
   with the full DuckDB oracle of the curation pipeline on the smoke corpus.
5. The run leaves `git status --porcelain` unchanged.
6. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
   exits non-zero without printing a result.
"""
import json
import os
import re
import shutil
import subprocess
import sys

import run

SMOKE = {"wh_catchup": dict(events=1000, reads=3),
         "curate": dict(docs=400)}
FORBIDDEN = [r"graft\.examples", r"WhProf", r"graft\.Bench\b", r"bench_defs",
             r"graft\.queries", r"Registry"]


def git_status():
    try:
        return subprocess.run(["git", "status", "--porcelain"], cwd=run.ROOT,
                              capture_output=True, text=True, check=True).stdout
    except (OSError, subprocess.CalledProcessError):
        return None  # not a git checkout


def check_sources():
    bad = []
    for dp, dns, fns in os.walk(run.HERE):
        dns[:] = [d for d in dns if d not in ("target", "project", "__pycache__")]
        for f in fns:
            if f.endswith((".scala", ".py", ".sbt")) and f != "selftest.py":
                text = open(os.path.join(dp, f)).read()
                bad += [f"{f}: {p}" for p in FORBIDDEN if re.search(p, text)]
    return bad


def check_manifest():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    probs = []
    if sorted(w["name"] for w in b["workloads"]) != sorted(run.WORKLOADS):
        probs.append("workloads differ from run.WORKLOADS")
    if [(m["name"], m["unit"]) for m in b["end_to_end"]] != run.END_TO_END:
        probs.append("end_to_end differs from run.END_TO_END")
    if [(m["name"], m["unit"]) for m in b["per_layer"]] != run.per_layer_names():
        probs.append("per_layer differs from run.per_layer_names()")
    return probs, b


def corrupt_checks(workload, work, sf, cfg):
    """Each check must flag a one-row corruption of a real output."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    probs = []
    tmp = os.path.join(work, "corrupt.parquet")
    chk = os.path.join(work, "check")
    if workload == "wh_catchup":
        expected = run.visitor_expected(sf)
        t = pq.read_table(os.path.join(chk, "visitor_gate"))
        if run.check_visitor(os.path.join(chk, "visitor_gate"), expected, True):
            probs.append("gated visitor output fails its own check")
        pv = t.column("pv_ct").to_pylist()
        pv[0] += 1
        pq.write_table(t.set_column(t.schema.get_field_index("pv_ct"), "pv_ct",
                                    pa.array(pv, pa.int64())), tmp)
        if not run.check_visitor(tmp, expected, True):
            probs.append("visitor check missed a corrupted pv_ct")
        ok = t.column("product_ok").to_pylist()
        ok[0] = False
        pq.write_table(t.set_column(t.schema.get_field_index("product_ok"),
                                    "product_ok", pa.array(ok)), tmp)
        if not run.check_visitor(tmp, expected, True):
            probs.append("gate check missed a FALSE boolean")
    else:
        docs = run.read_docs(sf)
        rows = run.read_curated(os.path.join(chk, sorted(os.listdir(chk))[0]))
        if rows != run.curate_oracle(sf, cfg["ce_max"]):
            probs.append("curate output differs from the DuckDB oracle")
        for i, field in ((0, 4), (len(rows) // 2, 0), (len(rows) - 1, 5)):
            bad = [list(r) for r in rows]
            bad[i][field] += 1
            if not run.check_curate([tuple(r) for r in bad], docs, cfg["ce_max"]):
                probs.append(f"curate check missed a corrupted row {i} field {field}")
        dup = rows + [rows[-1]]
        if not run.check_curate(dup, docs, cfg["ce_max"]):
            probs.append("curate check missed a duplicated row")
    return probs


def bare_dir_fails():
    """The benchmark alone, without the program, must fail fast."""
    bare = os.path.join(run.build_dir(), "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "curate",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, env=env, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    return [] if p.returncode != 0 and '"metrics"' not in p.stdout else [
        f"bare directory run exited {p.returncode} / printed a result"]


def main():
    before = git_status()
    probs = [f"forbidden reference {b}" for b in check_sources()]
    mp, manifest = check_manifest()
    probs += mp
    names = {"0": {m["name"]: m["unit"] for m in manifest["end_to_end"]},
             "1": {m["name"]: m["unit"] for m in manifest["per_layer"]}}
    for wl, cfg in SMOKE.items():
        for trace in (1, 0):
            res, details, raw = run.run_once(wl, 1, 1, trace, cfg, keep_work=True,
                                             gate=(wl == "wh_catchup"))
            print(f"[selftest] {wl} trace={trace}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
            if not res["correct"] or res["failed"]:
                probs.append(f"{wl} trace={trace}: {details['problems']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != names[str(trace)]:
                probs.append(f"{wl} trace={trace}: metric names/units differ from "
                             "BENCHMARK.json")
            if trace == 0:
                full = dict(run.WORKLOADS[wl], **cfg)
                sf = (run.tables_dir("corpus", 1, 200, full["docs"]) if wl == "curate"
                      else run.tables_dir("wh", 1, full["events"]))
                probs += corrupt_checks(wl, os.path.join(run.build_dir(), "work", wl),
                                        sf, full)
    probs += bare_dir_fails()
    after = git_status()
    if before != after:
        probs.append("git status changed:\n" + (after or ""))
    for p in probs:
        print(f"[selftest] FAIL {p}", flush=True)
    print(f"[selftest] {'ok' if not probs else 'FAILED'}", flush=True)
    return 1 if probs else 0
