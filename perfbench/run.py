#!/usr/bin/env python3
"""The repository benchmark: warehouse catch-up and corpus curation.

    python3 perfbench/run.py --workload wh_catchup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into `.bench_build/`; later runs
reuse the build while the sources hash the same. Inputs are generated from
`--seed` into `.bench_build/inputs/`. One JVM (`perfbench.Harness`) is the
system under test; this process generates its inputs, turns its raw
timings into metrics and checks its outputs. The last stdout line is the
result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, and the spans and raw per-layer numbers are written to
`.bench_build/traces/<workload>-seed<n>.json`. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

# A run must end within 180 s, not counting a build: from the end of the
# build, inputs and the system under test get RUN_LIMIT_S, and the checks
# after it a few seconds more.
RUN_LIMIT_S = 170.0
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SENTINEL = "__sentinel"

# Per-workload sizes. `events` sizes the warehouse inputs (a time slice of
# the sf0.1 fixture's process, 1.5 orders per event), `reads` the dashboard
# reads after the catch-up; `docs` sizes the curation corpus and `ce_max`
# is the LM cross-entropy cap (see NOTES.md on why not 3.45).
WORKLOADS = {
    "wh_catchup": dict(events=5000, reads=6),
    "curate": dict(docs=5000, ce_max=7.2),
}

QUERIES = [("dwd", "base_log"), ("dwd", "base_db"), ("dwm", "unique_visit"),
           ("dwm", "user_jump"), ("dwm", "order_wide"),
           ("dwm", "payment_wide"), ("dws", "visitor"), ("dws", "province"),
           ("dws", "keyword"), ("dws", "product")]
Q_SUFFIX = [("batches", "count"), ("input_rows", "rows"), ("busy_ms", "ms"),
            ("add_batch_ms", "ms"), ("offsets_ms", "ms"), ("plan_ms", "ms"),
            ("commit_ms", "ms"), ("task_cpu_ms", "ms")]
EXT_STAGES = ["text_analysis", "lm_score", "dedup", "sampling", "packing",
              "curation"]

END_TO_END = [("setup_s", "s"), ("retained_heap_mb", "MB"), ("cpu_ms_per_row", "ms")]

# CPU time of the speed probe's kernel on a quiet 4-core Xeon host, the
# reference speed CPU times are scaled to (see NOTES.md, "Why CPU time").
PROBE_REF_MS = 1.55


def per_layer_names():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = []
    for layer, q in QUERIES:
        for suf, unit in Q_SUFFIX:
            out.append((f"streaming.{layer}.{q}.{suf}", unit))
        if q != "base_db":
            out.append((f"streaming.{layer}.{q}.state_rows", "rows"))
    out += [("warehouse.gen_s", "s"), ("warehouse.start_s", "s"),
            ("warehouse.drain_s", "s"), ("warehouse.gate_s", "s"),
            ("warehouse.dwd_lag_p50_s", "s"),
            ("ads.read_p50_ms", "ms"), ("ads.read_plan_ms", "ms"),
            ("ads.read_exec_ms", "ms"), ("ads.reads_failed", "count")]
    for st in EXT_STAGES:
        out += [(f"ext.{st}.task_cpu_ms", "ms"),
                (f"ext.{st}.shuffle_bytes", "bytes"),
                (f"ext.{st}.spill_bytes", "bytes")]
    out += [("ext.jobs", "count"), ("spark.jobs", "count"),
            ("spark.task_cpu_ms", "ms"), ("spark.shuffle_bytes", "bytes"),
            ("spark.spill_bytes", "bytes"), ("spark.gc_ms", "ms"),
            ("bench.foreign_cores", "cores"), ("bench.setup_wall_s", "s"),
            ("bench.timed_wall_s", "s"), ("bench.visitor_visible_s", "s"),
            ("bench.timed_cpu_s", "s"), ("bench.probe_ms", "ms")]
    return out


def now_ms():
    return time.time() * 1000.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


# ----------------------------------------------------------------------
# build
# ----------------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns[:] = sorted(d for d in dns if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in fns]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: no program sources next to perfbench/ "
                         "(expected build.sbt and src/main/scala/graft)")
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    key = source_hash()
    cp_file = os.path.join(bd, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("hash") == key:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx3g")
    log("building program + harness with sbt ...")
    t = time.time()
    with open(os.path.join(bd, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=lf, text=True, stdin=subprocess.DEVNULL)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines()
             if "perfbench" in l and ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: build failed (see {bd}/build.log)")
    with open(cp_file, "w") as f:
        json.dump({"hash": key, "classpath": lines[-1].strip()}, f)
    log(f"build done in {time.time() - t:.0f}s")
    return lines[-1].strip()


# ----------------------------------------------------------------------
# inputs
# ----------------------------------------------------------------------

def tables_dir(kind, seed, n_events, n_docs=None):
    """Generate (once per seed and size) a full table set."""
    import gen
    name = f"{kind}-e{n_events}-d{n_docs or 0}-s{seed}"
    d = os.path.join(build_dir(), "inputs", name)
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        docs = gen.corpus(seed, n_docs) if n_docs else None
        gen.write_tables(d, seed, n_events, docs)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


# ----------------------------------------------------------------------
# oracles and output checks
# ----------------------------------------------------------------------

VISITOR_ORACLE = """
WITH w AS (
  SELECT to_timestamp(CAST(floor(epoch(ts) / 10) * 10 AS BIGINT)) AS ws,
         event_type, value
  FROM read_parquet('{events}'))
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(ws + INTERVAL 10 SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
       event_type,
       CAST(count(*) AS BIGINT) AS pv_ct,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
FROM w GROUP BY ws, event_type
ORDER BY stt, event_type"""

GATE_COLS = ["uv_ok", "uj_ok", "order_ok", "payment_ok", "province_ok",
             "keyword_ok", "product_ok"]


def _rows(table, cols, key):
    rows = list(zip(*[table.column(c).to_pylist() for c in cols]))
    return sorted(rows, key=lambda r: tuple(r[i] for i in key))


def visitor_expected(sf_dir):
    """a1_visitor_window's DuckDB oracle over the run's own events."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    t = con.sql(VISITOR_ORACLE.format(
        events=os.path.join(sf_dir, "events.parquet"))).arrow()
    return _rows(t, ["stt", "edt", "event_type", "pv_ct", "dur_sum"], (0, 2))


def check_visitor(path, expected, gated):
    """None when the chain's visitor frame equals the oracle (and, for the
    gated frame, all seven layer booleans are TRUE); else a reason."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    got = _rows(t, ["stt", "edt", "event_type", "pv_ct", "dur_sum"], (0, 2))
    if got != expected:
        bad = next((i for i, (x, y) in enumerate(zip(got, expected)) if x != y),
                   min(len(got), len(expected)))
        return (f"visitor rows differ from the oracle at row {bad} "
                f"({len(got)} vs {len(expected)} rows)")
    if gated:
        for c in GATE_COLS:
            vals = t.column(c).to_pylist() if c in t.column_names else []
            if not vals or not all(v is True for v in vals):
                return f"equivalence gate {c} is not TRUE"
    return None


CURATE_COLS = ["doc_id", "domain", "quality", "cross_entropy", "n_tokens",
               "start_offset", "pack_id"]


def curate_oracle(sf_dir, ce_max):
    """The x_curation_e2e DuckDB restatement (with the workload's CE cap)
    over `sf_dir`'s corpus. Exact, but minutes at the workload's corpus
    size, so the self-test runs it on a small corpus."""
    import duckdb
    with open(os.path.join(HERE, "curate_oracle.sql")) as f:
        sql = f.read()
    assert "lmce.ce <= 3.45" in sql
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')")
    return _rows(con.sql(sql.replace("lmce.ce <= 3.45", f"lmce.ce <= {ce_max}"))
                 .arrow(), CURATE_COLS, (0,))


def check_curate(rows, docs, ce_max):
    """None when curated `rows` keep the pipeline's contract, else a reason.
    Checked on every run: ids are input ids outside the benchmark shard
    (id % 7 != 0), domain is the doc's language, quality and CE pass the
    gates, token counts match the text, no two survivors share a text
    (exact duplicates must be deduplicated), and offsets/packs are the
    running token sum in id order."""
    if not rows:
        return "no curated rows"
    seen_text, off = set(), 0
    for r in rows:
        d = docs.get(r[0])
        if d is None or r[0] % 7 == 0:
            return f"doc {r[0]} is not a trainable input doc"
        text, lang = d
        if r[1] != lang or r[2] < 0.45 or r[3] > ce_max:
            return f"doc {r[0]} breaks the domain/quality/CE contract"
        if r[4] != sum(1 for w in text.split(" ") if w):
            return f"doc {r[0]} token count {r[4]} does not match its text"
        if text in seen_text:
            return f"doc {r[0]} is an exact duplicate of a kept doc"
        seen_text.add(text)
        if r[5] != off or r[6] != off // 512:
            return f"doc {r[0]} offset/pack ({r[5]}, {r[6]}) != ({off}, {off // 512})"
        off += r[4]
    return None


def read_curated(path):
    import pyarrow.parquet as pq
    return _rows(pq.read_table(path), CURATE_COLS, (0,))


def read_docs(sf_dir):
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text", "lang"])
    return {i: (x, l) for i, x, l in zip(t.column("doc_id").to_pylist(),
                                        t.column("text").to_pylist(),
                                        t.column("lang").to_pylist())}


# ----------------------------------------------------------------------
# measurement helpers
# ----------------------------------------------------------------------

def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def probe_ms(raw, spans):
    """Median CPU time of the speed probe's kernel over the (start, end)
    epoch-ms spans: how fast the host's cores ran there."""
    xs = [ms for t, ms in raw["probe"] if any(a <= t <= b for a, b in spans)]
    return statistics.median(xs)


def first_visible(vis_dir):
    """stt → epoch ms when the window's row first landed in the DWS visitor
    dir: the mtime of the earliest part file holding it. Read after the run,
    so observing costs the system under test nothing."""
    import pyarrow.parquet as pq
    first = {}
    for e in os.scandir(vis_dir):
        if not e.name.endswith(".parquet"):
            continue
        t = pq.read_table(e.path, columns=["stt", "ch"])
        ms = e.stat().st_mtime_ns / 1e6
        for stt, ch in zip(t.column("stt").to_pylist(), t.column("ch").to_pylist()):
            if ch != SENTINEL and ms < first.get(stt, float("inf")):
                first[stt] = ms
    return first


def ods_rows(topics_dir):
    """ODS lines the program wrote (genBaseLog + genBaseDb): the row count
    of every parquet file under the template layout's topics."""
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(os.path.join(dp, f)).num_rows
               for dp, _, fns in os.walk(topics_dir)
               for f in fns if f.endswith(".parquet"))


# ----------------------------------------------------------------------
# one run
# ----------------------------------------------------------------------

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cpus():
    """Cores for the system under test: all but one, so neighbours, the OS
    and this process contend less with the measured work."""
    return max(1, (os.cpu_count() or 4) - 1)


def run_jvm(classpath, work, args, log_path, deadline):
    """Run the system under test to completion, killing it at `deadline`
    (epoch s); return (exit code, spawn epoch ms)."""
    with open(log_path, "w") as log_f:
        spawn_ms = now_ms()
        p = subprocess.Popen(
            ["java", "-Xmx3g", f"-XX:ParallelGCThreads={cpus()}",
             f"-XX:ConcGCThreads={max(1, cpus() // 2)}", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             *JAVA_OPENS, "-cp", classpath, "perfbench.Harness", *args],
            cwd=work, stdin=subprocess.DEVNULL, stdout=log_f, stderr=log_f)
        try:
            return p.wait(timeout=max(deadline - time.time(), 1.0)), spawn_ms
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def run_once(workload, seed, seconds, trace, cfg=None, keep_work=False, gate=False):
    """Run one workload; return (result, details, raw harness output)."""
    cfg = dict(WORKLOADS[workload], **(cfg or {}))
    classpath = build()
    bd = build_dir()
    t_in = time.time()
    deadline = t_in + RUN_LIMIT_S
    if "docs" in cfg:
        sf = tables_dir("corpus", seed, 200, cfg["docs"])
    else:
        sf = tables_dir("wh", seed, cfg["events"])
    work = os.path.join(bd, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_path = os.path.join(work, "result.json")
    # the oracle side runs before the system under test starts, so it never
    # competes with it for cores
    expected = None if workload == "curate" else visitor_expected(sf)
    args = [f"workload={workload}", f"sf={sf}", f"work={work}",
            f"out={out_path}", f"seconds={seconds}", f"trace={int(trace)}",
            f"seed={seed}", f"cpus={cpus()}",
            # the dashboard reads feed only per-layer metrics
            f"reads={cfg.get('reads', 0) if trace else 0}",
            f"ce_max={cfg.get('ce_max', 0)}", f"gate={int(gate)}"]
    details = {"workload": workload, "seed": seed, "seconds": seconds,
               "trace": int(trace), "config": cfg}
    log_path = os.path.join(bd, f"jvm-{workload}.log")
    rc, spawn_ms = run_jvm(classpath, work, args, log_path, deadline)
    t_exit = time.time()
    if rc != 0 or not os.path.exists(out_path):
        raise RuntimeError(f"system under test exited {rc}; see {log_path}")
    with open(out_path) as f:
        raw = json.load(f)
    raw["spawn_ms"] = spawn_ms
    if workload == "wh_catchup":
        details["ods_rows"] = ods_rows(os.path.join(work, "template", "topics"))
        details["windows"] = [
            [ms - rep["t0"] for ms in first_visible(
                os.path.join(work, f"rep{i}", "dws", "visitor")).values()]
            for i, rep in enumerate(raw["reps"])]
    problems = check_outputs(workload, work, sf, expected, cfg)
    # where a run's wall goes, for the time budget (not metrics)
    details["run_phases_s"] = {
        "inputs": spawn_ms / 1000 - t_in,
        "jvm_setup": (raw["setup_end_ms"] - spawn_ms) / 1000,
        "jvm_timed": (raw["region"][1] - raw["region"][0]) / 1000,
        "jvm_after": (raw["done_ms"] - raw["region"][1]) / 1000,
        "jvm_stop": t_exit - raw["done_ms"] / 1000,
        "checks": time.time() - t_exit}
    result = summarize(workload, cfg, sf, raw, details, trace, problems)
    if not keep_work:
        shutil.rmtree(work, ignore_errors=True)
    return result, details, raw


def check_outputs(workload, work, sf, expected, cfg):
    probs = []
    chk = os.path.join(work, "check")
    names = sorted(os.listdir(chk)) if os.path.isdir(chk) else []
    if workload == "curate":
        docs = read_docs(sf)
        first = None
        for n in names:
            rows = read_curated(os.path.join(chk, n))
            p = check_curate(rows, docs, cfg["ce_max"])
            if p is None and first is not None and rows != first:
                p = "differs from the run's first call"
            first = rows if first is None else first
            if p:
                probs.append(f"{n}: {p}")
        if not names:
            probs.append("no curate output")
    else:
        if not names:
            probs.append("no visitor output")
        for n in names:
            p = check_visitor(os.path.join(chk, n), expected, n == "visitor_gate")
            if p:
                probs.append(f"{n}: {p}")
    return probs


def summarize(workload, cfg, sf, raw, details, trace, problems):
    env = dict(raw["env"], foreign_cores=raw["foreign_cores"],
               peak_rss_mb=raw["peak_rss_mb"])
    if workload == "wh_catchup":
        rows = details["ods_rows"]
        walls = [(r["t1"] - r["t0"]) / 1000.0 for r in raw["reps"]]
        cpu_ms = [r["cpu_ms"] for r in raw["reps"]]
        timed = [(r["t0"], r["t1"]) for r in raw["reps"]]
        # a window's freshness: from its repetition's start (the whole
        # backlog due) until it is first visible in dws/visitor
        fresh = [v / 1000.0 for rep in details["windows"] for v in rep]
        env["batches"] = [r["batches"] for r in raw["reps"]]
    else:
        import pyarrow.parquet as pq
        rows = pq.read_metadata(os.path.join(sf, "documents.parquet")).num_rows
        walls = [ms / 1000.0 for ms in raw["calls_ms"]]
        cpu_ms = raw["calls_cpu_ms"]
        timed = [tuple(raw["region"])]
        fresh = []
    # Set-up and timed work are measured in the JVM's own CPU time, scaled
    # to the reference speed by the probe over the same span: on a shared
    # host the wall clock also counts the time other tenants hold the
    # cores, and CPU time how fast they let them run (see NOTES.md, "Why
    # CPU time"). The walls and the raw CPU time stay per-layer.
    probe_setup = probe_ms(raw, [(raw["spawn_ms"], raw["setup_end_ms"])])
    probe_timed = probe_ms(raw, timed)
    e2e = {
        "setup_s": raw["setup_cpu_ms"] / 1000.0 * PROBE_REF_MS / probe_setup,
        "retained_heap_mb": raw["retained_heap_mb"],
        "cpu_ms_per_row": statistics.median(cpu_ms) / rows * PROBE_REF_MS / probe_timed,
    }
    wall_metrics = {
        "setup_wall_s": (raw["setup_end_ms"] - raw["spawn_ms"]) / 1000.0,
        "timed_wall_s": statistics.median(walls),
        "visitor_visible_s": statistics.median(fresh) if fresh else 0.0,
        "timed_cpu_s": statistics.median(cpu_ms) / 1000.0,
        "probe_ms": probe_timed,
    }
    details.update(env=env, walls_s=walls, cpu_ms=cpu_ms, rows=rows,
                   problems=problems, freshness_n=len(fresh), end_to_end=e2e,
                   walls=wall_metrics, probe_setup_ms=probe_setup)
    metrics = per_layer(workload, raw, details) if trace else e2e
    units = dict(END_TO_END + per_layer_names())
    return {"correct": not problems, "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]) + len(problems),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def per_layer(workload, raw, details):
    tr = raw["trace"]
    qs, layers = tr["queries"], tr["layers"]
    m = {}
    for layer, q in QUERIES:
        s = qs.get(q, {})
        for suf, _ in Q_SUFFIX:
            v = (layers.get(f"streaming.{q}", {}).get("task_cpu_ms", 0.0)
                 if suf == "task_cpu_ms" else s.get(suf, 0.0))
            m[f"streaming.{layer}.{q}.{suf}"] = v
        if q != "base_db":
            m[f"streaming.{layer}.{q}.state_rows"] = s.get("state_rows", 0.0)
    ph = raw["phase"]
    for k in ("gen_s", "start_s", "drain_s", "gate_s"):
        m[f"warehouse.{k}"] = ph.get(k, 0.0)
    m["warehouse.dwd_lag_p50_s"] = dwd_lag(raw)
    reads = raw.get("reads", {})
    m["ads.read_p50_ms"] = percentile(reads.get("lat_ms", []), 50) if reads else 0.0
    m["ads.read_plan_ms"] = percentile(reads.get("plan_ms", []), 50) if reads else 0.0
    m["ads.read_exec_ms"] = percentile(reads.get("exec_ms", []), 50) if reads else 0.0
    m["ads.reads_failed"] = reads.get("failed", 0)
    for st in EXT_STAGES:
        a = layers.get(f"ext.{st}", {})
        m[f"ext.{st}.task_cpu_ms"] = a.get("task_cpu_ms", 0.0)
        m[f"ext.{st}.shuffle_bytes"] = a.get("shuffle_bytes", 0.0)
        m[f"ext.{st}.spill_bytes"] = a.get("spill_bytes", 0.0)
    m["ext.jobs"] = sum(v.get("jobs", 0) for k, v in layers.items() if k.startswith("ext."))
    m["spark.jobs"] = sum(v.get("jobs", 0) for v in layers.values())
    for k in ("task_cpu_ms", "shuffle_bytes", "spill_bytes"):
        m[f"spark.{k}"] = sum(v.get(k, 0.0) for v in layers.values())
    m["spark.gc_ms"] = raw["gc_ms"]
    m["bench.foreign_cores"] = raw["foreign_cores"]
    for k, v in details["walls"].items():
        m[f"bench.{k}"] = v
    write_trace(workload, raw, details, m)
    return m


def dwd_lag(raw):
    """Time from a catch-up repetition's start (its whole backlog due)
    until the first base_log batch commits — the ODS→DWD hop's lag."""
    batches = raw["trace"]["base_log_batches"]
    lags = []
    for r in raw.get("reps", []):
        ends = [b[0] for b in batches if r["t0"] <= b[0] <= r["t1"]]
        if ends:
            lags.append((min(ends) - r["t0"]) / 1000.0)
    return percentile(lags, 50) if lags else 0.0


def self_times(spans):
    """Self time per span name: duration minus the union of its children's
    intervals. Batch spans without a parent hang under the innermost span
    whose interval holds their start."""
    by_id = {s[0]: s for s in spans}
    kids = {}
    phases = [s for s in spans if s[2].startswith(("warehouse.", "ext.curate"))]
    for s in spans:
        parent = s[1]
        if parent == -1:
            cover = [p for p in phases if p[3] <= s[3] <= p[4]]
            parent = min(cover, key=lambda p: p[4] - p[3])[0] if cover else 0
        kids.setdefault(parent, []).append(s)
    out = {}
    for sid, s in by_id.items():
        iv = sorted((max(c[3], s[3]), min(c[4], s[4])) for c in kids.get(sid, []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = (a, b)
        if cur:
            covered += cur[1] - cur[0]
        agg = out.setdefault(s[2], {"n": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["n"] += 1
        agg["total_ms"] += s[4] - s[3]
        agg["self_ms"] += (s[4] - s[3]) - covered
    return out


def write_trace(workload, raw, details, metrics):
    d = os.path.join(build_dir(), "traces")
    os.makedirs(d, exist_ok=True)
    tr = raw["trace"]
    doc = {"workload": workload, "seed": details["seed"],
           "end_to_end_traced": details["end_to_end"], "env": details["env"],
           "per_layer": metrics, "queries": tr["queries"], "layers": tr["layers"],
           "self_time": self_times(tr["spans"]), "spans": tr["spans"]}
    with open(os.path.join(d, f"{workload}-seed{details['seed']}.json"), "w") as f:
        json.dump(doc, f)


# ----------------------------------------------------------------------
# entry
# ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        import selftest
        sys.exit(selftest.main())
    if not a.workload:
        ap.error("--workload is required")
    result, details, _ = run_once(a.workload, a.seed, a.seconds, a.trace)
    os.makedirs(os.path.join(build_dir(), "results"), exist_ok=True)
    with open(os.path.join(build_dir(), "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"result": result, "details": details}, f)
    for p in details["problems"]:
        log(f"CHECK FAILED: {p}")
    print(json.dumps({k: details[k] for k in ("env", "walls_s", "cpu_ms", "walls", "run_phases_s")}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
