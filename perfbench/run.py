"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke            # every workload once, tiny

Builds the program from source (see build.py), generates the workload's
inputs from the seed, runs the workload in a fresh JVM with its own
temporary root (java.io.tmpdir, Spark local dirs, stream checkpoints and
stores all live under it, and it is deleted at exit), checks every
output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, from a run that attributes Spark jobs and tasks
to the span the benchmark opened around each layer call (the full span
report goes to stderr). See README.md for what each metric means.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))  # noqa: E402
import build  # noqa: E402
import inputs  # noqa: E402

HERE = Path(__file__).resolve().parent
WORKLOADS = ["weather_batch", "corpus_store"]
# a run, after the build, must end well inside the 180 s a run may take
DEADLINE_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# the store's served reads, each taken after the drain (two live
# generations) and again after the compaction (one)
STORE_READS = [f"operators.{r}.{step}" for step in ["after_drain", "after_compact"]
               for r in ["index_stats", "index_lookup", "bm25_served"]]
# spans whose per-layer figures are reported; serving.* per request, the
# rest per pass
SPANS = ["io.ingest", "analytics.plan", "app.sql_surface", "io.result_write",
         "ml.train", "ml.predict", "serving.plan", "serving.execute",
         "streaming.drain", "operators.index_compact"] + STORE_READS
QUERIES = ["q128", "q44", "q45", "q13"]


def inputs_for(workload, smoke):
    if workload == "weather_batch":
        return None  # the weather fixture is written by the program itself
    n_docs = 120 if smoke else 500
    return {"n_docs": n_docs, "n_orders": 300 if smoke else 1500}


def run_jvm(classpath, workload, seed, seconds, trace, smoke, root, deadline):
    inp = root / "inputs"
    inp.mkdir(parents=True)
    sizes = inputs_for(workload, smoke)
    if sizes:
        inputs.generate(str(inp), seed, **sizes)
    (root / "tmp").mkdir()
    cmd = ["java"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # a fixed heap: no resizing inside a timed pass
    cmd += ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={root / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}", "-cp", classpath,
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--smoke", "1" if smoke else "0", "--root", str(root),
            "--inputs", str(inp)]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its scratch
    # files under the run's root
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {workload} did not finish in time")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise SystemExit(f"perfbench: {workload} JVM exited with {code}")
    return json.loads((root / "result.json").read_text())


def oracle_failures(root, inp):
    """Queries whose first-pass rows differ from their DuckDB oracle (as
    the repository's verify_local.py compares them)."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    oracle = json.loads((root / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in Path(inp).glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    bad = {}
    for name in sorted(p.name for p in (root / "check").iterdir()):
        files = sorted((root / "check" / name).glob("*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            if got.empty:
                bad[name] = "empty result"
            continue
        want = con.execute(oracle[name]).df()
        if sorted(got.columns) != sorted(want.columns):
            bad[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"rows {len(got)} != {len(want)}"
        else:
            g, w = canon(got), canon(want)
            dt = [c for c in g.columns if str(g[c].dtype) != str(w[c].dtype)]
            if dt:
                bad[name] = f"dtypes differ in {dt}"
            elif ((g != w) & ~(g.isna() & w.isna())).any().any():
                bad[name] = "values differ"
    con.close()
    return bad


def median(xs):
    """Median, or None when there is no sample: a metric without a
    successful sample is left out, never reported as 0."""
    return statistics.median(xs) if xs else None


def serve_ms(ops, passes):
    """Geometric mean, over the kinds of served read, of each kind's
    median latency in `passes`. A kind is a (span, key) pair: one
    dashboard function, or one store read at one store step; every kind
    weighs the same, whatever its latency."""
    by_kind = {}
    for o in ops:
        if o["ok"] and o["kind"] == "serve" and o["pass"] in passes:
            by_kind.setdefault((o["span"], o["key"]), []).append(o["ms"])
    if not by_kind:
        return None
    return math.exp(statistics.fmean(math.log(median(v)) for v in by_kind.values()))


def metrics(res, trace):
    ops = res["ops"]
    passes = {p["pass"]: p for p in res["passes"]}
    ok_pass = {p: all(o["ok"] for o in ops if o["pass"] == p) and
               any(o["pass"] == p for o in ops) for p in passes}
    warm = [p for p in sorted(passes) if p > 0 and ok_pass[p]]
    if not trace:
        return {
            "setup_s": (median(res["setup_s"]), "s"),
            "first_pass_s": (passes[0]["wall_s"] if ok_pass[0] else None, "s"),
            "pass_s": (median([passes[p]["wall_s"] for p in warm]), "s"),
            "serve_ms": (serve_ms(ops, warm), "ms"),
        }
    traced = [p for p in warm if passes[p]["traced"]]
    plain = [p for p in warm if not passes[p]["traced"]]
    spans = [s for p in traced for s in passes[p]["spans"]]
    n = max(len(traced), 1)
    reqs = [s for s in spans if s["name"] == "serving.request"]
    per = {name: (max(len(reqs), 1) if name.startswith("serving.") else n)
           for name in SPANS}
    out = {}
    for name in SPANS:
        mine = [s for s in spans if s["name"] == name]
        out[f"{name}.self_s"] = (sum(s["self_ms"] for s in mine) / 1e3 / per[name], "s")
        out[f"{name}.jobs"] = (sum(s["jobs"] for s in mine) / per[name], "count")
        out[f"{name}.task_s"] = (sum(s["task_ms"] for s in mine) / 1e3 / per[name], "s")
        out[f"{name}.gap_s"] = (sum(s["gap_ms"] for s in mine) / 1e3 / per[name], "s")
    for q in QUERIES:
        mine = {k: [s for s in spans if s["name"] == f"queries.{q}{k}"]
                for k in ["", ".build", ".plan", ".execute"]}
        for k, unit_key in [(".build", "build_s"), (".plan", "plan_s"), (".execute", "exec_s")]:
            out[f"queries.{q}.{unit_key}"] = (sum(s["wall_ms"] for s in mine[k]) / 1e3 / n, "s")
        sub = mine[".build"] + mine[".plan"] + mine[".execute"] + mine[""]
        out[f"queries.{q}.jobs"] = (sum(s["jobs"] for s in sub) / n, "count")
        out[f"queries.{q}.task_s"] = (sum(s["task_ms"] for s in sub) / 1e3 / n, "s")
    out["gc_s"] = (sum(passes[p]["gc_s"] for p in traced) / n, "s")
    out["shuffle_mb"] = (sum(s["shuffle_bytes"] for s in spans) / 1048576.0 / n, "MB")
    out["spill_mb"] = (sum(s["spill_bytes"] for s in spans) / 1048576.0 / n, "MB")
    t, u = (median([passes[p]["wall_s"] for p in ps]) for ps in (traced, plain))
    out["trace_overhead_s"] = (t - u if t is not None and u is not None else None, "s")
    out["jit_s"] = (sum(passes[p]["jit_s"] for p in traced) / n, "s")
    out["heap_mb"] = (max(p["heap_mb"] for p in passes.values()), "MB")
    amp = [passes[p]["created_bytes"] / passes[p]["input_bytes"]
           for p in traced if passes[p]["input_bytes"] > 0]
    out["write_amp"] = (median(amp), "ratio")
    # serving: per request, under the workload's concurrent clients
    req_ms = [o["ms"] for o in ops if o["span"] == "serving.request" and o["ok"]
              and o["pass"] in traced]
    rounds = [s for s in spans if s["name"] == "serving.round"]
    out["serving.jobs_per_req"] = (sum(s["jobs"] for s in spans if s["name"].startswith("serving."))
                                   / max(len(reqs), 1), "count")
    out["serving.req_per_s"] = (len(reqs) / (sum(s["wall_ms"] for s in rounds) / 1e3)
                                if rounds else 0.0, "1/s")
    out["serving.req_p50_ms"] = (median(req_ms), "ms")
    # the store: one drain, the served reads, and its state after each step
    out["store.append_p50_ms"] = (median([o["ms"] for o in ops if o["span"] == "streaming.drain"
                                          and o["ok"] and o["pass"] in traced]), "ms")
    out["store.serve_ms"] = (serve_ms([o for o in ops if o["span"] in STORE_READS], traced), "ms")
    store = [s for p in traced for s in passes[p].get("store", [])]
    # live generations the after-drain reads served from
    out["store.live_gens"] = (max([s["live_gens"] for s in store if s["step"] == "after_drain"],
                                  default=0), "count")
    out["store.files"] = (max([s["files"] for s in store], default=0), "count")
    out["store.bytes"] = (max([s["bytes"] for s in store], default=0), "B")
    attempted = len(ops)
    out["fail_ratio"] = (sum(not o["ok"] for o in ops) / max(attempted, 1), "ratio")
    # a workload that does not run a layer reads 0 there; one that ran it
    # without a successful sample leaves the metric out
    ran = {o["span"] for o in ops if o["pass"] in traced}
    for k, span in [("serving.req_p50_ms", "serving.request"),
                    ("store.append_p50_ms", "streaming.drain"),
                    ("store.serve_ms", STORE_READS[0])]:
        if out[k][0] is None and span not in ran:
            out[k] = (0.0, out[k][1])
    return out


def trace_report(res):
    """Per traced pass: top-level spans, their self time and gap, and how
    much of the pass wall no span covers."""
    rep = []
    for p in res["passes"]:
        if not p["traced"]:
            continue
        rows = p["spans"]
        top = sum(s["wall_ms"] for s in rows if s.get("top"))
        rep.append({"pass": p["pass"], "wall_s": p["wall_s"], "spans": rows,
                    "store": p.get("store", []),
                    "unattributed_s": p["wall_s"] - top / 1e3})
    return rep


def run_one(classpath, workload, seed, seconds, trace, smoke):
    start = time.monotonic()
    root = build.build_dir() / f"run-{os.getpid()}-{workload}"
    shutil.rmtree(root, ignore_errors=True)
    try:
        res = run_jvm(classpath, workload, seed, seconds, trace, smoke, root,
                      start + DEADLINE_S)
        if workload == "corpus_store":
            for q, why in oracle_failures(root, root / "inputs").items():
                print(f"perfbench: {q} fails its oracle: {why}", file=sys.stderr)
                for o in res["ops"]:
                    if o["key"] == q:
                        o["ok"] = False
        # the smoke run is traced, and reports both metric sets
        m = {**metrics(res, False), **metrics(res, True)} if smoke else metrics(res, trace)
        if trace:
            print(json.dumps({"workload": workload, "seed": seed,
                              "trace": trace_report(res)}), file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    failed = sum(not o["ok"] for o in res["ops"])
    for o in res["ops"]:
        if not o["ok"]:
            print(f"perfbench: failed op pass {o['pass']} {o['span']} {o['key']}: {o['err']}",
                  file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(res["ops"]),
        "failed": failed,
        # a metric without a successful sample is left out
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()
                    if v is not None and math.isfinite(v)},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at tiny sizes, all checks on")
    a = ap.parse_args()
    if not (a.smoke or a.workload):
        ap.error("--workload is required")
    # a termination signal unwinds normally, so the finally blocks kill the
    # JVM or compiler and delete the run's root
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))
    classpath = build.build()
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            print(json.dumps({"workload": w, "seed": a.seed, "smoke": True}))
            r = run_one(classpath, w, a.seed, 1, True, True)
            print(json.dumps(r))
            ok = ok and r["correct"]
        return 0 if ok else 1
    print(json.dumps({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                      "trace": a.trace}))
    r = run_one(classpath, a.workload, a.seed, a.seconds, a.trace, False)
    print(json.dumps(r))
    return 0


if __name__ == "__main__":
    sys.exit(main())
