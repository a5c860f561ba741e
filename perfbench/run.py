#!/usr/bin/env python3
"""The graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the harness from source with sbt (the build is reused while no source
file changes); every run then starts one JVM that sets up the workload,
drives its closed loop for S seconds and writes raw measurements, which
this script checks and turns into the metrics named in BENCHMARK.json.
The last line of stdout is `{"correct", "attempted", "failed",
"metrics"}`: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. A fuller record of each run (every metric, the host's load
average and CPU steal during the run) goes to
`$CARGO_TARGET_DIR/results/` (default `.bench_build/results/`).

Workloads (see perfbench/README.md): doc_oltp, analytic_keys.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

# the tail percentile of each workload's primary ops (doc_oltp lookups,
# analytic_keys short-key runs), and so the fewest of them a run times
# (ten samples beyond the percentile)
TAIL_PCT = {"doc_oltp": 60, "analytic_keys": 60}
# a run ends within this many seconds of its start, build excluded
DEADLINE_S = 170
HEAP = "3g"
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]
# Spark 4 on JDK 17 outside spark-submit (see the library's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and
    wait for it. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:  # interrupted: take the child down with us
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- build

def source_stamp(root):
    h = hashlib.sha256()
    files = []
    for base in ("src/main", "perfbench/src/main", "project"):
        for d, _, names in os.walk(os.path.join(root, base)):
            if "target" in d.split(os.sep):
                continue
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(root, "build.sbt"),
              os.path.join(root, "perfbench", "build.sbt")]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(root, state):
    """The harness's runtime classpath, building first when any source
    changed since the last build in this checkout."""
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no library sources here (run from the root of a checkout)")
    stamp = source_stamp(root)
    cp_file = os.path.join(state, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved = f.read().split("\n", 1)
        if saved[0] == stamp:
            return saved[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        timeout=840, cwd=os.path.join(root, "perfbench"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write((out or "")[-4000:])
        fail(f"build failed (exit {code})")
    cp = [ln for ln in out.splitlines()
          if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(state, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp[-1].strip())
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return cp[-1].strip()


# ---------------------------------------------------------------- host

def host_sample():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return load, cpu


def host_report(start, end):
    """Load averages at both ends and the share of CPU time stolen by the
    hypervisor in between — readings that make a stalled run visible.
    They are recorded beside the metrics, never used to drop a run."""
    d = [b - a for a, b in zip(start[1], end[1])]
    total = sum(d)
    steal = d[7] if len(d) > 7 else 0
    return {"loadavg_start": start[0], "loadavg_end": end[0],
            "cpu_steal_ratio": steal / total if total else 0.0,
            "cores": os.cpu_count()}


# ---------------------------------------------------------------- oracle

def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def oracle_check(data_dir, dump_dir, oracle, deadline):
    """Compare each dumped key result against its DuckDB oracle with the
    repository's gate rules (tools/check.py): columns by name, rows
    sorted, doubles to 9 significant digits. Returns failure messages."""
    import duckdb
    con = duckdb.connect()
    con.sql(f"SET threads TO {os.cpu_count() or 1}")
    for t in ORACLE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t)}.parquet'")
    failures = []
    for key in sorted(oracle):
        if time.time() > deadline:
            failures.append(f"{key}: oracle not run (deadline)")
            continue
        files = glob.glob(os.path.join(dump_dir, key, "*.parquet"))
        if not files:
            failures.append(f"{key}: no result dumped")
            continue
        try:
            sdf = con.sql(f"SELECT * FROM '{files[0]}'").df()
            odf = con.sql(oracle[key]).df()
        except Exception as e:  # an oracle error is a failed check
            failures.append(f"{key}: oracle error {e}")
            continue
        cols = sorted(sdf.columns)
        if cols != sorted(odf.columns):
            failures.append(f"{key}: columns differ")
            continue
        rows = lambda df: sorted(tuple(norm(v) for v in r)
                                 for r in df[cols].itertuples(index=False))
        if rows(sdf) != rows(odf):
            failures.append(f"{key}: rows differ from the oracle")
    return failures


# ---------------------------------------------------------------- metrics

def by_class(ops, classes):
    return {c: [o["ms"] for o in ops if o["cls"] == c] for c in classes}


def end_to_end(res, workload, gen_s):
    ops = res["ops"]
    ms = by_class(ops, res["classes"])
    primary = [o["ms"] for o in ops if o["cls"] in res["primary"]]
    return {
        "setup_s": res["session_s"] + res["preload_s"] + gen_s,
        "p50_ms": stats.median(primary),
        "tail_ms": stats.percentile(primary, TAIL_PCT[workload]),
        "cycle_s": sum(stats.median(v) for v in ms.values()) / 1000.0,
        "heap_live_mb": res["heap_live_mb"],
    }


def per_layer(res, workload):
    """The harness's layer figures plus those derived here from the op
    timings; names a workload does not exercise stay 0."""
    ops = res["ops"]
    out = dict(res.get("layers", {}))
    ms = by_class(ops, res["classes"])
    med = lambda c: stats.median(ms[c]) if ms.get(c) else 0.0
    if workload == "doc_oltp":
        out.update({"engine.lookup.p50_ms": med("lookup"),
                    "engine.upsert.p50_ms": med("upsert"),
                    "engine.delete.p50_ms": med("delete")})
    else:
        long_keys = set(res["long_keys"])
        out.update({
            "analytic.short_s": sum(med(k) for k in res["classes"]
                                    if k not in long_keys) / 1000.0,
            "analytic.long_s": sum(med(k) for k in long_keys) / 1000.0})
    # tracing overhead: traced vs untraced ops of the same classes
    pairs = []
    for c in res["classes"]:
        t = [o["ms"] for o in ops if o["cls"] == c and o["traced"]]
        u = [o["ms"] for o in ops if o["cls"] == c and not o["traced"]]
        if t and u:
            pairs.append((stats.median(t), stats.median(u)))
    if pairs:
        out["trace.overhead_ratio"] = \
            sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1.0
    return out


# ---------------------------------------------------------------- main

def main():
    # a terminated front end still stops its JVM and clears its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus", help="analytic_keys: run on this corpus "
                    "directory instead of generating one from the seed")
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")
    state = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                           ".bench_build"))
    cp = classpath(root, state)
    deadline = time.time() + DEADLINE_S

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(state, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    host0 = host_sample()
    try:
        gen_s = 0.0
        data_dir = os.path.join(run_dir, "data")
        if a.corpus:
            data_dir = os.path.abspath(a.corpus)
        elif a.workload == "analytic_keys":
            # corpus generation is part of set-up
            t0 = time.time()
            gen.write(data_dir, a.seed)
            gen_s = time.time() - t0
        out_file = os.path.join(run_dir, "result.json")
        log_file = os.path.join(state, "logs", run_id + ".log")
        os.makedirs(os.path.dirname(log_file), exist_ok=True)
        cmd = (["java"] + [x for p in ADD_OPENS
                           for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
                "-XX:+UseCodeCacheFlushing",
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                "-Dspark.ui.enabled=false",
                "-cp", cp, "graftbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--min-ops", str(stats.min_samples(TAIL_PCT[a.workload])),
                "--run-dir", run_dir, "--out", out_file, "--data", data_dir])
        t_jvm = time.time()
        with open(log_file, "w") as log:
            code, _ = run_group(cmd, timeout=deadline - time.time(),
                                stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir)
        if code != 0 or not os.path.isfile(out_file):
            fail(f"harness {'timed out' if code is None else 'failed'}; "
                 f"see {log_file}")
        with open(out_file) as f:
            res = json.load(f)
        jvm_s = time.time() - t_jvm
        oracle_s = 0.0
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if "oracle" in res:
            keys = res["classes"]
            missing = [k for k in keys if k not in res["oracle"]]
            t_oracle = time.time()
            bad = oracle_check(data_dir, os.path.join(run_dir, "dump"),
                               res["oracle"], deadline) + \
                [f"{k}: no oracle" for k in missing]
            oracle_s = time.time() - t_oracle
            attempted += len(keys)
            failed += len(bad)
            failures += bad
        if a.trace and os.path.isfile(os.path.join(run_dir, "spans.jsonl")):
            os.makedirs(os.path.join(state, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(state, "traces", run_id + ".jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host = host_report(host0, host_sample())

    e2e = end_to_end(res, a.workload, gen_s)
    layers = per_layer(res, a.workload)
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = layers if a.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "corpus": a.corpus or "generated",
              "seconds": a.seconds, "wall_s": time.time() - t_start,
              "attempted": attempted, "failed": failed,
              "failures": failures[:20], "host": host,
              "tail_pct": TAIL_PCT[a.workload], "n_ops": len(res["ops"]),
              "class_median_ms": {c: stats.median(v) for c, v in
                                  by_class(res["ops"], res["classes"]).items()
                                  if v},
              "ops": [[o["cls"], o["ms"], o["traced"]] for o in res["ops"]],
              "session_s": res["session_s"], "preload_s": res["preload_s"],
              "gen_s": gen_s, "jvm_s": jvm_s, "oracle_s": oracle_s,
              "warmup_s": res.get("warmup_s"),
              "end_to_end": e2e, "per_layer": layers}
    os.makedirs(os.path.join(state, "results"), exist_ok=True)
    with open(os.path.join(state, "results", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(f"perfbench: host {json.dumps(host)}", file=sys.stderr)
    for msg in failures[:20]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
