#!/usr/bin/env python3
"""graft benchmark: four workloads over seeded, generated inputs, each run
as a closed loop with one client in one `local[N]` JVM (N = usable cores).

    python3 perfbench/run.py --workload etl_zones --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness from source (sbt, offline) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. Inputs are generated per
(seed, workload) and cached there too, with their DuckDB oracle
fingerprints.

`--trace 0` prints the end-to-end metrics; `--trace 1` prints the
per-layer metrics of a separate traced run. `--workload all` runs every
workload in turn. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import errno
import hashlib
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from stats import median, quartiles, tail_percentile  # noqa: E402

# Input sizes and heaps. `sf` scales GenData's tables (lineitem = 6M * sf
# rows); `rows` names the stated input of rows_per_s.
WORKLOADS = {
    "etl_zones": dict(sf=0.01, heap="2g", rows=["lineitem"], source=["lineitem"],
                      gates=["o10_pipeline", "q3_topk_join", "ev3_stream_window"]),
    "curation": dict(sf=0.001, docs=1000, chains=20, heap="512m", spill_after=10000,
                     rows=["documents"], source=["documents"],
                     gates=["x2_jaccard_pairs", "x2_dedup_resolve", "x2_dedup_corpus",
                            "x2_minhash_k64", "x3_ivfpq", "x5_bm25", "x8_bfs"]),
    "graph_rounds": dict(sf=0.005, heap="2g", rows=["lineitem"], source=["lineitem"],
                         gates=["x8_bfs", "x8_sssp", "x8_ktruss"]),
    "sql_mix": dict(sf=0.01, heap="2g", rows=gen.TABLES, source=gen.TABLES,
                    gates=layers.SQL_GATES),
}
RUN_LIMIT_S = 170
LOCK_WAIT_S = 60
# Linux abstract socket name: a lock shared by every checkout on the
# machine that creates no file and is released when the process exits.
LOCK_NAME = b"\0graft-perfbench-run"
END_TO_END = [("pass_s", "s"), ("rows_per_s", "rows/s"), ("cpu_s", "s"),
              ("setup_s", "s"), ("retained_heap_mb", "MB")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_lock():
    """Hold the machine-wide run lock, so runs from different checkouts
    (parent and change) never overlap; wait for it up to LOCK_WAIT_S."""
    s = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
    give_up = time.time() + LOCK_WAIT_S
    while True:
        try:
            s.bind(LOCK_NAME)
            return s
        except OSError as e:
            if e.errno != errno.EADDRINUSE or time.time() > give_up:
                s.close()
                raise SystemExit(f"could not take the run lock: {e}")
            time.sleep(0.5)


def source_stamp(root):
    """Digest of everything the build reads."""
    h = hashlib.sha256()
    for top in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]:
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(f[len(root):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env(bb):
    """Offline sbt, with its temp files, server socket and native-library
    scratch kept in the build dir."""
    tmp = os.path.join(bb, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, bb):
    """Compile the program and the harness; record classpath, JVM options
    and the gates' oracle SQL. Skipped while the sources are unchanged."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(bb, "build.stamp")
    info_file = os.path.join(bb, "runinfo.tsv")
    sql_file = os.path.join(bb, "oracle_sql.json")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(info_file) and os.path.exists(sql_file)):
        return load_runinfo(info_file), json.load(open(sql_file))
    log("building program and harness (sbt, offline)...")
    t0 = time.time()
    with open(os.path.join(bb, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dperfbench.runinfo={info_file}", "compile", "writeRunInfo"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(bb), stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        raise SystemExit(f"build failed, see {bb}/build.log")
    info = load_runinfo(info_file)
    java(info, "graftbench.DumpOracles", [sql_file], heap="1g", cwd=bb, timeout=120,
         log_path=os.path.join(bb, "dump.log"))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return info, json.load(open(sql_file))


def load_runinfo(path):
    cp, opts = None, []
    for line in open(path):
        k, _, v = line.rstrip("\n").partition("\t")
        if k == "classpath":
            cp = v
        elif k == "opt" and not v.startswith(("-Xmx", "-Xlog")):
            opts.append(v)
    return {"classpath": cp, "opts": opts}


def java(info, main, args, heap, cwd, timeout, log_path):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    cmd = (["java", f"-Xmx{heap}", "-Duser.timezone=UTC",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={cwd}/tmp"] + info["opts"] +
           ["-cp", info["classpath"], main] + list(args))
    os.makedirs(f"{cwd}/tmp", exist_ok=True)
    with open(log_path, "w") as out:
        r = subprocess.run(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=timeout)
    if r.returncode != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"{main} exited with {r.returncode}; log tail:\n{tail}")


def inputs(bb, sql, workload, seed):
    """Generated tables and oracle fingerprints for (seed, workload),
    cached by seed and input shape."""
    spec = WORKLOADS[workload]
    shape = [seed, spec["sf"], spec.get("docs"), spec.get("chains", 0)]
    key = hashlib.sha256(json.dumps([shape, open(gen.__file__).read()]).encode()).hexdigest()[:16]
    data = os.path.join(bb, "data", f"{workload}-s{seed}-{key}")
    meta_file = os.path.join(data, "meta.json")
    if os.path.exists(meta_file):
        meta = json.load(open(meta_file))
    else:
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.time()
        rows = gen.generate(data, seed, spec["sf"], docs=spec.get("docs"),
                            chains=spec.get("chains", 0))
        meta = {"rows": rows, "gen_s": time.time() - t0, "oracle": {}}
    fps = meta["oracle"]
    missing = [g for g in spec["gates"] if fps.get(g, {}).get("sql") != sql[g]]
    if missing:
        t0 = time.time()
        got = oracle.fingerprints(data, sql, missing, os.path.join(bb, "duckdb-tmp"))
        for g in missing:
            fps[g] = {"sql": sql[g], "fp": got[g]}
        meta["oracle_s"] = time.time() - t0
    with open(meta_file, "w") as fh:
        json.dump(meta, fh)
    return data, meta


def run_workload(root, bb, info, sql, workload, seed, seconds, trace, deadline):
    spec = WORKLOADS[workload]
    data, meta = inputs(bb, sql, workload, seed)
    run = os.path.join(bb, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    expect = os.path.join(run, "expect.tsv")
    with open(expect, "w") as fh:
        for g in spec["gates"]:
            fh.write(f"{g}\t{meta['oracle'][g]['fp']}\n")
    out = os.path.join(run, "result.json")
    os.makedirs(os.path.join(bb, "logs"), exist_ok=True)
    try:
        java(info, "graftbench.Main",
             ["--workload", workload, "--data", data, "--root", run, "--expect", expect,
              "--out", out, "--seconds", str(seconds), "--trace", str(trace),
              "--cores", str(cores())] +
             (["--spill-after", str(spec["spill_after"])] if "spill_after" in spec else []),
             heap=spec["heap"], cwd=run, timeout=max(10, deadline - time.time()),
             log_path=os.path.join(bb, "logs", f"{workload}.log"))
        result = json.load(open(out))
    finally:
        shutil.rmtree(run, ignore_errors=True)
    result["seed"], result["input_rows"] = seed, sum(meta["rows"][t] for t in spec["rows"])
    result["source_bytes"] = sum(os.path.getsize(os.path.join(data, f"{t}.parquet"))
                                 for t in spec["source"])
    result["gen_s"], result["oracle_s"] = meta["gen_s"], meta.get("oracle_s", 0.0)
    return result


def summarize(result, trace):
    """(attempted, failed, metrics, diagnostics) of one workload's run."""
    steps = [s for p in result["passes"] for s in p["steps"]]
    attempted, failed = len(steps), sum(1 for s in steps if not s["ok"])
    timed = [p for p in result["passes"] if p["kind"] == "timed"]
    plain = [p for p in timed if not p["traced"]] or timed
    walls = [p["wall_s"] for p in plain]
    diag = {"passes": len(walls), "failed_frac": failed / attempted,
            "pass_s_quartiles": quartiles(walls), "pass_s_tail": tail_percentile(walls),
            "setup_s": result["setup"]["setup_s"],
            "gen_s": result["gen_s"], "oracle_s": result["oracle_s"],
            "cold_step_s": result["passes"][0]["step_s"],
            "step_s": {k: median([p["step_s"][k] for p in plain]) for k in plain[0]["step_s"]},
            "pass_walls": [round(p["wall_s"], 4) for p in result["passes"]],
            "pass_cpu": [round(p["cpu_s"], 3) for p in result["passes"]],
            "pass_heap_mb": [round(p["heap_mb"], 2) for p in result["passes"]],
            "pass_gc_jit": [(p["gc_s"], p["jit_s"], p["codegen_n"]) for p in result["passes"]],
            "errors": sorted({f"{s['name']}: {s['error'] or 'output differs from oracle'}"
                              for s in steps if not s["ok"]})}
    if trace:
        m = layers.per_layer(result["workload"], result, result["source_bytes"])
        diag["spill_mb_per_pass"] = m.pop("_spill_per_pass")
        units = dict(layers.METRICS)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in m.items()}
    else:
        pass_s = median(walls)
        vals = {"pass_s": pass_s, "rows_per_s": result["input_rows"] / pass_s,
                "cpu_s": median([p["cpu_s"] for p in plain]),
                "setup_s": diag["setup_s"],
                "retained_heap_mb": max(p["heap_mb"] for p in result["passes"])}
        units = dict(END_TO_END)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in vals.items()}
    return attempted, failed, metrics, diag


def declared(root):
    """Metric names BENCHMARK.json declares; the final line reports exactly
    these (every metric is still printed on the `#` lines)."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    spec = json.load(open(path))
    return {k: {m["name"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def check_layout(root):
    need = ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt"]
    missing = [p for p in need if not os.path.exists(os.path.join(root, p))]
    if missing:
        raise SystemExit("not a graft checkout (missing " + ", ".join(missing) +
                         "); run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("sbt and java are required")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # On SIGTERM, unwind so subprocess.run kills and reaps the running JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    root = os.getcwd()
    check_layout(root)
    bb = os.path.join(root, ".bench_build")
    os.makedirs(bb, exist_ok=True)
    with run_lock():
        info, sql = build(root, bb)
        listed = declared(root)
        names = list(WORKLOADS) if a.workload == "all" else [a.workload]
        total_a, total_f, all_metrics = 0, 0, {}
        for w in names:
            deadline = time.time() + RUN_LIMIT_S if a.workload == "all" else start + RUN_LIMIT_S
            result = run_workload(root, bb, info, sql, w, a.seed, a.seconds, a.trace, deadline)
            att, fail, metrics, diag = summarize(result, a.trace)
            save(bb, w, a, result, metrics, diag)
            report(w, a, metrics, diag)
            if listed:
                metrics = {k: v for k, v in metrics.items()
                           if k in listed["per_layer" if a.trace else "end_to_end"]}
            total_a, total_f = total_a + att, total_f + fail
            if a.workload == "all":
                metrics = {f"{w}.{k}": v for k, v in metrics.items()}
            all_metrics.update(metrics)
    print(json.dumps({"correct": total_f == 0, "attempted": total_a, "failed": total_f,
                      "metrics": all_metrics}))


def save(bb, workload, a, result, metrics, diag):
    d = os.path.join(bb, "results")
    os.makedirs(d, exist_ok=True)
    name = f"{workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(d, name), "w") as fh:
        json.dump({"workload": workload, "seed": a.seed, "trace": a.trace,
                   "seconds": a.seconds, "metrics": metrics, "diag": diag}, fh)


def report(workload, a, metrics, diag):
    """Human-readable lines; never `{"metric":`-prefixed."""
    q1, q2, q3 = diag["pass_s_quartiles"]
    tail = diag["pass_s_tail"]
    print(f"# {workload} seed={a.seed} trace={a.trace} passes={diag['passes']} "
          f"pass_s q1/med/q3={q1:.4f}/{q2:.4f}/{q3:.4f} "
          f"tail={'p%g=%.4f' % tail if tail else 'n/a (under 10 samples beyond p75)'} "
          f"failed_frac={diag['failed_frac']:.4f} (ratio) "
          f"setup_s={diag['setup_s']:.3f} "
          f"gen_s={diag['gen_s']:.2f} oracle_s={diag['oracle_s']:.2f}")
    for k, v in metrics.items():
        print(f"#   {k} = {v['value']:.6g} {v['unit']}")
    for e in diag["errors"]:
        print(f"#   FAILED {e}")


if __name__ == "__main__":
    main()
