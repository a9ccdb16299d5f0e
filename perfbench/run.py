#!/usr/bin/env python3
"""Repository benchmark: the batch ETL pass, the streaming ingest batch and
API serving, end to end and (traced) layer by layer.

One run:
    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

builds the benchmark from source on first use (sbt, offline), starts one
JVM with Spark local[<cores>], runs the workload there and prints its
result object as the last stdout line. Workloads, metrics and the default
--seconds (run_seconds) are declared in BENCHMARK.json at the root of the
checkout; README.md beside this file explains them.

Other modes:
    --steadiness N   run every workload N times, seeds 1..N, and print
                     per-metric medians, quartiles and spread against the
                     bounds in BENCHMARK.json
    --pin            recompute pinned.json: the digest of the u1 oracle
                     (DuckDB) over the generated ETL inputs

Every run works in a fresh directory under .perfbench_tmp/ in the checkout
and deletes it when it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
TMP = os.path.join(ROOT, ".perfbench_tmp")
PINNED = os.path.join(HERE, "pinned.json")
DECLARED = os.path.join(ROOT, "BENCHMARK.json")
# The heap starts at 1 GB rather than the JVM's default of 1/64 of RAM:
# growing from a small heap while the run measures makes each pass's
# garbage collection, and so its time, depend on how far the growth has
# got (ETL passes ran ~20% slower and spread more). Not more than 1 GB:
# a larger start raises retained_heap_mb and its spread (api_serve: 85 MB
# at 1 GB, 96 MB at 2 GB, 104-124 MB at 3 GB).
HEAP = ["-Xms1g", "-Xmx3g"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Which end-to-end metric each layer metric should move, and on which
# workload (the prediction a change that claims a gain is held to).
SHOULD_MOVE = [
    ("operators.match*, plans kernel CPU in the match, pipeline.clean_s, pipeline.unify_s",
     "latency_p50_ms (etl_pass_s) on etl_batch; no change on api_serve or streaming.batch_s"),
    ("model.load_s, sources.sink_s",
     "latency_p50_ms (etl_pass_s) on etl_batch, each by a small share"),
    ("streaming.overhead_s, streaming.jobs_per_batch, streaming.*_write_s",
     "streaming.batch_s (traced etl_batch runs); latency_p50_ms (ingest_batch_s_p50) and "
     "throughput_per_s (ingest_docs_per_s) of the undeclared ingest_stream workload; "
     "not etl_pass_s"),
    ("streaming.store_bytes",
     "how fast ingest batch latency grows across batches"),
    ("api.jobs_per_request, api.http_overhead_ms",
     "latency_p50_ms (serve_p50_ms) and throughput_per_s (serve_rps) on api_serve"),
    ("any span's gc_ms, unreleased storage",
     "latency_tail_ms (serve_tail_ms) and retained_heap_mb"),
    ("per-job planning and launch cost (every *.jobs)",
     "dominant on api_serve and in streaming.batch_s, negligible in etl_pass_s: a gain "
     "must show on the first two and leave etl_pass_s flat"),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def require_sources():
    """The benchmark builds the repository it sits in; without it, fail fast."""
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft"),
              DECLARED, PINNED]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log("not a checkout of the repository, missing: " + ", ".join(missing))
        sys.exit(2)


def sources_digest():
    """Content hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def launch_spec():
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def declared():
    with open(DECLARED) as f:
        return json.load(f)


def java_cmd(main_args):
    cp, opts = launch_spec()
    return (["java"] + HEAP + opts + ["-Xlog:disable", "-Xlog:all=warning:stderr",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main"] + main_args)


def run_child(cmd, work, timeout):
    """Run a JVM with its temp files under `work`; kill it on timeout or
    when this script is stopped. It stays in this process group, and it
    exits by itself when this script dies. Returns (returncode, stdout)."""
    cmd = cmd[:1] + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + cmd[1:]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        p.kill()
        p.wait()
        raise


def fresh_work():
    os.makedirs(TMP, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=TMP)


def remove_work(work):
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(TMP)
    except OSError:
        pass


def ensure_built():
    """Compile (sbt, offline) when the sources changed."""
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.exists(LAUNCH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log("building (sbt writeLaunch)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    if os.path.exists(STAMP):
        os.remove(STAMP)
    # sbt runs a launcher script and a JVM: its own process group, killed whole
    b = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"], cwd=HERE,
                         env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        b.wait(timeout=BUILD_TIMEOUT_S)
    except BaseException:
        os.killpg(b.pid, signal.SIGKILL)
        b.wait()
        raise
    if b.returncode != 0:
        log("build failed")
        sys.exit(3)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def one_run(args):
    require_sources()
    ensure_built()
    seconds = args.seconds if args.seconds is not None else declared()["run_seconds"]
    work = fresh_work()
    try:
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(seconds), "--trace", str(args.trace),
                     "--cores", str(cores()), "--work", work,
                     "--pinned", PINNED, "--benchmark", DECLARED]
        code, out = run_child(java_cmd(main_args), work, RUN_TIMEOUT_S)
    finally:
        remove_work(work)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        log(f"the run printed no result (exit code {code})")
        sys.exit(code or 4)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.stdout.flush()
    return code


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def steadiness(args):
    """Repeat every workload with seeds 1..N and report each end-to-end
    metric's median, quartiles and spread (IQR / median) against its bound."""
    require_sources()
    ensure_built()
    bench = declared()
    print("Which end-to-end metric each layer metric should move:")
    for layer, moves in SHOULD_MOVE:
        print(f"  {layer}\n      -> {moves}")
    for w in bench["workloads"]:
        print(f"\n{w['name']}: {w['why']}")
        values = {}
        for seed in range(1, args.steadiness + 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                               stdin=subprocess.DEVNULL)
            lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
            res = lines[-1] if lines else {}
            units = next((l["detail"]["unit_ms"] for l in lines if "detail" in l), [])
            m = res.get("metrics", {})
            log(f"{w['name']} seed {seed}: exit {p.returncode} correct {res.get('correct')} "
                + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items())
                + f" units={len(units)}" + (f" {[round(u) for u in units]}" if len(units) < 10 else ""))
            for k, v in m.items():
                values.setdefault(k, []).append(v["value"])
        print(f"  {'metric':<20} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
        for metric in bench["end_to_end"]:
            vs = values.get(metric["name"], [])
            if not vs:
                print(f"  {metric['name']:<20} no values")
                continue
            q1, med, q3 = quartiles(vs)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread < metric["bound"] / 3 else "  (above a third of the bound)"
            print(f"  {metric['name']:<20} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} "
                  f"{spread:>7.3f} {metric['bound']:>6}{flag}")
        sys.stdout.flush()


def pin(args):
    """Recompute pinned.json from the u1/u2 DuckDB oracles over the
    generated ETL inputs."""
    import duckdb  # only this mode needs it
    require_sources()
    ensure_built()
    work = fresh_work()
    try:
        code, _ = run_child(java_cmd(["--emit-inputs", work]), work, RUN_TIMEOUT_S)
        if code != 0:
            sys.exit(code)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW customer AS SELECT * FROM '{work}/customer.parquet/*.parquet'")
        with open(os.path.join(work, "u1_unified_pipeline.sql")) as f:
            u1 = con.execute(f.read()).fetchall()
        with open(os.path.join(work, "u2_quality_report.sql")) as f:
            u2 = list(con.execute(f.read()).fetchone())
    finally:
        remove_work(work)

    def field(v):
        if v is None:
            return "\\N"
        if isinstance(v, str):
            return v.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    lines = sorted("\t".join(field(v) for v in row).encode() for row in u1)
    h = hashlib.sha256()
    for line in lines:
        h.update(line + b"\n")
    pinned = {"u1_rows": len(u1), "u1_sha256": h.hexdigest(), "u2": [int(x) for x in u2]}
    with open(PINNED, "w") as f:
        json.dump(pinned, f, indent=2)
        f.write("\n")
    print(json.dumps(pinned))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steadiness", type=int, default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    # a terminating signal unwinds through the finally blocks that stop
    # the JVM and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.pin:
        pin(args)
    elif args.steadiness:
        steadiness(args)
    elif args.workload:
        sys.exit(one_run(args))
    else:
        ap.error("give --workload, --steadiness or --pin")


if __name__ == "__main__":
    main()
