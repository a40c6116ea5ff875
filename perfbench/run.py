#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload record_ingest --seed 1 --seconds 16 --trace 0

Builds the program from source on first use (perfbench/build.py), starts
one harness JVM with fixed flags, checks the outputs, and prints as its
last stdout line one JSON object with the keys correct, attempted, failed
and metrics. `--trace 0` prints the end-to-end metrics, `--trace 1` the
per-layer metrics. See perfbench/README.md for the definitions.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# live_ephys runs by hand only: BENCHMARK.json leaves it out because its
# latency swings 3-10x with the host's CPU steal (see README.md)
WORKLOADS = ("live_ephys", "record_ingest", "query_mix")

# name -> unit. End-to-end metrics exist on every workload; README.md says
# what each one means on each workload.
E2E = {
    "setup_s": "s",
    "rss_peak_mb": "MB",
    "wait_ms": "ms",
}

# Per-layer metrics, printed by traced runs. A layer a workload does not
# exercise reads 0 there (see EXERCISED).
PER_LAYER = {
    "failed_frac": "ratio",
    "ingest.persist_lag_p50_ms": "ms",
    "ingest.persist_lag_p99_ms": "ms",
    "ingest.finalize_s": "s",
    "query.index_s": "s",
    "query.scan_s": "s",
    "core.write_call_us.p50": "us",
    "core.write_call_us.p99": "us",
    "core.write_busy_frac": "ratio",
    "core.zfp_bytes_ratio": "ratio",
    "gen.late_ms.p99": "ms",
    "ingest.sweep_ms.p50": "ms",
    "ingest.sweep_ms.max": "ms",
    "ingest.jobs_per_sweep": "ratio",
    "ingest.parts_per_sweep": "ratio",
    "ingest.backlog_rows_max": "count",
    "ingest.compact_s": "s",
    "http.fetch_ms": "ms",
    "http.mb_s": "MB/s",
    "ingest.store_mb_max": "MB",
    "ingest.out_bytes_per_user_byte": "ratio",
    "connector.scan_tasks": "count",
    "connector.input_rows": "count",
    "query.r01_stream_write_read_s": "s",
    "query.r07_stream_microbatch_s": "s",
    "query.r08_stream_segmented_s": "s",
    "query.s25_ivfpq_index_delete_s": "s",
    "ops.index.jobs": "count",
    "ops.scan.jobs": "count",
    "ops.index.driver_gap_s": "s",
    "ops.index.job_busy_s": "s",
    "ops.tasks": "count",
    "ops.shuffle_mb": "MB",
    "pins.checkpoint_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.scratch_leak_mb": "MB",
    "host.sleep1_p95_ms.pre": "ms",
    "host.sleep1_p95_ms.post": "ms",
    "host.park50us_p95_ms.pre": "ms",
    "host.park50us_p95_ms.post": "ms",
    "self.core_s": "s",
    "self.http_s": "s",
    "self.query_s": "s",
    "self.spark_s": "s",
    "trace.overhead.setup_s": "s",
    "trace.overhead.rss_peak_mb": "MB",
    "trace.overhead.wait_ms": "ms",
}

# Per-layer metrics each workload measures itself; every workload also
# measures COMMON. Only the other names may read 0 on it: a missing or NaN
# value among these means the measurement broke, and the run fails.
COMMON = {"failed_frac", "jvm.gc_s", "jvm.scratch_leak_mb",
          "host.sleep1_p95_ms.pre", "host.sleep1_p95_ms.post",
          "host.park50us_p95_ms.pre", "host.park50us_p95_ms.post",
          "trace.overhead.setup_s", "trace.overhead.rss_peak_mb",
          "trace.overhead.wait_ms"}
EXERCISED = {
    "live_ephys": {"core.write_call_us.p50", "core.write_call_us.p99",
                   "core.write_busy_frac", "gen.late_ms.p99", "self.core_s"},
    "record_ingest": {
        "ingest.persist_lag_p50_ms", "ingest.persist_lag_p99_ms",
        "ingest.finalize_s", "core.write_call_us.p50",
        "core.write_call_us.p99", "core.write_busy_frac",
        "core.zfp_bytes_ratio", "gen.late_ms.p99", "ingest.sweep_ms.p50",
        "ingest.sweep_ms.max", "ingest.jobs_per_sweep",
        "ingest.parts_per_sweep", "ingest.backlog_rows_max",
        "ingest.compact_s", "http.fetch_ms", "http.mb_s",
        "ingest.store_mb_max", "ingest.out_bytes_per_user_byte",
        "connector.scan_tasks", "connector.input_rows", "self.core_s",
        "self.http_s", "self.spark_s"},
    "query_mix": {
        "query.index_s", "query.scan_s", "connector.scan_tasks",
        "connector.input_rows", "query.r01_stream_write_read_s",
        "query.r07_stream_microbatch_s", "query.r08_stream_segmented_s",
        "query.s25_ivfpq_index_delete_s", "ops.index.jobs", "ops.scan.jobs",
        "ops.index.driver_gap_s", "ops.index.job_busy_s", "ops.tasks",
        "ops.shuffle_mb", "pins.checkpoint_mb", "self.query_s",
        "self.spark_s"},
}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

RUN_LIMIT_S = 170  # a run must end within 180 s once built
SHM = "/dev/shm"


def mem_gib():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    return 8


def jvm_flags(workload, run_dir):
    """Fixed heap and GC flags sized to the host. The live workload gets a
    small pre-touched heap so page faults and GC stay out of its tail; the
    Spark workloads get a quarter of RAM (2..8 GiB), never sbt's 48g, no
    pre-touch and a fixed young generation, so G1 reuses the same young
    regions and peak RSS follows what the program keeps in the old one."""
    if workload == "live_ephys":
        heap = ["-Xms1g", "-Xmx1g", "-Xmn512m", "-XX:+AlwaysPreTouch"]
    else:
        g = max(2, min(8, mem_gib() // 4))
        heap = [f"-Xms{g}g", f"-Xmx{g}g", f"-Xmn{g * 1024 // 3}m"]
    opens = [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return heap + opens + [
        "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]


def du(path):
    total = 0
    if os.path.isfile(path) or os.path.islink(path):
        return os.lstat(path).st_size
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def shm_entries():
    """Names the program may leave in tmpfs: top-level /dev/shm entries and
    the streaming checkpoint root, which ignores GRAFT_SCRATCH_DIR."""
    out = set()
    if os.path.isdir(SHM):
        out |= {os.path.join(SHM, n) for n in os.listdir(SHM)}
        cp = os.path.join(SHM, "graft-cp")
        if os.path.isdir(cp):
            out |= {os.path.join(cp, n) for n in os.listdir(cp)}
    return out


def remove(path):
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.remove(path)
        except OSError:
            pass


def run_jvm(root, classes, a, run_dir, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    jar_dir, _ = build.spark_jars(root)
    cp = ":".join([classes, os.path.join(root, "src/main/resources"),
                   os.path.join(jar_dir, "*")])
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + jvm_flags(a.workload, run_dir) +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", "1" if a.trace else "0", "--run-dir", run_dir,
            "--sf", a.sf, "--cpus", str(cpus)])
    env = dict(os.environ)
    env["GRAFT_SCRATCH_DIR"] = os.path.join(run_dir, "scratch", "graft")
    os.makedirs(env["GRAFT_SCRATCH_DIR"], exist_ok=True)
    before = shm_entries()
    t_launch = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    created = sorted(shm_entries() - before)
    leak = (du(env["GRAFT_SCRATCH_DIR"]) + du(os.path.join(run_dir, "tmp")) +
            sum(du(c) for c in created))
    for c in created:
        remove(c)
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(tail + "\n")
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")
    with open(res_path) as fh:
        res = json.load(fh)
    res["metrics"]["setup_s"] = res["first_op_epoch_ms"] / 1e3 - t_launch
    res["metrics"]["jvm.scratch_leak_mb"] = leak / 1e6
    return res


def check_queries(root, res, run_dir, sf):
    """query_mix: compare each query's output with its DuckDB oracle under
    tools/check.py's rules; a wrong query fails all its timed runs."""
    p = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check.py"), sf,
         os.path.join(run_dir, "verify")],
        capture_output=True, text=True, timeout=120)
    execs = json.loads(res["extra"].get("execs", "{}"))
    seen = set()
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
        if not m:
            continue
        seen.add(m.group(2))
        if m.group(1) == "FAIL":
            res["failed"] += execs.get(m.group(2), 1)
            res["problems"].append("oracle: " + line)
    for q in execs:
        if q not in seen:
            res["failed"] += execs[q]
            res["problems"].append(f"oracle: {q} not checked")


def default_sf(root):
    """query_mix's tables: SPARK_GRAFT_SF_DIR as for graft.Bench, else the
    scale-factor 0.1 directory TESTDATA.md lists."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    try:
        with open(os.path.join(root, "TESTDATA.md")) as fh:
            m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", fh.read())
    except OSError:
        return ""
    return m.group(1).rstrip("/") if m else ""


def one_run(root, a, deadline):
    t = time.time()
    classes = build.ensure_built(root)
    deadline += time.time() - t  # a first run may build for minutes
    run_dir = os.path.join(root, build.BUILD_DIR, "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(root, classes, a, run_dir, deadline)
        with open(os.path.join(classes, ".source-key")) as fh:
            res["source_key"] = fh.read()
        if a.workload == "query_mix":
            check_queries(root, res, run_dir, a.sf)
        keep = os.path.join(root, build.BUILD_DIR, "results")
        os.makedirs(keep, exist_ok=True)
        tag = "traced" if a.trace else "untraced"
        with open(os.path.join(keep, f"{a.workload}.{tag}.json"), "w") as fh:
            json.dump(res, fh)
        if a.trace and os.path.exists(os.path.join(run_dir, "spans.jsonl")):
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(keep, f"{a.workload}.spans.jsonl"))
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def printed_metrics(workload, trace, metrics):
    """name -> {value, unit} of the metrics a run prints: the end-to-end
    ones untraced, the per-layer ones traced. A per-layer metric of a layer
    the workload does not exercise reads 0; any other metric that is
    missing or NaN fails the run."""
    names = PER_LAYER if trace else E2E
    own = (COMMON | EXERCISED[workload]) if trace else set(E2E)
    out = {}
    for name, unit in names.items():
        v = metrics.get(name)
        if v is None or v != v:
            if name in own:
                raise SystemExit(f"perfbench: {name} was not measured "
                                 f"on {workload}")
            v = 0.0
        out[name] = {"value": float(v), "unit": unit}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", help="scale-factor directory query_mix reads "
                    "(read-only; default: see default_sf)")
    a = ap.parse_args()
    root = os.getcwd()
    t0 = time.time()
    a.sf = a.sf or default_sf(root)
    if a.workload == "query_mix" and not os.path.isdir(a.sf):
        raise SystemExit(f"perfbench: no test data at '{a.sf}'")

    res = one_run(root, a, t0 + RUN_LIMIT_S)
    metrics = dict(res["metrics"])
    if a.trace:
        # overhead = this traced run minus the latest untraced run of the
        # same workload and build in this checkout (made now if none)
        base_path = os.path.join(root, build.BUILD_DIR, "results",
                                 f"{a.workload}.untraced.json")
        base = None
        if os.path.exists(base_path):
            with open(base_path) as fh:
                base = json.load(fh)
        if base is None or base.get("source_key") != res["source_key"]:
            base = one_run(root, argparse.Namespace(**{**vars(a), "trace": 0}),
                           t0 + RUN_LIMIT_S)
        base = base["metrics"]
        for m in E2E:
            metrics[f"trace.overhead.{m}"] = metrics[m] - base[m]
    attempted = max(1, int(res["attempted"]))
    failed = int(res["failed"])
    metrics["failed_frac"] = failed / attempted

    out = printed_metrics(a.workload, a.trace, metrics)
    print(json.dumps({"detail": {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "problems": res["problems"],
        "extra": res["extra"], "raw": metrics}}))
    for p in res["problems"]:
        print(f"[perfbench] check failed: {p}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and not res["problems"],
                      "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
