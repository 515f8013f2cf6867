#!/usr/bin/env python3
"""Whole-job benchmark of record for spark-schema-guard.

    python3 perfbench/run.py --workload validate_job --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Per run: generate the workload's inputs
from the seed (cached per workload, seed and size, outside all timing),
compute the oracle's expectations, probe the host, start a fresh worker
process (perfbench/worker.py) with a fresh compile-cache directory, probe
the host again, and print one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (docs_per_s,
core_s_per_mdoc, peak_rss_mb, setup_s); with ``--trace 1`` the per-layer
ones. A full record of every run (host probes, input checksums, every
pass) is written under .perfbench/records/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

CURATION_PARAMS = {
    "min_tokens": 15,
    "max_tokens": 200,
    "near_dup_threshold": 0.7,
    "vocab_size": 1000,
    "max_perplexity": 250.0,
}

# n_docs: input size; warmup_passes: untimed passes after setup (the
# validation job's setup run is a warm-up pass of its own); timed_passes:
# fixed, so runs compare like for like. One timed pass per run: a run is
# session start + setup + warm-up + timed pass, and a full comparison
# (4 + 22 x workloads runs) must fit in 3,420 s, which leaves no room for a
# second one.
WORKLOADS = {
    "validate_job": {"n_docs": 100_000, "warmup_passes": 0, "timed_passes": 1},
    "curate_lowdup": {"n_docs": 6_000, "warmup_passes": 1, "timed_passes": 1},
    "curate_dup": {"n_docs": 32_000, "warmup_passes": 2, "timed_passes": 1},
}

WORKER_TIMEOUT_S = 165
HEAP = "2g"
WORK_ROOT = ".perfbench"


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _e2e(result: dict, n_docs: int) -> dict:
    timed = [p for p in result["passes"] if p["kind"] == "timed" and p["ok"]]
    if not timed or "setup_s" not in result:
        return {}
    return {
        "docs_per_s": (statistics.median(n_docs / p["wall_s"] for p in timed), "docs/s"),
        "core_s_per_mdoc": (sum(p["cpu_s"] for p in timed) / (len(timed) * n_docs) * 1e6, "core-s/Mdoc"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
        "setup_s": (result["setup_s"], "s"),
    }


def _per_layer(result: dict, n_docs: int, cores: int, workload: str) -> dict:
    from layertrace import COMMON

    tr = result.get("trace")
    timed = [p for p in result["passes"] if p["kind"] == "timed" and p["ok"]]
    if not tr or not timed:
        return {}
    units = {"wall_s": "s", "exec_cpu_s": "s", "exec_run_s": "s", "busy_share": "ratio",
             "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "input_rows": "count"}
    m: dict = {}
    for layer in LAYERS:
        vals = tr["layers"].get(layer, {})
        for k in COMMON:
            m[f"{layer}.{k}"] = (vals.get(k, 0.0), units[k])
    facts = tr.get("facts", {})
    for name, unit in FACTS:
        m[name] = (facts.get(name, 0), unit)
    drv = tr["driver"]
    m["session.start_s"] = (result["session_start_s"], "s")
    m["schema.compile_s"] = (sum(drv.get("schema.compile", [])), "s")
    m["schema.compile_calls"] = (len(drv.get("schema.compile", [])), "count")
    m["lm.train_s"] = (sum(drv.get("lm.train", [])), "s")
    probes = tr["pass_probes"]
    sizes = [p for p in probes if "n" in p]
    modes = [p["mode"] for p in probes if "mode" in p]
    m["collapse.probe_s"] = (sum(tr["pass_driver"].get("collapse.probe", [])), "s")
    m["collapse.mode"] = ({"off": 0, "shuffle": 1, "broadcast": 2}.get(modes[-1], 0) if modes else 0, "code")
    m["collapse.distinct_ratio"] = (sizes[-1]["d"] / sizes[-1]["n"] if sizes and sizes[-1]["n"] else 0.0, "ratio")
    passes = tr["totals"]["input_rows"] / n_docs if workload == "validate_job" else 0.0
    m["validate_job.table_passes"] = (passes, "passes")
    parts = sum(tr["layers"].get(k, {}).get("wall_s", 0.0)
                for k in ("text.quality", "lm.score", "dedup.exact", "dedup.lsh"))
    curation = workload != "validate_job"
    m["curation.parts_sum_s"] = (parts + m["collapse.probe_s"][0] if curation else 0.0, "s")
    m["curation.attach.residual_s"] = (tr["pass_wall_s"] - m["curation.parts_sum_s"][0] if curation else 0.0, "s")
    # against the adjacent untraced pass, the closest in JIT warm-up
    untraced = n_docs / timed[-1]["wall_s"]
    traced = n_docs / tr["pass_wall_s"]
    traced_layers = tr.get("pass_layers", tr["layers"])
    m["trace.unattributed_s"] = (
        tr["pass_wall_s"] - sum(v["wall_s"] for v in traced_layers.values()), "s")
    m["trace.untraced_docs_per_s"] = (untraced, "docs/s")
    m["trace.traced_docs_per_s"] = (traced, "docs/s")
    m["trace.overhead_share"] = (untraced / traced - 1.0, "ratio")
    return m


# layers with the common metric set, and the single-valued facts
LAYERS = ("validation", "checkpoint", "crossrow", "drift", "streaming.drift_arm",
          "curation.pass", "text.quality", "lm.score", "dedup.exact", "dedup.lsh")
FACTS = (("validation.rules.violations", "count"), ("crossrow.violations", "count"),
         ("drift.violations", "count"), ("checkpoint.lineage.rows", "count"),
         ("text.quality.drops", "count"), ("lm.score.drops", "count"),
         ("dedup.exact.drops", "count"), ("dedup.lsh.candidates", "count"),
         ("dedup.lsh.verified", "count"), ("dedup.lsh.verify_yield", "ratio"),
         ("curation.attach.rows", "count"))


def _group_alive(pgid: int) -> bool:
    """Any non-zombie process left in process group ``pgid``?"""
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            fields = st[st.rfind(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the worker is its
    leader; the JVM is in it) and wait until all of it has ended."""
    deadline = time.time() + 30
    while True:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if proc.poll() is not None and not _group_alive(proc.pid):
            return
        if time.time() > deadline:
            raise RuntimeError(f"process group {proc.pid} did not end")
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15,
                    help="nominal measuring time; the fixed timed pass is sized to it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--n-docs", type=int, help="override the workload's input size")
    ap.add_argument("--keep-outputs", action="store_true", help="keep pass outputs (self-test)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("json_schema_py_spark/__init__.py", "scripts/run_validation_job.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the root of a checkout",
                  file=sys.stderr)
            return 2

    import gen
    import hostprobe
    import oracle

    wl = dict(WORKLOADS[args.workload])
    if args.n_docs:
        wl["n_docs"] = args.n_docs
    n = wl["n_docs"]
    base = os.path.join(root, WORK_ROOT)
    key = f"{args.workload}-s{args.seed}-n{n}-g{gen.GEN_VERSION}"
    in_dir = os.path.join(base, "inputs", key)
    os.makedirs(os.path.dirname(in_dir), exist_ok=True)
    meta = gen.generate(args.workload, args.seed, n, in_dir)
    expect_path = None
    if args.workload != "validate_job":
        expect_path = in_dir + ".expect.parquet"
        if not os.path.exists(expect_path + ".pairs.parquet"):
            oracle.curation_expectations(in_dir, CURATION_PARAMS, expect_path)

    work = os.path.join(base, "work", f"{key}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    cache = os.path.join(work, "compile-cache")
    os.makedirs(cache, mode=0o700)
    os.chmod(cache, 0o700)
    cores = _cores()
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_SCHEMA_COMPILE_CACHE=cache,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        SPARK_DRIVER_MEMORY=HEAP,
        TMPDIR=os.path.join(work, "tmp"),
        # initial heap = max heap: the resident set then does not depend on
        # when G1 decides to grow the heap
        PYSPARK_SUBMIT_ARGS=(f"--driver-java-options '-Xms{HEAP} "
                             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}' pyspark-shell"),
        PYTHONDONTWRITEBYTECODE="1",
    )
    cfg = {
        "workload": args.workload, "root": root, "work_dir": work, "input_dir": in_dir,
        "expect_path": expect_path, "n_docs": n, "trace": args.trace,
        "warmup_passes": wl["warmup_passes"], "timed_passes": wl["timed_passes"],
        "params": CURATION_PARAMS, "keep_outputs": args.keep_outputs,
        "result": os.path.join(work, "result.json"),
    }
    host_before = hostprobe.host_record()
    log_path = os.path.join(work, "worker.log")
    cfg["t_launch"] = time.time()
    with open(os.path.join(work, "config.json"), "w") as f:
        json.dump(cfg, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), os.path.join(work, "config.json")],
            env=env, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc)
    host_after = hostprobe.host_record()

    if rc != 0 or not os.path.exists(cfg["result"]):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(f"perfbench: worker {'timed out' if rc is None else f'exited {rc}'}\n{tail}",
              file=sys.stderr)
        return 1
    with open(cfg["result"]) as f:
        result = json.load(f)

    metrics = _per_layer(result, n, cores, args.workload) if args.trace else _e2e(result, n)
    for p in result["passes"]:
        if not p["ok"]:
            print(f"perfbench: {p['kind']} pass failed: {p['failures']}", file=sys.stderr)
    if not metrics:
        print("perfbench: no timed pass completed", file=sys.stderr)
        return 1
    attempted = len(result["passes"])
    failed = sum(not p["ok"] for p in result["passes"])
    correct = failed == 0
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "config": wl, "inputs": meta,
        "host_before": host_before, "host_after": host_after,
        "result": result, "metrics": {k: v[0] for k, v in metrics.items()},
    }
    rec_dir = os.path.join(base, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{key}-t{args.trace}-{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if not args.keep_outputs:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {args.workload} seed={args.seed} n_docs={n} cores={cores} "
          f"passes={[round(p['wall_s'], 2) for p in result['passes']]} "
          f"host md5/s {host_before['md5_per_s']}->{host_after['md5_per_s']} "
          f"copy GB/s {host_before['copy_gb_per_s']}->{host_after['copy_gb_per_s']}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
