"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads: pipeline_commit and
query_sweep (see perfbench/NOTES.md). The launcher

1. prepares the seeded inputs in their own process, once per seed and
   source version (perfbench/prepare.py; cached under .perfbench/);
2. starts one fresh measurement process (perfbench/measure.py) with
   program-changing environment overrides removed, and samples the
   memory of that process and everything it starts (driver, JVM,
   Python workers) from /proc during its measured operations;
3. prints a table of the metrics with units and sample counts, then,
   as the last line, one JSON object with ``correct``, ``attempted``,
   ``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
   per-layer metrics with ``--trace 1``).

It exits non-zero without a result line if the program is missing,
a step fails, or the run would exceed its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

DEADLINE_S = 170.0  # the whole run, preparation included


def session_pids(sid: int) -> list:
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # field 6 of stat: session id
            pids.append(int(p))
    return pids


def resident_mb(pids) -> float:
    """Proportional resident set size (Pss) summed over ``pids``: pages
    the forked Python workers share with their daemon count once, not
    once per worker."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024.0


class MemorySampler(threading.Thread):
    """Memory of one process session, sampled every 0.1 s while the
    measurement window's flag file exists."""

    def __init__(self, sid: int, flag: str):
        super().__init__(daemon=True)
        self.sid, self.flag = sid, flag
        self.samples = []
        self.stop = threading.Event()

    def run(self):
        while not self.stop.wait(0.1):
            if os.path.exists(self.flag):
                self.samples.append(resident_mb(session_pids(self.sid)))

    def p90(self) -> float:
        if len(self.samples) < 2:
            return self.samples[0] if self.samples else 0.0
        return statistics.quantiles(self.samples, n=10)[-1]


def child_env() -> dict:
    env = {k: v for k, v in os.environ.items() if k not in common.STRIPPED_ENV}
    tmp = os.path.join(common.WORK, "tmp")
    env.update(
        PYTHONPATH=common.ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # build_session's master and shuffle partitions follow this; set
        # it to the cores this process may use
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(common.WORK, "spark-local"),
        TMPDIR=tmp,
    )
    return env


def reap(sid: int) -> None:
    """Stop whatever the child left behind and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not session_pids(sid):
            return
        try:
            os.killpg(sid, sig)
        except OSError:
            pass
        for _ in range(50):
            if not session_pids(sid):
                return
            time.sleep(0.1)


def run_child(cmd, log_path, deadline, window_flag=""):
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            cmd, cwd=common.ROOT, env=child_env(), stdout=log, stderr=log,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
    sampler = MemorySampler(proc.pid, window_flag) if window_flag else None
    if sampler:
        sampler.start()
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if sampler:
            sampler.stop.set()
            sampler.join()
        reap(proc.pid)
        if proc.poll() is None:
            proc.wait()
    return code, sampler


def die(msg: str, log_path: str = "") -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    if log_path and os.path.exists(log_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
    sys.exit(1)


def table(rows) -> None:
    w = max(len(r[0]) for r in rows)
    for name, value, unit, n in rows:
        print(f"  {name:<{w}}  {value:>14.6g} {unit:<6} n={n}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=common.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    needed = ("cleaning_web_corpus_spark", "__spark_entry__.py", "tools", "tests/reference_twin.py")
    missing = [p for p in needed if not os.path.exists(os.path.join(common.ROOT, p))]
    if missing:
        die(f"program sources missing from {common.ROOT}: {', '.join(missing)}")
    for d in ("logs", "tmp", "spark-local", "inputs", "results"):
        os.makedirs(os.path.join(common.WORK, d), exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-{uuid.uuid4().hex[:8]}"
    log = os.path.join(common.WORK, "logs", f"{tag}.log")

    indir = common.input_dir(a.workload, a.seed)
    if not os.path.isdir(indir):
        code, _ = run_child(
            [sys.executable, os.path.join(common.HERE, "prepare.py"),
             "--workload", a.workload, "--seed", str(a.seed), "--out", indir],
            log, deadline,
        )
        if code != 0 or not os.path.isdir(indir):
            die(f"input preparation failed (exit {code})", log)

    result = os.path.join(common.WORK, "results", f"{tag}.json")
    code, sampler = run_child(
        [sys.executable, os.path.join(common.HERE, "measure.py"),
         "--workload", a.workload, "--input", indir, "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--result", result],
        log, deadline, window_flag=result + ".window",
    )
    if os.path.exists(result + ".window"):
        os.remove(result + ".window")
    if code != 0 or not os.path.exists(result):
        die(f"measurement failed (exit {code})", log)
    with open(result) as f:
        r = json.load(f)
    os.remove(result)

    if a.trace:
        values = {name: r["layer"].get(name, 0.0) for name, _ in common.PER_LAYER}
        units = dict(common.PER_LAYER)
    else:
        values = dict(r["e2e"])
        values["mem_p90_mb"] = sampler.p90()
        r["samples"]["mem_p90_mb"] = len(sampler.samples)
        r["notes"]["mem_peak_mb"] = max(sampler.samples, default=0.0)
        units = dict(common.END_TO_END)
    bad = [k for k, v in values.items() if not isinstance(v, (int, float)) or v != v]
    if bad or (not a.trace and any(values.get(k, 0) <= 0 for k in units)):
        die(f"metrics missing or not measured: {bad or sorted(units)}", log)

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}")
    names = [k for k, _ in (common.PER_LAYER if a.trace else common.END_TO_END)]
    idle = [k for k in names if a.trace and k not in r["layer"]]
    table([(k, values[k], units[k], r["samples"].get(k, 1)) for k in names if k not in idle])
    if idle:
        print(f"  ({len(idle)} per-layer metrics not exercised by this workload report 0)")
    rate = r["failed"] / r["attempted"] if r["attempted"] else 1.0
    print(f"  error_rate = {r['failed']}/{r['attempted']} = {rate:.4g}")
    spans = r["notes"].pop("span_self_s", {})
    for k, v in sorted(r["notes"].items()):
        print(f"  {k} = {v}")
    if spans:
        print("  span self times (s):")
        for k, v in sorted(spans.items(), key=lambda kv: -kv[1]):
            print(f"    {k:<48} {v:10.4f}")
    for e in r["errors"]:
        print(f"  error: {e}")
    if r["spans"]:
        print(f"  spans: {os.path.relpath(r['spans'], common.ROOT)}")
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in values},
    }))


if __name__ == "__main__":
    main()
