"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,serve} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Every argument and environment value is
validated before any work starts. The workload then runs in a fresh child
process (``workload.py``) with its own SparkSession and empty scratch,
checkpoint and landing directories under ``.perfbench_work/``, so no
module-level memo carries state from one run into the next.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` adds a second,
traced timed loop after the untraced one (see ``Bench.measure``), prints
the per-layer metrics with the tracing overhead, and writes the span record
to ``.perfbench_out/trace-<workload>-seed<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workload import E2E_METRICS, LAYER_METRICS, WORKLOADS  # noqa: E402

TIME_LIMIT_S = 170


def _bounded_int(lo: int, hi: int):
    def parse(text: str) -> int:
        if not re.fullmatch(r"[0-9]+", text) or not lo <= int(text) <= hi:
            raise argparse.ArgumentTypeError(f"expected an integer in [{lo}, {hi}], got {text!r}")
        return int(text)

    return parse


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=_bounded_int(0, 2**63 - 1))
    p.add_argument("--seconds", required=True, type=_bounded_int(1, 60))
    p.add_argument("--trace", required=True, type=_bounded_int(0, 1))
    return p.parse_args(argv)


def environment() -> dict[str, str]:
    """The child's environment; exits non-zero on a malformed value."""
    env = dict(os.environ)
    cpus = env.get("SPARK_GRAFT_CPUS")
    if cpus is None:
        cpus = str(len(os.sched_getaffinity(0)))
    elif not re.fullmatch(r"[1-9][0-9]{0,3}", cpus):
        sys.exit(f"run.py: SPARK_GRAFT_CPUS must be a positive integer, got {cpus!r}")
    mem = env.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is not None and not re.fullmatch(r"[1-9][0-9]*[kmgKMG]?", mem):
        sys.exit(f"run.py: SPARK_GRAFT_DRIVER_MEM must look like 16g, got {mem!r}")
    scale = env.get("PERFBENCH_SCALE", "1")
    if not re.fullmatch(r"(0?\.[0-9]*[1-9][0-9]*|1(\.0*)?)", scale):
        sys.exit(f"run.py: PERFBENCH_SCALE must be a number in (0, 1], got {scale!r}")
    for path in ("data_ingestion_din_spark/session.py", "scripts/verify_local.py"):
        if not os.path.isfile(os.path.join(ROOT, path)):
            sys.exit(f"run.py: {path} is missing; run from a checkout of the repository")
    env["SPARK_GRAFT_CPUS"] = cpus
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    return env


def _session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, _, _, session = f.read().rpartition(")")[2].split()[:4]
        except OSError:  # the process ended meanwhile
            continue
        if int(session) == sid and state != "Z":
            pids.append(int(pid))
    return pids


def _stop_session(proc: subprocess.Popen, grace: bool = True) -> None:
    """Wait for every process of the child's session to end (its JVM, and
    PySpark's worker daemon, which has a process group of its own, end once
    the child has); kill what is left after a grace period, or at once."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL)[0 if grace else 1 :]:
        for tick in range(100):
            proc.poll()  # reap the child, or it stays in the session
            pids = _session_pids(proc.pid)
            if not pids:
                return
            for pid in pids if sig and tick == 0 else ():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)


def run_child(args, env: dict) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    # A fixed set of JIT compiler threads: workload.session_cpu_s leaves
    # their CPU out, which needs them alive for the whole run. No perf-data
    # file: the JVM writes it to the system temp directory whatever
    # java.io.tmpdir says.
    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        "-XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData"
    )
    child_env = dict(
        env,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_SUBMIT_ARGS=shlex.join(["--driver-java-options", java_opts, "pyspark-shell"]),
    )
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(
        ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"
    )
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "workload.py"),
        args.workload, str(args.seed), str(args.seconds), str(args.trace),
        work, result, trace_out,
    ]
    proc = subprocess.Popen(
        cmd, cwd=work, env=child_env, stdout=sys.stderr, start_new_session=True
    )

    def on_signal(signum, frame):
        # Take the child's session (its JVM and workers too) down with us.
        _stop_session(proc, grace=False)
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, on_signal)
    try:
        try:
            rc = proc.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_session(proc)
            proc.wait()
        if rc != 0:
            raise RuntimeError(
                f"{args.workload} {'timed out' if rc is None else f'exited with {rc}'}"
            )
        with open(result) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    env = environment()
    try:
        out = run_child(args, env)
    except RuntimeError as e:
        print(f"run.py: {e}", file=sys.stderr)
        return 1
    if args.trace:
        metrics = {m: {"value": out["layers"].get(m, 0.0), "unit": u} for m, u in LAYER_METRICS.items()}
    else:
        metrics = {m: {"value": out["e2e"][m], "unit": u} for m, u in E2E_METRICS.items()}
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0 and out["ops"] > 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
