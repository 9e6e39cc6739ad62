"""Benchmark entry point: run one workload and print one JSON result line.

    python3 perfbench/run.py --workload crawl_discover --seed 42 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Run it from the repository root.  The workload runs in a child process
(``workload.py``) in a session and process group of its own, with the
harness environment set here, not by the package: the package on the
workers' PYTHONPATH, ``SPARK_GRAFT_CPUS`` = the CPU count,
``SPARK_GRAFT_DRIVER_MEM`` below host RAM, and the warehouse, Spark local
dirs, event log and JVM temp dir in one temp dir under the checkout that is
removed at exit.  While the child runs, this process samples the resident
memory (summed PSS) of every process in its session (driver, JVM, Python
workers) from ``/proc``; ``peak_rss_mb`` is the peak of the samples taken
inside the workload's timed passes.  On timeout, SIGINT or SIGTERM it kills
the whole session, and before it returns it waits until no process the run
started is alive.

With ``--trace 0`` the result carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics; the full record, with the traced run's
per-iteration table, goes to ``perfbench/results/``.  The exit code is 0
only when every operation succeeded and every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl_steady", "crawl_discover", "query_suite")
MARKER = "PERFBENCH_RUN_ID"
TIMEOUT_S = 150.0  # child budget; with cleanup the command ends well within 180 s
GRACE_S = 8.0


# -- process table -----------------------------------------------------------
def _proc_stat(pid: int) -> tuple[str, int] | None:
    """(state, session) of ``pid``, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[3])
    except (OSError, IndexError, ValueError):
        return None


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``; zombies hold nothing and are skipped."""
    return [p for p in _pids() if (st := _proc_stat(p)) and st[1] == sid and st[0] != "Z"]


def marked_pids(run_id: str) -> list[int]:
    """Processes whose environment carries this run's marker."""
    needle = f"{MARKER}={run_id}".encode()
    out = []
    for p in _pids():
        if (_proc_stat(p) or ("Z",))[0] == "Z":
            continue
        try:
            with open(f"/proc/{p}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(p)
        except OSError:
            continue
    return out


def _pss_kb(pid: int) -> int:
    """Proportional resident set of ``pid``: shared pages (the forked Python
    workers share most of theirs) are split between their users."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def kill_run(sid: int, run_id: str, wait_s: float = 30.0) -> list[int]:
    """SIGTERM, then after 3 s SIGKILL, every process of the run; poll until
    all are gone (a JVM takes a few seconds to exit).  Returns survivors."""
    t0 = time.time()
    while True:
        alive = sorted((set(session_pids(sid)) | set(marked_pids(run_id))) - {os.getpid()})
        if not alive or time.time() - t0 > wait_s:
            return alive
        sig = signal.SIGTERM if time.time() - t0 < 3 else signal.SIGKILL
        for p in alive:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        time.sleep(0.2)


# -- one run -------------------------------------------------------------------
def harness_env(root: str, tmp: str, run_id: str) -> dict:
    env = dict(os.environ)
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env.update({
        MARKER: run_id,
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(2, int(mem_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": tmp,
        # every JVM of the run (launcher and driver) keeps its temp files in
        # the run's dir; HotSpot's perf-data file would go to /tmp regardless
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    env.pop("SPARK_GRAFT_TRACE", None)
    return env


def run_workload(args) -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "feapder_spark")):
        print("perfbench: run from the repository root (feapder_spark/ not found)", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    run_id = uuid.uuid4().hex
    out = os.path.join(tmp, "result.json")
    env = harness_env(root, tmp, run_id)
    os.makedirs(env["SPARK_LOCAL_DIRS"])
    stop = {"why": None}

    def on_signal(signum, _frame):
        stop["why"] = signal.Signals(signum).name

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGINT, signal.SIGTERM)}
    t_spawn = time.time()
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out, "--tmp", tmp, "--t-spawn", repr(t_spawn),
    ]
    child = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                             stdin=subprocess.DEVNULL, start_new_session=True)
    sid = child.pid
    samples: list[tuple[float, int]] = []  # (time, summed PSS kB)
    try:
        while child.poll() is None:
            samples.append((time.time(), sum(_pss_kb(p) for p in session_pids(sid))))
            if stop["why"] is None and time.time() - t_spawn > args.timeout:
                stop["why"] = "timeout"
            if stop["why"]:
                break
            time.sleep(0.5)
    finally:
        if stop["why"] is None:  # let the JVM finish its own shutdown first
            t_exit = time.time()
            while session_pids(sid) and time.time() - t_exit < GRACE_S:
                time.sleep(0.2)
        survivors = kill_run(sid, run_id)
        child.wait()
        for s, h in old.items():
            signal.signal(s, h)
        result = None
        if stop["why"] is None and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    if survivors:
        print(f"perfbench: processes still alive after cleanup: {survivors}", file=sys.stderr)
        return 3
    if result is None:
        print(f"perfbench: workload ended without a result ({stop['why'] or child.returncode})",
              file=sys.stderr)
        return 4
    metrics = dict(result.get("metrics", {}))
    peak_kb = _peak_in(samples, result.get("timed_windows", []))
    if metrics and peak_kb:
        metrics["peak_rss_mb"] = {"value": peak_kb / 1024.0, "unit": "MB"}
    elif metrics:
        result["correct"] = False
        result["errors"].append("no memory sample fell inside the timed passes")
    result.setdefault("info", {})["peak_rss_mb_whole_run"] = max(
        (kb for _, kb in samples), default=0) / 1024.0
    printed = metrics if args.trace == 0 else result.get("per_layer", {})
    _save(root, args, result, metrics)
    for e in result.get("errors", []):
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(result["correct"]) and bool(printed),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": printed,
    }))
    return 0 if result["correct"] and printed and child.returncode == 0 else 1


def _peak_in(samples, windows) -> int:
    """Peak of the memory samples taken inside the timed passes, so input
    set-up, warm-up and output checks do not set it."""
    return max((kb for t, kb in samples if any(a <= t <= b for a, b in windows)), default=0)


def _save(root: str, args, result: dict, metrics: dict) -> None:
    """Keep the full record; a traced run also reports its overhead against
    an untraced result of the same workload and seed, when there is one."""
    rdir = os.path.join(root, "perfbench", "results")
    os.makedirs(rdir, exist_ok=True)
    stem = os.path.join(rdir, f"{args.workload}.seed{args.seed}")
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, **result, "metrics": metrics}
    if args.trace == 1 and metrics and os.path.exists(stem + ".trace0.json"):
        with open(stem + ".trace0.json") as f:
            plain = json.load(f)["metrics"]["throughput_per_s"]["value"]
        record["tracing_overhead"] = plain / metrics["throughput_per_s"]["value"] - 1.0
    with open(f"{stem}.trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1)


# -- self-test -----------------------------------------------------------------
def _metric_names_match() -> bool:
    """BENCHMARK.json lists exactly the metrics the workloads report."""
    root = os.path.dirname(HERE)
    sys.path[:0] = [HERE, root]
    import layers
    import workload

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    per = [m["name"] for m in bench["per_layer"]]
    ok = (e2e == [*workload.END_TO_END, "peak_rss_mb"]
          and per == [n for n, _ in layers.PER_LAYER]
          and {w["name"] for w in bench["workloads"]} <= set(WORKLOADS))
    print(f"self-test metric names: {'ok' if ok else 'FAIL'}")
    return ok


def self_test() -> int:
    """Check BENCHMARK.json against the code, then run a workload to the end,
    kill one by timeout and interrupt one with SIGINT, and assert each time
    that no process the run started is left."""
    failures = [] if _metric_names_match() else ["names"]
    me = [sys.executable, os.path.abspath(__file__), "--seed", "1", "--trace", "0"]
    cases = [
        ("success", ["--workload", "query_suite", "--seconds", "1"]),
        ("timeout", ["--workload", "crawl_discover", "--seconds", "60", "--timeout", "25"]),
        ("sigint", ["--workload", "crawl_discover", "--seconds", "60"]),
    ]
    for how, extra in cases:
        before = set(_pids())
        t0 = time.time()
        sup = subprocess.Popen(me + extra, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        if how == "sigint":
            # wait for the JVM to exist, then interrupt the supervisor
            while time.time() - t0 < 60 and not any(
                "java" in _cmdline(p) for p in set(_pids()) - before
            ):
                time.sleep(0.5)
            time.sleep(5)
            sup.send_signal(signal.SIGINT)
        out, _ = sup.communicate(timeout=180)
        leftovers = [
            p for p in set(_pids()) - before
            if any(k in _cmdline(p) for k in ("java", "pyspark.daemon", "workload.py", "pyspark/worker"))
        ]
        printed = bool(out.strip())
        ended_right = (sup.returncode == 0 and printed) if how == "success" else (
            sup.returncode != 0 and not printed)
        ok = ended_right and not leftovers
        print(f"self-test {how}: exit={sup.returncode} after {time.time() - t0:.1f}s, "
              f"printed={printed}, leftovers={leftovers} -> {'ok' if ok else 'FAIL'}")
        if not ok:
            failures.append(how)
    return 1 if failures else 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--timeout", type=float, default=TIMEOUT_S)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        return self_test()
    if args.workload is None:
        ap.error("--workload is required")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
