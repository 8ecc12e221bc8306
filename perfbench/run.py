"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Starts ``client.py`` in a pinned, fresh
environment -- local[nproc], a 4g driver heap, PYTHONPATH at the checkout
root, and a new TMPDIR, SPARK_LOCAL_DIRS and JVM temp dir under
``.perfbench_run/`` -- samples the resident memory of the client's process
tree from /proc, stops every process the client started, and prints the
result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, and the spans and per-query counters are written to
``.perfbench_out/``. Every run also appends its steal share, boot id and
failures to ``.perfbench_out/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.workloads import WORKLOADS  # noqa: E402

PKG = "facebook_ad_library_data_pipeline_spark"
DRIVER_MEM = "4g"
# the client is killed after this long; a run must end well within 180 s
CLIENT_TIMEOUT_S = 150.0
RSS_SAMPLE_S = 0.1

UNITS = {"query_geomean_ms": "ms", "peak_rss_mb": "MB"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_frac", "_coverage", "_per_input_byte")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def stat_fields(pid: str) -> list[str] | None:
    """/proc/<pid>/stat fields after the parenthesised command name:
    state ppid pgrp session ... rss [21]."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid`` (the client and all it started)."""
    pids = []
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            fields = stat_fields(entry.name)
            if fields and int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(entry.name))
    return pids


def rss_by_command(pids: list[int]) -> dict[str, int]:
    """Resident bytes per command name (java, python3, ...). The JVM starts
    helper programs through a clone that shares its memory until the exec;
    such a java child of java would count the JVM twice and is skipped."""
    page = os.sysconf("SC_PAGE_SIZE")
    procs = {}
    for pid in pids:
        fields = stat_fields(str(pid))
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if fields:
            procs[pid] = (int(fields[1]), exe, comm, int(fields[21]) * page)
    out: dict[str, int] = {}
    for ppid, exe, comm, rss in procs.values():
        parent = procs.get(ppid)
        if parent is not None and parent[1] == exe and os.path.basename(exe) == "java":
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class RssSampler(threading.Thread):
    def __init__(self, sid: int) -> None:
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        # each command's share of the sample with the highest total
        self.peak_by_command: dict[str, int] = {}
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(RSS_SAMPLE_S):
            by_command = rss_by_command(session_pids(self.sid))
            total = sum(by_command.values())
            if total > self.peak:
                self.peak, self.peak_by_command = total, by_command


def stop_session(sid: int) -> None:
    """Terminate every process left in the client's session and wait."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.05)
    if session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def pinned_env(run_dir: Path) -> dict[str, str]:
    """Environment for a client that runs in ``run_dir / "cwd"``; creates
    the run's directories."""
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    tmp, local = run_dir / "tmp", run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    # Unix-socket paths are limited to 108 bytes, so the socket directory
    # is given relative to the working directory, not under a deep checkout
    (run_dir / "cwd" / "sock").mkdir(parents=True)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join([str(ROOT), *filter(None, [env.get("PYTHONPATH")])]),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            "--conf spark.python.unix.domain.socket.dir=sock pyspark-shell"
        ),
    )
    return env


def boot_id() -> str:
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            return f.read().strip()
    except OSError:
        return ""


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / PKG / "registry.py").is_file():
        print(f"perfbench: {PKG}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pinned_env(run_dir)
    work = run_dir / "cwd"
    result_file = run_dir / "result.json"
    log_file = run_dir / "client.log"

    jiffies0 = cpu_jiffies()
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "client.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", str(result_file),
    ]
    with open(log_file, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=CLIENT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.done.set()
            sampler.join()
            stop_session(proc.pid)
            proc.wait()
    jiffies1 = cpu_jiffies()
    steal = 100.0 * (jiffies1[0] - jiffies0[0]) / max(1, jiffies1[1] - jiffies0[1])

    try:
        if code != 0 or not result_file.is_file():
            why = "timed out" if code is None else f"exited with {code}"
            tail = log_file.read_text(errors="replace").splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            print(f"perfbench: client {why}", file=sys.stderr)
            return 1
        res = json.loads(result_file.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = sampler.peak / 2**20
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "steal_pct": steal, "boot_id": boot_id(),
        "attempted": res["attempted"], "failed": res["failed"],
        "failures": res["failures"], "setups_s": res["setups_s"],
        "peak_rss_mb_by_command": {k: v / 2**20 for k, v in sampler.peak_by_command.items()},
        "passes": res["passes"], "metrics": metrics,
    }
    with open(out_dir / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    if args.trace:
        trace_file = out_dir / f"trace-{tag}.json"
        trace_file.write_text(json.dumps({**record, "spans": res["spans"], "queries": res["queries"]}))
        print(f"# trace written to {trace_file.relative_to(ROOT)}")
    print(f"# steal_pct={steal:.2f} boot_id={record['boot_id']} passes="
          + ",".join(f"{p['label']}={p['wall_s']:.3f}" for p in res["passes"]))
    for failure in res["failures"]:
        print(f"# FAILED {failure}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
