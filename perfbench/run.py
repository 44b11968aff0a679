"""Benchmark entry point: ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>`` from the root of a checkout.

Starts one run of ``harness.py`` in a child process and supervises it:

- the child runs from the benchmark's own directory with the checkout
  root on ``PYTHONPATH``, so Spark's Python workers (which inherit the
  environment) import the engine package too (see README.md,
  "Known defects");
- the run gets its own work directory under ``.perfbench_work/`` with
  ``TMPDIR``, ``SPARK_GRAFT_ARTIFACT_DIR`` and ``SPARK_LOCAL_DIRS``
  inside it; what the program leaves in its temp space is reported as
  ``tmp_bytes_left`` and the directory is deleted at exit;
- the peak resident memory (PSS) of the child's process tree (Python
  driver, Spark JVM, Python workers) is sampled from session start
  until the timed loop ends, and reported as ``peak_rss_mb``;
- every process the child started is stopped before this one exits.

The last line of standard output is one JSON object holding the
metrics that ``BENCHMARK.json`` lists for the mode: its ``end_to_end``
metrics with ``--trace 0`` and its ``per_layer`` metrics with
``--trace 1``. The exit code is 0 only when a result was printed.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "end_to_end_database_pipeline_project_spark"
#: the child must finish well inside the 180 s a run may take
CHILD_TIMEOUT_S = 165
RSS_POLL_S = 0.1


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM starts the Python
    workers from its task threads)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def _tree(pid: int) -> list[tuple[int, int | None]]:
    """``(pid, parent)`` for ``pid`` and every process below it."""
    out, todo = [], [(pid, None)]
    while todo:
        p, parent = todo.pop()
        out.append((p, parent))
        todo += [(c, p) for c in _children(p)]
    return out


def _vm(pid: int) -> tuple[int, int] | None:
    """(virtual size, resident pages) from ``/proc/<pid>/stat``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[20]), int(fields[21])


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory, with each page shared
    between processes split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_memory_kb(root: int) -> int:
    """Memory of the process tree under ``root``: the sum of PSS, so
    pages the Python workers share with their forking daemon count once.
    A child whose address space is still its parent's (the JVM spawns
    a process by a vfork-style clone that shows the whole JVM until it
    execs) is left out; counted, it doubled the JVM for that instant."""
    tree = _tree(root)
    vm = {pid: _vm(pid) for pid, _ in tree}
    return sum(
        _pss_kb(pid)
        for pid, parent in tree
        if vm[pid] is not None and (parent is None or vm[pid] != vm[parent])
    )


class RssSampler(threading.Thread):
    """Peak, over samples, of the process tree's memory
    (``tree_memory_kb``), between ``begin`` and ``stop`` being set."""

    def __init__(self, root_pid: int) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.peak_kb = 0
        self.begin = threading.Event()
        self.stop = threading.Event()

    def run(self) -> None:
        while not (self.begin.wait(RSS_POLL_S) or self.stop.is_set()):
            pass
        while not self.stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_memory_kb(self.root_pid))
            self.stop.wait(RSS_POLL_S)

    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _stop_group(pgid: int) -> None:
    """Kill whatever is left of the child's process group and wait
    until none of it remains."""
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "artifacts"), os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        TMPDIR=tmp,
        SPARK_GRAFT_ARTIFACT_DIR=os.path.join(work, "artifacts"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_GRAFT_DRIVER_MEM="2g",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PERFBENCH_WORK=work,
        PERFBENCH_OUT=os.path.join(ROOT, ".perfbench_out"),
    )
    cmd = [
        sys.executable, "harness.py",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    child = subprocess.Popen(
        cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    sampler = RssSampler(child.pid)
    sampler.start()
    killer = threading.Timer(CHILD_TIMEOUT_S, lambda: os.killpg(child.pid, signal.SIGKILL))
    killer.start()
    last = None
    try:
        for line in child.stdout:
            line = line.rstrip("\n")
            if line == "phase session_start":
                sampler.begin.set()
            elif line == "phase timed_done":
                sampler.stop.set()
            if last is not None:
                print(last, flush=True)
            last = line
        code = child.wait()
    finally:
        killer.cancel()
        sampler.stop.set()
        sampler.join()
        child.wait()
        _stop_group(child.pid)
        tmp_left = _dir_bytes(tmp)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    if code != 0 or last is None:
        if last is not None:
            print(last, file=sys.stderr)
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    result = json.loads(last)
    measured = dict(result["metrics"])
    measured["peak_rss_mb"] = sampler.peak_mb()
    measured["tmp_bytes_left"] = float(tmp_left)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in measured:
            print(f"perfbench: metric {m['name']} not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": measured[m["name"]], "unit": m["unit"]}
    result["metrics"] = metrics
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
