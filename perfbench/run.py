"""Validation benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload validate_scan --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from
``--seed`` (cached under ``.bench_build/perfbench/data``; generation is in no
metric), then runs the workload in a fresh worker process (``worker.py``)
while sampling the resident memory of its whole process tree (Python, JVM,
Python UDF workers) from outside.  A traced run also writes its spans to
``.bench_build/perfbench/traces``.

Prints a hardware line, every metric by name and unit, and as the last line
``{"correct", "attempted", "failed", "metrics"}``: the ``end_to_end``
metrics of BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``.  Exits non-zero without a result line when the engine package
is missing or a worker fails.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402

# rows per input table.  At these sizes a pass is not bound by executor
# compute: on 4 cores about half of a validate_scan pass and most of a
# near_dup_curation pass is driver time (planning, code generation, result
# handling; see pass.driver_s in a traced run).  Larger inputs would not fit
# the runs an A/B comparison makes into its time budget.
WEB_ROWS = 100_000
NEAR_DUP_DOCS = 2_000
INPUTS = {
    "validate_scan": ("web", WEB_ROWS),
    "near_dup_curation": ("near_dup", NEAR_DUP_DOCS),
}
WORKER_TIMEOUT_S = 140  # with the reaping grace, a run ends within 180 s
PAGE = os.sysconf("SC_PAGE_SIZE")


def ensure_inputs(build: str, workload: str, seed: int) -> str:
    kind, n = INPUTS[workload]
    out = os.path.join(build, "data", f"{kind}-seed{seed}-n{n}")
    if not os.path.exists(os.path.join(out, "truth.json")):
        shutil.rmtree(out, ignore_errors=True)
        (gen.web_pages if kind == "web" else gen.near_dup_corpus)(seed, n, out)
    return out


# -- process tree ---------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss bytes) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                rss_pages = int(fh.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(name)] = (ppid, rss_pages * PAGE)
    return out


def _tree(table, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p in table and p not in seen:
            seen.add(p)
            todo += kids.get(p, [])
    return seen


class TreeSampler(threading.Thread):
    """Polls the summed RSS of a process tree; remembers every pid seen."""

    def __init__(self, root: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.peak, self.pids = 0, set()
        self._stop_ev = threading.Event()

    def run(self):
        while not self._stop_ev.is_set():
            table = _proc_table()
            tree = _tree(table, self.root)
            self.pids |= tree
            self.peak = max(self.peak, sum(table[p][1] for p in tree))
            self._stop_ev.wait(self.interval)

    def stop(self):
        self._stop_ev.set()
        self.join()


def _reap(pids, grace: float = 20.0) -> None:
    """Wait for every pid to end; terminate, then kill, stragglers."""
    deadline = time.monotonic() + grace
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if sig is not None:
            for p in alive:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        while alive and time.monotonic() < deadline:
            time.sleep(0.05)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        deadline = time.monotonic() + 5.0


def run_worker(args, data: str, env: dict, out: str, spans_out: str) -> tuple[dict, int]:
    """Start the worker, sample its tree, wait for all of it to end; return
    (its result, peak tree RSS in bytes)."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--data", data, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out, "--spans-out", spans_out,
           "--t0", repr(time.monotonic())]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.DEVNULL)
    sampler = TreeSampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    sampler.stop()
    _reap(sampler.pids | {proc.pid})
    proc.wait()
    if code != 0:
        raise RuntimeError(f"worker exited with {code if code is not None else 'timeout'}")
    with open(out) as fh:
        return json.load(fh), sampler.peak


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "schema_validator_spark", "__init__.py")):
        print("perfbench: schema_validator_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    build = os.path.join(root, ".bench_build", "perfbench")
    data = ensure_inputs(build, args.workload, args.seed)
    scratch = os.path.join(build, "run", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        PERFBENCH_SCRATCH=scratch,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        TMPDIR=tmp,
        # keep the JVM's temp files in the checkout; no /tmp/hsperfdata_*
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    traces = os.path.join(build, "traces")
    os.makedirs(traces, exist_ok=True)
    try:
        res, peak = run_worker(args, data, env, os.path.join(scratch, "result.json"),
                               os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for e in res["errors"][:20]:
        print(f"# check failed: {e}", file=sys.stderr)

    times_ms = [t * 1000.0 for t in res["pass_s"]]
    p50 = statistics.median(times_ms)
    box = res["box"]
    print(f"# hardware: cores={box['cpus']} heap_mb={box['heap_mb']} "
          f"docs_per_pass={res['docs_per_pass']} seed={args.seed} "
          f"pyspark={box['pyspark']}")
    e2e = {
        "setup_s": res["setup_s"],
        "docs_per_s": res["docs_per_pass"] / (p50 / 1000.0),
        "peak_rss_mb": peak / 2**20,
    }
    # batch_ms_p50 (the median pass) is docs_per_s inverted; shown, not listed
    shown = {**e2e, "batch_ms_p50": p50}
    tail = tail_percentile(len(times_ms))
    if tail is not None and tail > 50:
        shown[f"batch_ms_p{tail:g}"] = percentile(times_ms, tail)
    if "write_bytes_per_doc" in res:
        shown["write_bytes_per_doc"] = res["write_bytes_per_doc"]
    shown["failed_frac"] = res["failed"] / res["attempted"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update({"write_bytes_per_doc": "B/doc", "failed_frac": "ratio"})
    print(f"# {args.workload}: {res['attempted']} timed passes")
    for k, v in shown.items():
        print(f"# {k} = {v:.6g} {units.get(k, 'ms')}")
    print(f"# warm-up pass_ms = {[round(t * 1000.0, 1) for t in res['warmup_s']]}")
    print(f"# pass_ms = {[round(t, 1) for t in times_ms]}")

    if args.trace:
        layers = res["layers"]
        for k in sorted(layers):
            if layers[k]:
                print(f"# layer {k} = {layers[k]:.6g} {units.get(k, '')}".rstrip())
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": layers.get(n, 0.0), "unit": units[n]} for n in names}
        print(f"# per-layer metrics: {sum(1 for n in names if n in layers)} of {len(names)} "
              f"measured on this workload; {res['ungrouped_jobs']} jobs outside spans")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = res["failed"] == 0 and not res["errors"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
