#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {headline,backfill} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Prints progress on stderr and, as the last
stdout line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``. See perfbench/README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))
WORKLOADS = ("headline", "backfill")
SETUP_PROBES = 1          # extra set-up-only processes; with the run's own: 2 samples
# Each worker is killed if it overruns its allowance. A set-up-only probe
# gets PROBE_S. A workload worker gets WORKER_S for set-up, the cold pass,
# the pass that straddles the end of the loop and the checks, plus two
# times --seconds for the warm loop itself.
PROBE_S = 40
WORKER_S = 75
# Per-layer metrics a workload does not exercise; they read 0 there. Any
# other metric of BENCHMARK.json that a run does not produce is an error.
NOT_EXERCISED = {
    "headline": ("streaming.", "readback.replay_", "gen_s"),
    "backfill": ("operators.", "op.", "readback.collect_s"),
}
DRIVER_MEM = "2g"
RESULT_MARK = "PERFBENCH_RESULT "


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Workers:
    """Starts each worker in its own process group and reads its result
    line. Then it kills the group and waits until the group is gone. A
    worker that overruns its allowance is killed the same way."""

    def __init__(self, work: Path, env: dict[str, str], seconds: float):
        self.work, self.env, self.seconds = work, env, seconds

    def run(self, mode: str, *extra: str) -> dict:
        allowance = PROBE_S if mode == "probe" else WORKER_S + 2 * self.seconds
        cmd = [sys.executable, str(HERE / "worker.py"), "--mode", mode,
               "--work", str(self.work), *extra]
        log = self.work / f"worker-{mode}.log"
        with open(log, "a") as err:
            spawn = time.monotonic()
            p = subprocess.Popen([*cmd, "--spawn", repr(spawn)], stdout=subprocess.PIPE,
                                 stderr=err, env=self.env, cwd=self.work,
                                 start_new_session=True, text=True)
            timer = threading.Timer(allowance, os.killpg, (p.pid, signal.SIGKILL))
            timer.start()
            result = None
            try:
                # session shutdown is not part of any measurement, so the
                # group is stopped as soon as the result line is in
                for line in p.stdout:
                    if line.startswith(RESULT_MARK):
                        result = json.loads(line[len(RESULT_MARK):])
                        break
            finally:
                timer.cancel()
                _stop_group(p)
        if result is None:
            sys.stderr.write(log.read_text()[-4000:])
            raise RuntimeError(f"{mode} worker ended without a result")
        _log(f"{mode} worker done in {time.monotonic() - spawn:.1f} s")
        return result


def _stop_group(p: subprocess.Popen) -> None:
    """Kill the worker's process group (its JVM and Python workers too)
    and wait until no member is left."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.stdout.close()
    p.wait()
    for _ in range(200):
        try:
            os.killpg(p.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _env(work: Path) -> dict[str, str]:
    env = dict(os.environ)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def _host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 2**20, 1),
            "driver_mem": DRIVER_MEM}


def _generate(seed: int, work: Path) -> float:
    """Write the backfill input and its manifest; returns generator seconds."""
    from inputs import make_block_files, write_block_files

    t0 = time.perf_counter()
    stream = make_block_files(seed)
    write_block_files(stream, str(work / "src"))
    gen_s = time.perf_counter() - t0
    (work / "manifest.json").write_text(json.dumps(
        {"hashes": stream["hashes"], "redelivered": stream["redelivered"]}))
    return gen_s


def pick_metrics(wanted: list[dict], values: dict[str, float], workload: str) -> dict:
    """The result's ``metrics``: one entry per spec in ``wanted``. A metric
    the workload does not exercise reads 0; any other missing one raises
    KeyError, so a renamed or dropped layer key cannot pass as 0."""
    skip = NOT_EXERCISED[workload]
    missing = [m["name"] for m in wanted
               if m["name"] not in values and not m["name"].startswith(skip)]
    if missing:
        raise KeyError(f"{workload} produced no value for {', '.join(missing)}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "australis_indexer_spark" / "__init__.py").is_file() \
            or not (ROOT / "bench.py").is_file():
        _log(f"no australis_indexer_spark package or bench.py under {ROOT}")
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    workers = Workers(work, _env(work), args.seconds)
    common = ["--seed", str(args.seed), "--seconds", str(args.seconds)]
    try:
        gen_s = _generate(args.seed, work) if args.workload == "backfill" else 0.0
        if args.trace:
            plain = workers.run(args.workload, *common, "--trace", "0", "--measure-only")
            out_dir = ROOT / ".bench_out"
            out_dir.mkdir(exist_ok=True)
            spans = out_dir / f"spans-{args.workload}-seed{args.seed}.jsonl"
            main_run = workers.run(args.workload, *common, "--trace", "1",
                                   "--spans", str(spans))
            _log(f"span file: {spans}")
        else:
            probes = [workers.run("probe") for _ in range(SETUP_PROBES)]
            main_run = workers.run(args.workload, *common, "--trace", "0")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    specs = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        values = {**main_run["layers"],
                  "trace.overhead_setup_s": main_run["setup_s"] - plain["setup_s"],
                  "trace.overhead_cold_s": main_run["cold_s"] - plain["cold_s"],
                  "trace.overhead_suite_s": main_run["suite_s"] - plain["suite_s"]}
        if args.workload == "backfill":
            values["gen_s"] = gen_s
        wanted = specs["per_layer"]
    else:
        values = {"setup_s": statistics.median(
                      [p["setup_s"] for p in probes] + [main_run["setup_s"]]),
                  "cold_s": main_run["cold_s"], "suite_s": main_run["suite_s"]}
        wanted = specs["end_to_end"]
    try:
        metrics = pick_metrics(wanted, values, args.workload)
    except KeyError as e:
        _log(str(e))
        return 1
    _log(json.dumps({"workload": args.workload, "seed": args.seed, "host": _host(),
                     "warm_s": [round(x, 3) for x in main_run["warm"]], "gen_s": gen_s,
                     "failures": main_run["failures"]}))
    print(json.dumps({"correct": main_run["failed"] == 0,
                      "attempted": main_run["attempted"], "failed": main_run["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
