"""The measured process: one Spark session, one closed-loop client.

    python perfbench/worker.py --mode {probe,headline,backfill} --spawn T ...

``--spawn`` is the ``time.monotonic()`` reading of the orchestrator just
before it started this process (CLOCK_MONOTONIC is system-wide), so
``setup_s`` covers interpreter start, imports, session start and
``load_all()``. The measurements are one stdout line,
``PERFBENCH_RESULT {json}``; the orchestrator stops the process group once
it has read it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SF_DIR = str(HERE / "data" / "sf0.01")
N_REPLAYS = 3
# The first warm pass or drain still runs while the JIT compiles, and any
# one of them can be hit by a stall; the median of at least three is
# robust to both.
MIN_WARM = 3

sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _session_conf(trace: bool, tmp: str) -> dict[str, str]:
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


class Run:
    """State shared by one workload run: session, ops, spans, failures."""

    def __init__(self, spark, ops, args, tracer):
        self.spark, self.ops, self.args, self.tracer = spark, ops, args, tracer
        self.attempted = 0
        self.failed: set[str] = set()     # ops, drains or replays
        self.failures: list[str] = []     # why, one line each

    def group(self, name: str) -> None:
        """Tag the following Spark jobs with ``name`` (traced runs only)."""
        if self.args.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    def fail(self, unit: str, why: str) -> None:
        self.failed.add(unit)
        self.failures.append(f"{unit}: {why}")
        _log(f"FAILED {unit}: {why}")


# --------------------------------------------------------------- headline

def _headline_pass(run: Run, order: list[str], label: str, collect: bool):
    """One pass over the ops; returns ``(pass span, {op: pandas frame})``."""
    spark, ops = run.spark, run.ops
    spark.catalog.clearCache()
    out = {}
    with run.tracer.span(label, kind="pass") as p:
        for name in order:
            with run.tracer.span(name, parent=p, kind="op") as s:
                try:
                    run.group(f"{label}/{name}/build")
                    t0 = time.perf_counter()
                    df = ops[name].fn(spark, SF_DIR)
                    t1 = time.perf_counter()
                    if collect:
                        run.group(f"{label}/{name}/collect")
                        out[name] = df.toPandas()
                    else:
                        run.group(f"{label}/{name}/exec")
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    s["build_s"] = t1 - t0
                    s["collect_s" if collect else "exec_s"] = t2 - t1
                except Exception as e:  # noqa: BLE001 - an op failure is a counted result
                    traceback.print_exc()
                    run.fail(name, f"{label} pass raised {type(e).__name__}")
    return p, out


def headline(run: Run) -> dict:
    from bench import HEADLINE
    from checks import check_result
    from inputs import op_order
    from tracing import duration

    order = op_order(HEADLINE, run.args.seed)
    run.attempted = len(order)
    # The cold pass keeps bench.py's order, so its JIT and first-use costs
    # land on the same ops whatever the seed; warm passes use the seed's.
    # It collects each result to the driver, as a CLI query does, and those
    # results are what the output check reads.
    cold, frames = _headline_pass(run, list(HEADLINE), "cold", collect=True)
    warm = []
    t_end = time.perf_counter() + run.args.seconds
    while len(warm) < MIN_WARM or time.perf_counter() < t_end:
        warm.append(_headline_pass(run, order, f"warm{len(warm)}", collect=False)[0])
    res = {"cold_s": duration(cold),
           "suite_s": statistics.median(duration(p) for p in warm),
           "warm": [duration(p) for p in warm]}
    if run.args.measure_only:
        return res
    expected = json.loads((HERE / "expected" / "headline.json").read_text())["ops"]
    for name, pdf in frames.items():
        why = check_result(pdf, expected[name])
        if why:
            run.fail(name, why)
    res["layers"] = _headline_layers(run, order, warm, cold)
    return res


def _headline_layers(run: Run, order, warm, cold) -> dict:
    """Per-layer means over the warm passes; collect times from the cold pass."""
    spans = run.tracer.spans
    n = len(warm)
    lay = {"operators.build_s": 0.0, "operators.exec_s": 0.0, "readback.collect_s": 0.0}
    for name in order:
        lay[f"op.{name}.build_s"] = lay[f"op.{name}.exec_s"] = lay[f"op.{name}.collect_s"] = 0.0
    for p in warm:
        for s in spans:
            if s["parent"] == p["id"]:
                lay[f"op.{s['name']}.build_s"] += s.get("build_s", 0.0) / n
                lay[f"op.{s['name']}.exec_s"] += s.get("exec_s", 0.0) / n
    for s in spans:
        if s["parent"] == cold["id"]:
            lay[f"op.{s['name']}.collect_s"] = s.get("collect_s", 0.0)
    for name in order:
        lay["operators.build_s"] += lay[f"op.{name}.build_s"]
        lay["operators.exec_s"] += lay[f"op.{name}.exec_s"]
        lay["readback.collect_s"] += lay[f"op.{name}.collect_s"]
    if run.args.trace:
        from tracing import stage_counters, sum_counters
        groups = stage_counters(run.spark)
        warm_labels = {p["name"] for p in warm}
        tot = sum_counters(groups, lambda g: g.split("/")[0] in warm_labels)
        lay.update({k: v / n for k, v in tot.items()})
        if not lay["spark.tasks"]:
            raise RuntimeError("no Spark tasks attributed to the warm passes")
        cores = run.spark.sparkContext.defaultParallelism
        exec_tot = sum_counters(groups, lambda g: g.split("/")[0] in warm_labels
                                and g.endswith("/exec"))
        lay["spark.core_use"] = (exec_tot["spark.task_busy_s"] / n
                                 / (lay["operators.exec_s"] * cores))
        for s in spans:  # per-op, per-phase stage counters into the span file
            if s.get("kind") == "op":
                label = next(p["name"] for p in spans if p["id"] == s["parent"])
                for phase in ("build", "exec", "collect"):
                    g = groups.get(f"{label}/{s['name']}/{phase}")
                    if g:
                        s[phase] = g
    return lay


# --------------------------------------------------------------- backfill

def backfill(run: Run) -> dict:
    from pyspark.sql import functions as F

    from australis_indexer_spark.streaming.pipeline import run_pipeline
    from checks import check_replay, check_sink_counts
    from tracing import ProgressLog, duration

    spark, args = run.spark, run.args
    src = os.path.join(args.work, "src")
    manifest = json.loads(Path(args.work, "manifest.json").read_text())
    hashes = {int(h): v for h, v in manifest["hashes"].items()}
    log = None
    if args.trace:
        log = ProgressLog()
        spark.streams.addListener(log)

    drains: list[dict] = []
    drained: list[dict] = []  # the drains whose query ran to its end
    # sinks and checkpoints of this process only: a reused checkpoint would
    # make a drain a no-op over an already-full sink
    out = tempfile.mkdtemp(prefix="drains-", dir=args.work)

    def drain(label: str) -> dict:
        k = len(drains)
        sink, ckpt = os.path.join(out, f"sink{k}"), os.path.join(out, f"ckpt{k}")
        run.attempted += 1
        with run.tracer.span(label, kind="drain", sink=sink) as s:
            run.group(label)
            try:
                run_pipeline(spark, src, sink, ckpt)
                drained.append(s)
            except Exception as e:  # noqa: BLE001 - a failed drain is a counted result
                traceback.print_exc()
                run.fail(label, f"run_pipeline raised {type(e).__name__}")
        drains.append(s)
        s["batches"] = []
        if log is not None and drained and drained[-1] is s:
            log.wait_terminated(len(drained))
            s["batches"] = log.take()
        # The stream thread tags its micro-batch jobs, the foreachBatch
        # sink's writes among them, with the query's runId as job group.
        s["groups"] = [label, *sorted({b["runId"] for b in s["batches"]})]
        run.group("check")
        if os.path.isdir(sink):
            rows, distinct = spark.read.parquet(sink).agg(
                F.count("*"), F.countDistinct("sequence_id")).first()
        else:
            rows = distinct = 0
        s["sink_rows"] = rows
        why = check_sink_counts(rows, distinct, len(hashes))
        if why:
            run.fail(label, why)
        if k:  # keep only the newest sink on disk
            shutil.rmtree(os.path.join(out, f"sink{k - 1}"), ignore_errors=True)
            shutil.rmtree(os.path.join(out, f"ckpt{k - 1}"), ignore_errors=True)
        return s

    cold = drain("cold")
    warm = []
    t_end = time.perf_counter() + args.seconds
    while len(warm) < MIN_WARM or time.perf_counter() < t_end:
        warm.append(drain(f"warm{len(warm)}"))
    res = {"cold_s": duration(cold),
           "suite_s": statistics.median(duration(d) for d in warm),
           "warm": [duration(d) for d in warm]}
    if args.measure_only:
        return res

    sink = warm[-1]["sink"]
    replays = []
    # replay_s is reported by traced runs only; an untraced run replays
    # once, for the check. replay0 warms the read path and is unmeasured.
    n_replays = N_REPLAYS + 1 if args.trace else 1
    for i in range(n_replays):
        run.attempted += 1
        with run.tracer.span(f"replay{i}", kind="replay") as s:
            run.group(f"replay{i}")
            pdf = spark.read.parquet(sink).orderBy("sequence_id").toPandas()
        why = check_replay(pdf["sequence_id"].tolist(),
                           pdf["payload"].tolist() if i == n_replays - 1 else None, hashes)
        if why:
            run.fail(f"replay{i}", why)
        s["rows"] = len(pdf)
        s["bytes"] = int(pdf.memory_usage(deep=True).sum())
        if i:
            replays.append(s)
    res["layers"] = _backfill_layers(run, cold, warm, replays, sink, manifest)
    return res


def _backfill_layers(run: Run, cold, warm, replays, sink, manifest) -> dict:
    from tracing import DURATION_KEYS, stage_counters, sum_counters, tail_percentile, duration

    if not run.args.trace:
        return {}
    n = len(warm)
    files = [os.path.join(d, f) for d, _, fs in os.walk(sink) for f in fs if f.endswith(".parquet")]
    lay = {
        "streaming.sink_files": len(files),
        "streaming.sink_bytes_per_block": sum(map(os.path.getsize, files)) / len(manifest["hashes"]),
        "readback.replay_s": statistics.median(duration(r) for r in replays),
    }
    batches = [b for d in warm for b in d["batches"] if "triggerExecution" in b["durationMs"]]
    lay["streaming.batches"] = len(batches) / n
    for name, key in DURATION_KEYS.items():
        lay[name] = sum(b["durationMs"].get(key, 0) for b in batches) / 1000 / n
    trig = [b["durationMs"]["triggerExecution"] / 1000 for b in batches]
    pct, tail = tail_percentile(trig)
    lay.update({"streaming.batch_p50_s": statistics.median(trig),
                "streaming.batch_tail_s": tail, "streaming.batch_tail_pct": pct,
                "streaming.batch_samples": len(trig)})
    ops_ = [o for b in batches for o in b.get("stateOperators", [])]
    # rows the stream took in minus rows the sink holds: what dedup removed
    dropped = sum(sum(b["numInputRows"] for b in d["batches"]) - d["sink_rows"]
                  for d in warm) / n
    lay.update({
        "streaming.state_rows": max((o["numRowsTotal"] for o in ops_), default=0),
        "streaming.state_commit_s": sum(o.get("commitTimeMs", 0) for o in ops_) / 1000 / n,
        "streaming.dedup_dropped_rows": dropped,
        "streaming.dedup_ratio": dropped / manifest["redelivered"],
    })
    groups = stage_counters(run.spark)
    for d in warm + [cold]:  # per-drain stage counters into the span file
        d["stages"] = sum_counters(groups, lambda g: g in d["groups"])
    warm_groups = {g for d in warm for g in d["groups"]}
    lay.update({k: v / n for k, v in sum_counters(groups, lambda g: g in warm_groups).items()})
    if not lay["spark.tasks"]:
        raise RuntimeError("no Spark tasks attributed to the warm drains")
    lay["spark.core_use"] = (lay["spark.task_busy_s"]
                             / (statistics.mean(duration(d) for d in warm)
                                * run.spark.sparkContext.defaultParallelism))
    # what the replay delivers to the driver; Spark's input-byte counter
    # sees only a small part of the sink's payload column on this read
    lay["readback.replay_bytes"] = statistics.median(r["bytes"] for r in replays)
    return lay


# --------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("probe", "headline", "backfill"), required=True)
    ap.add_argument("--spawn", type=float, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--measure-only", action="store_true",
                    help="stop after the warm loop: no replays, checks or layers")
    ap.add_argument("--spans", help="write the span file here (traced runs)")
    args = ap.parse_args()

    from australis_indexer_spark.session import get_session
    tmp = os.path.join(args.work, "tmp")
    spark = get_session("perfbench", extra_conf=_session_conf(bool(args.trace), tmp))
    t_session = time.monotonic()
    from australis_indexer_spark.registry import load_all
    ops = load_all()
    t_ready = time.monotonic()
    out = {"setup_s": t_ready - args.spawn,
           "layers": {"session.start_s": t_session - args.spawn,
                      "registry.load_s": t_ready - t_session}}
    try:
        if args.mode != "probe":
            from tracing import Tracer
            run = Run(spark, ops, args, Tracer())
            res = (headline if args.mode == "headline" else backfill)(run)
            out["layers"].update(res.pop("layers", {}))
            out.update(res, attempted=run.attempted, failed=len(run.failed),
                       failures=run.failures)
            if args.spans:
                run.tracer.write(args.spans)
        # the orchestrator stops this process group once it has the line
        print("PERFBENCH_RESULT " + json.dumps(out), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
