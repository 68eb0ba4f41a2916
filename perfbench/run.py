"""Engine workload benchmark: one closed-loop client driving space_spark's
public API on a local Spark session.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 15

Run from the repository root. ``--trace 0`` (the default) prints the
end-to-end metrics; ``--trace 1`` wraps the engine's layers
(perfbench/tracing.py) and prints the per-layer metrics instead. The last
stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
full report (per-op medians, sample counts, host probes, sizes). Everything
the run writes goes under ``.perfbench_run/`` in the repository root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from typing import Dict, List, Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_run")
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"

# Op kinds and engine calls every traced run reports, whichever workload
# it runs (an op kind a workload does not run reports 0).
SPARK_OPS = ("append", "scan", "filter_scan", "time_travel", "key_lookup",
             "ra_open", "upsert", "delete", "mv_refresh", "cdf_read",
             "compact")
WRITE_OPS = ("append", "upsert", "delete", "mv_refresh", "compact")
DATASET_OPS = ("append", "read", "read_by_keys", "upsert", "delete", "diff",
               "compact", "compact_delete_vectors")


def spark_conf(run_dir: str) -> Dict[str, str]:
    """The fixed Spark settings; both sides of a comparison use these."""
    return {
        "spark.master": f"local[{CORES}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }


def start_spark(run_dir: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for key, value in spark_conf(run_dir).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# Host-weather probes, the same fixed work as bench.py's _probe_cpu and
# _probe_parallel. Untimed; they bracket each run so host bursts can be told
# apart from code changes.
def probe_cpu() -> float:
    start = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    if not acc:
        raise AssertionError("probe loop optimised away")
    return time.perf_counter() - start


def probe_parallel(spark) -> float:
    start = time.perf_counter()
    spark.range(CORES * 2_000_000, numPartitions=CORES).selectExpr(
        "bit_xor(xxhash64(id))").collect()
    return time.perf_counter() - start


def cpu_ticks() -> Optional[List[int]]:
    """The host's aggregate CPU tick counters (``/proc/stat``), or None."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before: Optional[List[int]],
                after: Optional[List[int]]) -> Optional[float]:
    """Share of the host's CPU time between two ``cpu_ticks`` readings that
    the hypervisor gave to other guests (the ``steal`` counter)."""
    if not before or not after or len(before) < 8:
        return None
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total else 0.0


def tail(values: List[float]):
    """(percentile, value): the highest percentile with at least ten samples
    above it (nearest rank); the median when there are too few samples."""
    vals = sorted(values)
    n = len(vals)
    if n < 20:
        return 50.0, statistics.median(vals)
    rank = n - 10  # 1-based rank with exactly ten samples above it
    return round(100.0 * rank / n, 1), vals[rank - 1]


class Runner:
    """Runs ops one at a time (one closed-loop client) and records each."""

    def __init__(self, workload, tracer=None):
        self.w = workload
        self.tracer = tracer
        self.ops: List[dict] = []

    def run(self, op, round_no: int, traced: bool) -> None:
        tr = self.tracer if traced else None
        if tr is not None:
            tr.begin_op(len(self.ops), op.kind,
                        self.w.work_dir if op.kind in self.w.writer_ops
                        else None)
        ok, result = True, None
        t0 = time.perf_counter()
        try:
            result = op.call()
        except Exception:
            ok = False
            traceback.print_exc(file=sys.stderr)
        dur = time.perf_counter() - t0
        if tr is not None:
            tr.end_op()
        if ok:
            try:
                ok = bool(op.check(result))
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
        if not ok:
            print(f"perfbench: {op.kind} (round {round_no}) failed its check",
                  file=sys.stderr)
        self.ops.append({"kind": op.kind, "dur": dur, "ok": ok,
                         "round": round_no, "traced": traced, "tag": op.tag})

    def loop(self, seconds: float) -> None:
        """The workload's warm-up rounds (recorded as round -2 and left out
        of the metrics), its prologue ops (round -1), then whole rounds until
        ``seconds`` have passed and at least the workload's minimum. In a
        traced run odd rounds and the prologue are traced and even rounds
        are not, so both see the same history; their throughput ratio is
        the tracing overhead."""
        tracing = self.tracer is not None
        for _ in range(self.w.warm_rounds):
            for op in self.w.prologue() + self.w.round(-2):
                self.run(op, -2, False)
        for op in self.w.prologue():
            self.run(op, -1, tracing)
        start = time.perf_counter()
        r = 0
        while r < self.w.min_rounds or time.perf_counter() - start < seconds:
            for op in self.w.round(r):
                self.run(op, r, tracing and r % 2 == 1)
            r += 1

    def mark_failed(self, tags: List[int]) -> None:
        """Fail the ops the workload's final check blamed; a blamed tag no
        op carries (work done in set-up) counts as one more failed op."""
        bad = set(tags)
        for op in self.ops:
            if op["tag"] in bad:
                op["ok"] = False
        for _tag in bad - {op["tag"] for op in self.ops}:
            self.ops.append({"kind": "final_check", "dur": 0.0, "ok": False,
                             "round": -1, "traced": False, "tag": None})


def ops_per_s(ops: List[dict]) -> float:
    return len(ops) / sum(o["dur"] for o in ops)


def op_summary(ops: List[dict]) -> Dict[str, dict]:
    """Median latency of each op type, named ``<op>_p50_s`` (the one-off
    ``ra_open`` as ``random_access_open_s``; both batch kinds together also
    as ``random_access_batch_p50_s``), with its sample count and tail."""
    by_name = defaultdict(list)
    for o in ops:
        name = ("random_access_open_s" if o["kind"] == "ra_open"
                else f"{o['kind']}_p50_s")
        by_name[name].append(o["dur"])
        if o["kind"].startswith("ra_batch"):
            by_name["random_access_batch_p50_s"].append(o["dur"])
    out = {}
    for name, durs in sorted(by_name.items()):
        pct, val = tail(durs)
        out[name] = {"value": statistics.median(durs), "unit": "s",
                     "samples": len(durs), "tail_s": val,
                     "tail_percentile": pct}
    return out


def request_latencies(w, loop_ops: List[dict]) -> List[float]:
    """The latency of each of the workload's requests: one op of a request
    kind, or, when the request is a round, the round's request ops summed."""
    if not w.request_is_round:
        return [o["dur"] for o in loop_ops if o["kind"] in w.request_ops]
    per_round = defaultdict(float)
    for o in loop_ops:
        if o["kind"] in w.request_ops:
            per_round[o["round"]] += o["dur"]
    return [per_round[r] for r in sorted(per_round)]


def end_to_end(w, runner: Runner, setup_times: List[float]) -> dict:
    loop_ops = [o for o in runner.ops if o["round"] >= 0]
    req = request_latencies(w, loop_ops)
    pct, tail_val = tail(req)
    return {
        "setup_s": {"value": statistics.median(setup_times), "unit": "s"},
        "ops_per_s": {"value": ops_per_s(loop_ops), "unit": "1/s"},
        "op_p50_s": {"value": statistics.median(req), "unit": "s"},
        "op_tail_s": {"value": tail_val, "unit": "s",
                      "percentile": pct, "samples": len(req)},
        "storage_bytes_per_user_byte": {"value": w.storage_ratio,
                                        "unit": "B/B"},
    }


def per_layer(tracer, runner: Runner) -> Dict[str, dict]:
    """Per-layer metrics from the traced ops. Layer totals and calls are per
    traced round (the workload's fixed op mix; prologue ops excluded); the
    spark.* and fs.* counts are per op of the named type."""
    traced_rounds = {o["round"] for o in runner.ops
                     if o["traced"] and o["round"] >= 0}
    n_rounds = max(1, len(traced_rounds))
    op_rounds = {i: o["round"] for i, o in enumerate(runner.ops)}
    times = tracer.span_times()
    m: Dict[str, dict] = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    loop_ops = {op["id"] for op in tracer.ops if op_rounds[op["id"]] >= 0}
    totals = defaultdict(float)
    selfs = defaultdict(float)
    calls = defaultdict(int)
    for s in times.values():
        if s["op"] not in loop_ops:
            continue
        calls[s["name"]] += 1
        selfs[s["name"]] += s["self"]
        # Count a span once even when the function re-enters itself.
        p = s["parent"]
        while p is not None and times[p]["name"] != s["name"]:
            p = times[p]["parent"]
        if p is None:
            totals[s["name"]] += s["dur"]
    counts = defaultdict(float)
    for op in tracer.ops:
        if op["id"] in loop_ops:
            for k, v in op["counts"].items():
                counts[k] += v

    for op_name in DATASET_OPS:
        put(f"dataset.{op_name}.calls", calls[f"dataset.{op_name}"] / n_rounds,
            "count")
        put(f"dataset.{op_name}.self_s", selfs[f"dataset.{op_name}"] / n_rounds,
            "s")

    put("metadata.commit_snapshot.total_s",
        totals["metadata.commit_snapshot"] / n_rounds, "s")
    commits = [s["dur"] for _sid, s in sorted(times.items())
               if s["name"] == "metadata.commit_snapshot"
               and s["op"] in loop_ops]
    for q in range(4):
        part = commits[q * len(commits) // 4:(q + 1) * len(commits) // 4]
        put(f"metadata.commit_snapshot.total_s.q{q + 1}",
            statistics.mean(part) if part else 0.0, "s")
    put("metadata.commit_lock.wait_s",
        counts["metadata.commit_lock.wait_s"] / n_rounds, "s")
    for fn in ("read_metadata", "write_metadata"):
        put(f"metadata.{fn}.total_s", totals[f"metadata.{fn}"] / n_rounds, "s")
    put("metadata.bytes_written", counts["metadata.bytes_written"] / n_rounds,
        "B")
    put("metadata.conflicts", counts["metadata.conflicts"] / n_rounds, "count")

    put("manifests.prune_files.total_s",
        totals["manifests.prune_files"] / n_rounds, "s")
    put("manifests.files_in", counts["manifests.files_in"] / n_rounds, "count")
    put("manifests.files_kept", counts["manifests.files_kept"] / n_rounds,
        "count")
    put("manifests.files_kept_ratio",
        (counts["manifests.files_kept"] / counts["manifests.files_in"]
         if counts["manifests.files_in"] else 0.0), "ratio")
    for fn in ("write_manifest", "read_file_blooms", "collect_file_stats"):
        put(f"manifests.{fn}.total_s", totals[f"manifests.{fn}"] / n_rounds,
            "s")
    put("manifests.bytes_written", counts["manifests.bytes_written"] / n_rounds,
        "B")

    put("blooms.build_arrow.total_s", totals["blooms.build_arrow"] / n_rounds,
        "s")
    put("blooms.files_probed", counts["blooms.files_probed"] / n_rounds,
        "count")
    put("blooms.files_kept", counts["blooms.files_kept"] / n_rounds, "count")

    put("records.read_blob_column.calls",
        calls["records.read_blob_column"] / n_rounds, "count")
    put("records.read_blob_column.total_s",
        totals["records.read_blob_column"] / n_rounds, "s")
    put("records.bytes_written", counts["records.bytes_written"] / n_rounds,
        "B")
    req = counts["random_access.requests"]
    put("random_access.cache_hit_ratio",
        (req - counts["random_access.misses"]) / req if req else 0.0, "ratio")

    put("views.refresh.total_s", totals["views.refresh"] / n_rounds, "s")
    put("views.snapshots_applied", counts["views.snapshots_applied"] / n_rounds,
        "count")

    per_kind = defaultdict(lambda: defaultdict(float))
    kind_n = defaultdict(int)
    for op in tracer.ops:
        kind_n[op["kind"]] += 1
        for k, v in op["counts"].items():
            per_kind[op["kind"]][k] += v
    for kind in SPARK_OPS:
        n = kind_n[kind] or 1
        for c in ("jobs", "stages", "tasks", "listing_jobs"):
            put(f"spark.{c}.{kind}", per_kind[kind][f"spark.{c}"] / n, "count")
    for kind in WRITE_OPS:
        n = kind_n[kind] or 1
        put(f"fs.data_bytes_written.{kind}",
            per_kind[kind]["fs.data_bytes_written"] / n, "B")
        put(f"fs.files_created.{kind}", per_kind[kind]["fs.files_created"] / n,
            "count")

    put("trace.overhead_ratio", overhead_ratio(runner.ops), "ratio")
    return m


def overhead_ratio(ops: List[dict]) -> float:
    """Traced over untraced throughput on the traced rounds' op mix: the
    untraced mean duration of each op kind, weighted by how often the
    traced rounds ran it, over the traced rounds' time. Kinds that ran only
    traced or only untraced (a periodic compaction) are left out."""
    durs = {True: defaultdict(list), False: defaultdict(list)}
    for o in ops:
        if o["round"] >= 0:
            durs[o["traced"]][o["kind"]].append(o["dur"])
    both = set(durs[True]) & set(durs[False])
    traced_s = sum(sum(durs[True][k]) for k in both)
    expected_s = sum(statistics.mean(durs[False][k]) * len(durs[True][k])
                     for k in both)
    return expected_s / traced_s if traced_s else 0.0


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(
        WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # Python, the Spark workers it launches and the JVM that spark-submit
    # runs to build the Spark driver's command line keep temporary files
    # here.
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    tempfile.tempdir = None
    # Import from the repository root, not from this script's directory.
    sys.path[0] = ROOT
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    import space_spark  # noqa: F401  -- fail before starting Spark

    t_start = time.perf_counter()
    spark = start_spark(run_dir)
    try:
        phases = {"spark_start_s": time.perf_counter() - t_start}
        w = WORKLOADS[args.workload](spark, os.path.join(run_dir, "tables"),
                                     args.seed)
        t0 = time.perf_counter()
        w.warm_up()
        phases["warm_up_s"] = time.perf_counter() - t0
        setup_times = []
        for rep in range(w.setup_reps):
            t0 = time.perf_counter()
            w.setup(rep)
            setup_times.append(time.perf_counter() - t0)
        # Objects that live through the run (the session, the tables'
        # metadata) stay out of the collector's way during the loop.
        gc.collect()
        gc.freeze()
        probes = {"start": {"cpu1_s": probe_cpu(),
                            "par_s": probe_parallel(spark)}}
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        runner = Runner(w, tracer)
        t0 = time.perf_counter()
        ticks = cpu_ticks()
        try:
            runner.loop(args.seconds)
        finally:
            if tracer is not None:
                tracer.uninstall()
        phases["loop_s"] = time.perf_counter() - t0
        probes["loop_steal_share"] = steal_share(ticks, cpu_ticks())
        t0 = time.perf_counter()
        runner.mark_failed(w.final_check())
        phases["final_check_s"] = time.perf_counter() - t0
        probes["end"] = {"cpu1_s": probe_cpu(), "par_s": probe_parallel(spark)}

        if tracer is not None:
            metrics = per_layer(tracer, runner)
        else:
            metrics = end_to_end(w, runner, setup_times)
        attempted = len(runner.ops)
        failed = sum(not o["ok"] for o in runner.ops)
        report = {
            "workload": w.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": CORES, "clients": 1,
            "spark_conf": {k: v for k, v in spark_conf(run_dir).items()
                           if not k.startswith(("spark.local", "spark.sql.w",
                                                "spark.driver.extra"))},
            "flush_policy": "engine default: metadata and entrypoint files "
                            "fsync'd on every commit; data files not",
            "sizes": w.sizes, "setup_times_s": setup_times, "phases": phases,
            "ops": op_summary([o for o in runner.ops if o["round"] >= -1]),
            "failed_op_ratio": failed / attempted, "host_probes": probes,
            "metrics": metrics,
        }
        out_dir = os.path.join(WORK_ROOT, "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{w.name}-s{args.seed}-t{args.trace}"
        with open(os.path.join(out_dir, stem + ".json"), "w",
                  encoding="utf-8") as f:
            json.dump(dict(report, op_log=runner.ops), f, indent=1)
        if tracer is not None:
            tracer.dump(os.path.join(out_dir, stem + ".trace.json"))
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"perfbench_report": report}))
    result_metrics = {k: {"value": v["value"], "unit": v["unit"]}
                      for k, v in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result_metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
