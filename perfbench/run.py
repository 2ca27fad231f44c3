"""Benchmark entry point.

    python3 perfbench/run.py --workload claims_bi --seed 1 --seconds 20 --trace 0

Run from the repository root. One run is one process: it starts a
pinned local Spark session, stages the workload's seeded inputs under
a fresh run directory, runs one untimed warm-up pass, then measures the
workload's fixed number of passes of its op mix, so every run takes the
same samples. ``--seconds`` is the measuring budget those passes are
sized for on a 4-core host; past ``CAP_FACTOR`` times it no further pass
starts (the record then shows fewer passes measured than planned).
Every op's result is checked against an independent oracle outside the
op's timer. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the per-layer ones (see ``perfbench/README.md``). The
full run record — run context, every op, and with tracing every span —
is written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import workloads as wl  # noqa: E402
from layers import (  # noqa: E402
    LakeScan, SparkProbe, Tracer, catalyst_phases, filesystem_of, lake_bytes,
    peak_rss_mb, persistent_rdds, release_caches, versions_retained,
)

END_TO_END_UNITS = {
    "setup_s": "s", "read_p50_s": "s", "read_p90_s": "s", "write_p50_s": "s",
    "ops_per_min": "1/min", "space_amp": "ratio", "peak_rss_mb": "MB",
    "op_success_ratio": "ratio",
}

# per-layer time metric -> span name recorded around that layer
LAYER_SPANS = {
    "queries.build_s": "queries.build",
    "queries.fetch_s": "queries.fetch",
    "sources.append_s": "sources.append",
    "sources.merge_s": "sources.merge",
    "sources.overwrite_s": "sources.overwrite",
    "sources.delete_s": "sources.delete",
    "sources.read_s": "sources.read",
    "pipeline.bronze_s": "pipeline.bronze",
    "pipeline.silver_s": "pipeline.silver",
    "pipeline.gold_s": "pipeline.gold",
    "serving_index.apply_lexical_s": "serving_index.apply_lexical",
    "serving_index.apply_positional_s": "serving_index.apply_positional",
    "serving_index.apply_lsh_s": "serving_index.apply_lsh",
    "serving_index.apply_ivf_s": "serving_index.apply_ivf",
    "serving_index.probe_s": "serving_index.probe",
    "governance.forget_s": "governance.forget",
    "maintenance.pass_s": "maintenance.pass",
}
STORE_METHODS = ("append", "merge", "overwrite", "delete", "read")
INDEX_TABLES = wl.INDEX_TABLES

PER_LAYER_UNITS = {
    **{m: "s" for m in LAYER_SPANS},
    **{f"sources.calls_per_op.{m}": "count" for m in STORE_METHODS},
    "sources.bytes_written_per_input_byte": "ratio",
    "sources.files_written_per_op": "count",
    "sources.hardlinked_files_per_op": "count",
    "sources.versions_retained": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.failed_tasks": "count",
    "pipeline.rows_out.bronze": "count",
    "pipeline.rows_out.silver": "count",
    "pipeline.rows_out.gold": "count",
    "maintenance.fired": "count",
    **{f"maintenance.files_before.{t}": "count" for t in INDEX_TABLES},
    **{f"maintenance.files_after.{t}": "count" for t in INDEX_TABLES},
    "caching.persistent_rdds_after_op": "count",
    "trace.leaf_share_p50": "ratio",
    "trace.leaf_share_min": "ratio",
}

# the measured loop stops early only past this multiple of --seconds
CAP_FACTOR = 3


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "fabric_claims_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return None


def start_spark(run_dir: Path, trace: bool):
    """The pinned session: local[nproc], nproc shuffle partitions,
    fixed driver heap and young generation, every scratch path inside
    the run directory, the UI (and its REST API) only for traced runs."""
    from fabric_claims_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    tmp.mkdir()
    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            # a fixed young generation: the JVM's resident size then
            # follows retained data, not G1's adaptive eden sizing
            # (which moved peak RSS by a fifth between runs)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xmn512m",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main() -> int:
    t_start = time.perf_counter() - _process_age()  # process start, on this clock
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, for the benchmark's own tests")
    args = ap.parse_args()

    if not (ROOT / "fabric_claims_spark" / "__init__.py").is_file():
        print(f"perfbench: no fabric_claims_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)

    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{os.getpid():08d}"
    out_dir = ROOT / ".perfbench_out"
    wl.remove_tree(str(run_dir))
    run_dir.mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    # every scratch file of the run stays under the run directory
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    import tempfile
    tempfile.tempdir = str(run_dir / "tmp")

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": trace, "size": args.size,
        "nproc": len(os.sched_getaffinity(0)), "loadavg_before": os.getloadavg(),
        "commit": _commit(), "source_digest": _source_digest(),
        "lake_filesystem": filesystem_of(str(run_dir)),
        "flush_policy": "page cache only (TableStore never fsyncs; commits swap pointers with os.replace)",
        "python": sys.version.split()[0],
    }
    spark = None
    try:
        t = time.perf_counter()
        import pyspark
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        from fabric_claims_spark.sources.merge import TableStore
        context["pyspark"] = pyspark.__version__
        phases = {"import_s": time.perf_counter() - t}

        t = time.perf_counter()
        spark = start_spark(run_dir, trace)
        spark.sparkContext.setLogLevel("ERROR")
        phases["session_s"] = time.perf_counter() - t

        tracer = Tracer(trace)
        workload = wl.WORKLOADS[args.workload](spark, tracer, args.seed, args.size == "smoke")
        t = time.perf_counter()
        staged = workload.stage(str(run_dir / "stage"))
        phases["stage_s"] = time.perf_counter() - t
        context["input_rows"], context["input_bytes"] = staged.rows, staged.bytes
        workload.prepare()

        if trace:
            for m in STORE_METHODS:
                tracer.wrap(TableStore, m, f"sources.{m}")
            tracer.time_driver_calls(spark.sparkContext._gateway._gateway_client)
            for m in ("collect", "_collect_as_arrow"):
                tracer.wrap(ClassicDataFrame, m, "spark.collect")
        t = time.perf_counter()
        warm = []
        for op in workload.warmup_ops():
            t_op = time.perf_counter()
            op.run()
            release_caches(spark)
            warm.append((op.name, time.perf_counter() - t_op))
        phases["warmup_s"] = time.perf_counter() - t
        phases["warmup_ops"] = warm
        setup_s = time.perf_counter() - t_start

        probe = SparkProbe(spark) if trace else None
        scan = LakeScan(workload.lake) if trace else None
        if scan:
            scan.step()
        ops: list[dict] = []
        passes = workload.measured_passes
        t_loop = time.perf_counter()
        for n_pass, pass_ops in enumerate(itertools.islice(workload.passes(), passes)):
            if time.perf_counter() - t_loop > CAP_FACTOR * args.seconds:
                passes = n_pass  # a host far slower than the budget: stop, and say so
                break
            for op in pass_ops:
                op_id = f"op{len(ops):05d}"
                tracer.op_id = op_id
                if probe:
                    probe.begin(op_id)
                rec = {"id": op_id, "name": op.name, "kind": op.kind}
                t0 = time.perf_counter()
                try:
                    with tracer.span("op"):
                        result = op.run()
                    rec["wall_s"] = time.perf_counter() - t0
                    # the check's own Spark jobs and TableStore calls are
                    # not the op's
                    tracer.op_id = None
                    if probe:
                        probe.begin("check")
                    rec["ok"] = bool(op.check(result))
                    rec["check_s"] = time.perf_counter() - t0 - rec["wall_s"]
                except Exception:
                    rec.setdefault("wall_s", time.perf_counter() - t0)
                    rec["ok"] = False
                    rec["error"] = traceback.format_exc(limit=5)
                    print(f"perfbench: op {op.name} failed:\n{rec['error']}", file=sys.stderr)
                    result = None
                tracer.op_id = None
                if trace:
                    rec["spark"] = probe.collect(op_id)
                    rec["lake"] = scan.step()
                    rec["persistent_rdds"] = persistent_rdds(spark)
                    rec["layer_s"], rec["layer_calls"] = tracer.op_layers(op_id)
                    if op.frame and result is not None:
                        rec["catalyst_ms"] = catalyst_phases(op.frame(result))
                    rec["leaf_share"] = tracer.leaf_share(op_id, rec["spark"]["job_intervals"])
                    if op.counts and result is not None:
                        rec["counts"] = op.counts(result)
                release_caches(spark)
                ops.append(rec)
        tracer.op_id = None
        phases["loop_wall_s"] = time.perf_counter() - t_loop
        phases["passes_measured"] = passes
        phases["passes_planned"] = workload.measured_passes

        self_test = workload.corrupt_check()
        metrics_all = end_to_end(ops, setup_s, workload, spark)
        record = {
            "context": {**context, "loadavg_after": os.getloadavg()},
            "setup": {**phases, "setup_s": setup_s},
            "self_test_rejects_corrupted_expectation": self_test,
            "end_to_end": metrics_all,
            "ops": ops,
        }
        if trace:
            layer = per_layer(ops, workload)
            record["per_layer"] = layer
            record["spans"] = tracer.dump()
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": metrics_all[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        record["metrics"] = metrics
        failed = sum(1 for r in ops if not r["ok"])
        result = {
            "correct": failed == 0 and self_test and len(ops) > 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": metrics,
        }
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        (out_dir / name).write_text(json.dumps(record, indent=1, default=str))
    finally:
        if spark is not None:
            stop_spark(spark)
        wl.remove_tree(str(run_dir))
    print(json.dumps({"context": record["context"], "setup": record["setup"]}, default=str))
    print(json.dumps(result), flush=True)
    return 0


def end_to_end(ops, setup_s, workload, spark) -> dict[str, float]:
    reads = [r["wall_s"] for r in ops if r["kind"] == "read"]
    writes = [r["wall_s"] for r in ops if r["kind"] == "write"]
    busy = sum(r["wall_s"] for r in ops)
    return {
        "setup_s": setup_s,
        "read_p50_s": _median(reads),
        "read_p90_s": _p90(reads),
        "write_p50_s": _median(writes),
        "ops_per_min": 60.0 * len(ops) / busy if busy else 0.0,
        "space_amp": lake_bytes(workload.lake) / workload.delivered_bytes,
        "peak_rss_mb": peak_rss_mb(spark.sparkContext._gateway.proc.pid),
        "op_success_ratio": sum(1 for r in ops if r["ok"]) / len(ops) if ops else 0.0,
        "read_samples": len(reads),
        "write_samples": len(writes),
    }


def per_layer(ops, workload) -> dict[str, float]:
    n = len(ops) or 1
    out: dict[str, float] = {}
    for metric, span in LAYER_SPANS.items():
        out[metric] = _median([r["layer_s"][span] for r in ops if span in r["layer_s"]])
    for m in STORE_METHODS:
        out[f"sources.calls_per_op.{m}"] = sum(
            r["layer_calls"].get(f"sources.{m}", 0) for r in ops) / n
    lake = [r["lake"] for r in ops]
    out["sources.bytes_written_per_input_byte"] = (
        sum(x["bytes_written"] for x in lake) / workload.delivered_bytes)
    out["sources.files_written_per_op"] = sum(x["files_written"] for x in lake) / n
    out["sources.hardlinked_files_per_op"] = sum(x["hardlinked_files"] for x in lake) / n
    out["sources.versions_retained"] = float(versions_retained(workload.lake))
    sp = [r["spark"] for r in ops]
    out["spark.jobs_per_op"] = sum(s["jobs"] for s in sp) / n
    out["spark.stages_per_op"] = sum(s["stages"] for s in sp) / n
    out["spark.tasks_per_op"] = sum(s["tasks"] for s in sp) / n
    for ph in ("analysis", "optimization", "planning"):
        out[f"spark.{ph}_ms"] = _median([r["catalyst_ms"][ph] for r in ops if "catalyst_ms" in r])
    out["spark.job_busy_s"] = _median([s["job_busy_s"] for s in sp])
    out["spark.driver_gap_s"] = _median([
        r["wall_s"] - r["spark"]["job_busy_s"] - r["layer_s"].get("queries.build", 0.0) for r in ops])
    out["spark.shuffle_write_bytes_per_op"] = sum(s["shuffle_write_bytes"] for s in sp) / n
    out["spark.spill_bytes_per_op"] = sum(s["spill_bytes"] for s in sp) / n
    out["spark.failed_tasks"] = float(sum(s["failed_tasks"] for s in sp))
    counts = [r["counts"] for r in ops if "counts" in r]
    for key in ("pipeline.rows_out.bronze", "pipeline.rows_out.silver", "pipeline.rows_out.gold"):
        out[key] = float(_median([c[key] for c in counts if key in c]))
    maint = [c for c in counts if "maintenance.fired" in c]
    out["maintenance.fired"] = float(_median([c["maintenance.fired"] for c in maint]))
    last = maint[-1] if maint else {}
    for t in INDEX_TABLES:
        for side in ("before", "after"):
            out[f"maintenance.files_{side}.{t}"] = float(last.get(f"maintenance.files_{side}.{t}", 0))
    out["caching.persistent_rdds_after_op"] = float(max((r["persistent_rdds"] for r in ops), default=0))
    shares = [r["leaf_share"] for r in ops]
    out["trace.leaf_share_p50"] = _median(shares)
    out["trace.leaf_share_min"] = min(shares, default=0.0)
    return out


if __name__ == "__main__":
    sys.exit(main())
