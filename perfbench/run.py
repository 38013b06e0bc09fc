"""Zarr-engine benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload bulk_scan --seed 1 --seconds 20 --trace 0

Workloads (see README.md): ``bulk_scan``, ``selective_queries``,
``ingest_append``. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of the traced run with
``--trace 1``. The line before it holds the per-op-kind breakdown
(``{"detail": ...}``). Run from the repository root; all files the run
makes go under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (reports and span dumps).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _ms(seconds: float) -> float:
    return seconds * 1000.0


def end_to_end(runner, setup: dict, samples) -> tuple[dict, dict]:
    """(contract metrics, per-op-kind detail) from untraced samples."""
    from workloads import tail

    lat = [s.latency_s for s in samples]
    busy = sum(lat)
    tail_s, tail_pct = tail(lat)
    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "peak_rss_mb": (setup["peak_rss_mb"], "MB"),
        "op_p50_ms": (_ms(statistics.median(lat)), "ms"),
        "op_tail_ms": (_ms(tail_s), "ms"),
        "ops_per_s": (len(lat) / busy, "1/s"),
    }
    cells_per_s = sum(s.cells for s in samples) / busy
    detail = {
        "op_samples": len(lat),
        "op_tail_percentile": tail_pct,
        **{k: setup[k] for k in ("session_s", "build_s", "warmup_s")},
        **{f"rss.{k}": v for k, v in setup["rss"].items()},
    }

    def kind(k):
        return [s.latency_s for s in samples if s.kind == k]

    if runner.name == "bulk_scan":
        detail |= {
            "scan_p50_ms": metrics["op_p50_ms"][0],
            "scan_tail_ms": metrics["op_tail_ms"][0],
            "scan_cells_per_s": cells_per_s,
        }
    elif runner.name == "selective_queries":
        detail |= {f"{k}_p50_ms": _ms(statistics.median(kind(k))) for k in ("box", "pushdown", "point") if kind(k)}
        detail |= {
            "query_tail_ms": metrics["op_tail_ms"][0],
            "queries_per_s": metrics["ops_per_s"][0],
            "selected_cells_per_s": cells_per_s,
        }
        detail |= {f"{k}_samples": len(kind(k)) for k in ("box", "pushdown", "point")}
    else:
        append = [s.parts["append"] for s in samples]
        readback = [s.parts["readback"] for s in samples]
        a_tail, a_pct = tail(append)
        detail |= {
            "append_p50_ms": _ms(statistics.median(append)),
            "append_tail_ms": _ms(a_tail),
            "append_tail_percentile": a_pct,
            "readback_p50_ms": _ms(statistics.median(readback)),
            "append_cells_per_s": cells_per_s,
        }
    return metrics, detail


def per_layer(runner) -> tuple[dict, dict]:
    """(contract metrics, workload-specific layer metrics) of a traced run."""
    t = runner.tracer
    c = t.counts
    ops = max(c["ops"], 1)

    def per_op_ms(seconds):
        return _ms(seconds) / ops

    def ratio(a, b):
        return c[a] / c[b] if c[b] else 0.0

    metrics = {
        "session.start_ms": (_ms(t.total_s("session.start")), "ms"),
        "zarr_format.write_group_ms": (_ms(t.total_s("zarr_format.write_group")), "ms"),
        "zarr_format.chunks_decoded": (c["zarr_format.chunks_decoded"] / ops, "count"),
        "zarr_format.decode_ms": (per_op_ms(t.self_time_s("zarr_format.read_chunk", under="replay")), "ms"),
        "zarr_format.bytes_fetched": (c["zarr_format.bytes_fetched"] / ops, "B"),
        "zarr_format.chunk_useful_ratio": (ratio("zarr_format.chunks_useful", "zarr_format.chunks_decoded"), "ratio"),
        "zarr_store.open_ms": (per_op_ms(t.total_s("zarr_store.open")), "ms"),
        "coordinates.expand_ms": (per_op_ms(t.total_s("coordinates.expand")), "ms"),
        "zarr_reader.plan_ms": (per_op_ms(t.total_s("zarr_reader.plan")), "ms"),
        "zarr_reader.partitions": (c["zarr_reader.partitions"] / ops, "count"),
        "zarr_reader.arrow_ms": (per_op_ms(t.self_time_s("zarr_reader.window_to_arrow")), "ms"),
        "zarr_reader.rows_per_result": (ratio("zarr_reader.rows", "zarr_reader.rows_kept"), "ratio"),
        "spark.action_ms": (per_op_ms(t.total_s("spark.action")), "ms"),
        "spark.tasks": (c["spark.tasks"] / ops, "count"),
        "spark.residual_ms": (per_op_ms(c["spark.residual_s"]), "ms"),
        "trace.overhead_pct": (tracing_overhead_pct(runner.samples), "%"),
    }
    detail = {
        "traced_ops": c["ops"],
        "self_ms_per_op": {
            name: per_op_ms(t.self_time_s(name))
            for name in sorted({sp[0] for sp in t.spans if sp[4] is not None})
        },
    }
    if runner.name == "selective_queries":
        n_push = max(c["ops.pushdown"], 1)
        detail |= {
            "coordinates.resolve_ms": _ms(t.total_s("coordinates.resolve")) / max(c["ops.box"], 1),
            "zarr_datasource.pushdown_plan_ms": _ms(t.total_s("zarr_datasource.pushdown_plan")) / n_push,
            "zarr_datasource.partitions": c["zarr_datasource.partitions"] / n_push,
            "zarr_datasource.filters_returned": c["zarr_datasource.filters_returned"] / n_push,
        }
        for k in ("box", "pushdown", "point"):
            detail[f"zarr_format.chunk_useful_ratio.{k}"] = ratio(
                f"zarr_format.chunks_useful.{k}", f"zarr_format.chunks_decoded.{k}"
            )
            detail[f"ops.{k}"] = c[f"ops.{k}"]
    elif runner.name == "ingest_append":
        detail |= {
            "zarr_write.append_ms": per_op_ms(t.total_s("zarr_write.append")),
            "zarr_write.chunks_written": c["zarr_write.chunks_written"] / ops,
            "zarr_write.bytes_written": c["zarr_write.bytes_written"] / ops,
            "zarr_write.write_amplification": ratio("zarr_write.bytes_written", "zarr_write.user_bytes"),
        }
    return metrics, detail


def tracing_overhead_pct(samples) -> float:
    """Mean slowdown of traced ops against the untraced median of the same
    kind, in percent."""
    base = {}
    for k in {s.kind for s in samples}:
        xs = [s.latency_s for s in samples if s.kind == k and not s.traced]
        if xs:
            base[k] = statistics.median(xs)
    ratios = [s.latency_s / base[s.kind] for s in samples if s.traced and s.kind in base]
    return 100.0 * (statistics.fmean(ratios) - 1.0) if ratios else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("cae_polars_tools_spark") is None:
        print(f"engine package cae_polars_tools_spark not found under {ROOT}", file=sys.stderr)
        return 2

    from workloads import WORKLOADS, Runner

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Spark's Python workers import the engine from the checkout, and every
    # scratch file of the JVM and of Python goes under the work directory.
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = tmp

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
    runner = Runner(args.workload, args.seed, args.seconds, work, tracer)
    setup = runner.run()

    timed = [s for s in runner.samples if not s.traced]
    if not timed:  # no op succeeded: nothing to measure
        metrics, detail = {}, {}
    elif args.trace:
        metrics, detail = per_layer(runner)
    else:
        metrics, detail = end_to_end(runner, setup, timed)
    detail |= {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": runner.nproc,
        "failed_share": runner.failed / max(runner.attempted, 1),
    }
    if runner.failures:
        detail["failures"] = runner.failures

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if tracer is not None:
        tracer.dump(os.path.join(out_dir, f"spans-{tag}.json"))
    result = {
        "correct": runner.failed == 0 and bool(timed),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    samples = [{"kind": s.kind, "ms": _ms(s.latency_s), "traced": s.traced, **s.parts} for s in runner.samples]
    with open(os.path.join(out_dir, f"report-{tag}.json"), "w") as f:
        json.dump({"detail": detail, **result, "samples": samples}, f, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if timed else 1


if __name__ == "__main__":
    sys.exit(main())
