"""Benchmark entry point.

    python3 perfbench/run.py --workload chat --seed 1 --seconds 5 --trace 0

runs one workload in this process and prints two JSON lines on stdout: a
report with the workload's own named metrics, then the result line
(``correct``, ``attempted``, ``failed``, ``metrics``). With ``--trace 0``
the result holds the end-to-end metrics; with ``--trace 1`` it holds the
per-layer metrics, and the spans are written to
``perfbench/.out/trace-<workload>-<sf>-seed<n>.json``.

``--workload all`` runs chat, ingest and catalog, each in a fresh process,
and prints every workload's metrics. ``--smoke`` runs on the sf0.001 tables
with one set-up build. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import harness  # noqa: E402

sys.path.insert(0, harness.REPO_ROOT)
from __spark_entry__ import SF0001  # noqa: E402

DATA_ROOT = os.path.dirname(SF0001)  # the repository's sf0.001/, sf0.01/, sf0.1/ tables
WORKLOAD_NAMES = ("chat", "ingest", "catalog")
OUT_DIR = os.path.join(BENCH_DIR, ".out")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="sf0.001 tables")
    p.add_argument(
        "--data-root",
        default=DATA_ROOT,
        help=f"directory holding sf0.1/ and sf0.001/ (read only; default {DATA_ROOT})",
    )
    # set on the copy of this command that runs under the supervising process
    p.add_argument("--supervised", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def result_metrics(out, trace: bool) -> dict:
    """The result line's metrics: end-to-end untraced, per-layer traced."""
    if not trace:
        window = sum(out.op_s)
        return {
            "setup_s": metric(out.setup_s, "s"),
            "op_p50_s": metric(harness.median(out.op_s), "s"),
            "items_per_s": metric(out.items / window if window else 0.0, "1/s"),
        }
    m = {
        "session.get_spark_s": metric(out.get_spark_s, "s"),
        "setup.build_s": metric(out.build_s, "s"),
    }
    for name, (value, unit) in out.layers.items():
        if name.startswith("spark."):
            m[name] = metric(value, unit)
    m["spark.storage_mb"] = metric(out.storage[0], "MB")
    m["spark.blocks_retained"] = metric(out.storage[1], "count")
    return m


def run_one(args: argparse.Namespace) -> int:
    sf = "sf0.001" if args.smoke else "sf0.1"
    sf_dir = os.path.join(args.data_root, sf)
    if not os.path.isfile(os.path.join(sf_dir, "documents.parquet")):
        print(f"perfbench: no input tables under {sf_dir}", file=sys.stderr)
        return 2
    work_dir = harness.work_dir(os.getpid())
    harness.prepare_process(work_dir)
    steal0 = harness.cpu_steal()
    spark = None
    try:
        import workloads  # noqa: E402  (imports the engine package lazily)

        cfg = workloads.Config(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            sf_dir=sf_dir,
            work_dir=work_dir,
            smoke=args.smoke,
            setup_reps=1 if args.smoke else 3,
        )
        spark, get_spark_s = harness.start_session(work_dir, cfg.trace)
        ctx = workloads.Context(cfg, spark, get_spark_s)
        out = workloads.WORKLOADS[args.workload](ctx)
        if ctx.tracer.enabled:
            ctx.tracer.resolve(ctx.tracer.spans)
        for f in out.failures[:20]:
            ctx.log(f"FAILED {f}")
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    steal = harness.cpu_steal_share(steal0, harness.cpu_steal())

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": out.attempted,
        "failed": out.failed,
        "inputs": out.inputs,
        # share of this VM's CPU time the host took for others during the
        # run; a high value explains a slow run
        "cpu_steal_share": steal,
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in out.report.items()},
    }
    if args.trace:
        report["layers"] = {k: metric(v, u) for k, (v, u) in out.layers.items()}
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": result_metrics(out, bool(args.trace)),
    }
    _save(args, report, result, out, ctx.tracer)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


def _save(args, report: dict, result: dict, out, tracer) -> None:
    """Keep this run's figures; a traced run also writes its spans, the
    per-layer self time and its overhead against the last untraced run of
    the same workload and seed."""
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = f"{args.workload}-{'sf0.001' if args.smoke else 'sf0.1'}-seed{args.seed}"
    with open(os.path.join(OUT_DIR, f"result-{stem}-trace{args.trace}.json"), "w") as f:
        json.dump({"report": report, "result": result, "op_s": out.op_s}, f, indent=1)
    if not args.trace:
        return
    traced = {k: v["value"] for k, v in report["metrics"].items()}
    overhead = {}
    try:
        with open(os.path.join(OUT_DIR, f"result-{stem}-trace0.json")) as f:
            plain = {k: v["value"] for k, v in json.load(f)["report"]["metrics"].items()}
        overhead = {k: traced[k] - plain[k] for k in traced if k in plain}
    except (OSError, ValueError, KeyError):
        pass
    tracer.write(
        os.path.join(OUT_DIR, f"trace-{stem}.json"),
        {
            "workload": args.workload,
            "seed": args.seed,
            "traced_metrics": traced,
            "overhead_vs_untraced": overhead or "no untraced result for this workload and seed",
            "layers": report["layers"],
        },
    )


def run_all(args: argparse.Namespace) -> int:
    """Each workload in a fresh process; prints every workload's named
    metrics, then one result line over all of them."""
    metrics, attempted, failed, correct = {}, 0, 0, True
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--data-root", args.data_root]
        if args.smoke:
            cmd.append("--smoke")
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"perfbench: workload {w} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        report = json.loads(lines[-2])["report"]
        result = json.loads(lines[-1])
        print(f"{w}: ops={report['ops']} failed={report['failed']} ({time.perf_counter() - t0:.1f} s)")
        for name, m in report["metrics"].items():
            print(f"  {w}/{name} = {m['value']:.6g} {m['unit']} (n={m['samples']})")
            metrics[f"{w}.{name}"] = {"value": m["value"], "unit": m["unit"]}
        for name, m in report.get("layers", {}).items():
            print(f"  {w}/{name} = {m['value']:.6g} {m['unit']}")
        metrics[f"{w}.ops"] = metric(report["ops"], "count")
        metrics[f"{w}.failed"] = metric(report["failed"], "count")
        attempted += result["attempted"]
        failed += result["failed"]
        correct = correct and result["correct"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not args.supervised:
        # the JVM and its Python workers can outlive the run process; the
        # supervising process stops and waits for them on every path out
        return harness.run_supervised([sys.executable, os.path.abspath(__file__), *argv, "--supervised"])
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
