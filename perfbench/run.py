"""End-to-end CDC benchmark: one workload per invocation.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 10 --trace 0

``--trace 0`` prints every end-to-end metric of BENCHMARK.json;
``--trace 1`` runs the same workload with spans and Spark's progress
listener on and prints every per-layer metric.  The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
The line before it holds the host facts and run details.  ``--smoke``
shrinks every input so a workload finishes in tens of seconds.

Exit codes: 0 correct run; 1 outputs did not match the reference, or
the workload failed; 2 the program under test is not in this checkout.
See perfbench/README.md.
"""

import time

T_START = time.monotonic()  # set-up time counts from here

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# runnable tasks per core in the 1-minute load average above which a
# run waits (at most 5 s) before starting
LOAD_GATE_PER_CORE = 2.0
WORKLOADS = {
    "cdc_tail": ("perfbench.cdc", "run_tail"),
    "corpus_admission": ("perfbench.corpus", "run_corpus"),
}


class Context:
    """What a workload gets: its seed and run length, a private work
    directory, the tracer, the environment for child processes, and a
    place to register what must be stopped at the end."""

    def __init__(self, args, work: str, tracer, env: dict):
        self.seed = args.seed
        self.seconds = args.seconds
        self.smoke = args.smoke
        self.work = work
        self.tracer = tracer
        self.env = env
        self.children = []
        self.spark = None
        self.setup_s = None
        self.setup_cpu_s = None
        self.phases = {}

    def phase(self, name: str) -> None:
        """Note that phase ``name`` ended now (seconds since start)."""
        self.phases[name] = time.monotonic() - T_START

    def mark_setup_done(self) -> None:
        from perfbench.common import cpu_seconds

        self.setup_s = time.monotonic() - T_START
        self.setup_cpu_s = cpu_seconds(exclude=tuple(c.pid for c in self.children))
        self.phases["setup"] = self.setup_s


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="timed phase length")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's tests")
    return p.parse_args(argv)


def _metric_table() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {"end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(REPO, "spark_binlog_spark")):
        print(f"perfbench: the program under test (spark_binlog_spark/) is not in {REPO}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench.common import (
        Tracer,
        cpu_times,
        loadavg,
        nproc,
        peak_rss_mb,
        steal_pct,
        stop_spark,
        versions,
        wait_for_quiet_host,
    )

    table = _metric_table()
    cpu_before = cpu_times()
    host = {"nproc": nproc(), "loadavg_before": loadavg(), "versions": versions(),
            "seed": args.seed, "workload": args.workload, "trace": args.trace,
            "seconds": args.seconds, "smoke": args.smoke,
            "gate": wait_for_quiet_host(LOAD_GATE_PER_CORE, 5.0)}
    out_dir = os.path.join(REPO, ".perfbench_out")
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # child processes (the JVM, its Python workers, the load generator)
    # import the program from this checkout and keep temp files in it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    ctx = Context(args, work, Tracer(bool(args.trace)), dict(os.environ))
    module, fn = WORKLOADS[args.workload]
    try:
        res = getattr(importlib.import_module(module), fn)(ctx)
        # before the session stops: the JVM and its workers still live
        peak_mb = peak_rss_mb(exclude=tuple(c.pid for c in ctx.children))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        for child in ctx.children:
            if child.poll() is None:
                child.kill()
            child.wait(timeout=30)
        shutil.rmtree(work, ignore_errors=True)
        ctx.phase("stopped")

    e2e = dict(res["metrics"], setup_s=ctx.setup_s, setup_cpu_s=ctx.setup_cpu_s,
               peak_rss_mb=peak_mb)
    layers = dict(res["layers"], **{f"chain.{k}": v for k, v in res["chain"].items()})
    stamp = f"{args.workload}_s{args.seed}_t{args.trace}"
    if args.trace:
        metrics = {n: float(layers.get(n, 0.0)) for n in table["per_layer"]}
        units = table["per_layer"]
        ctx.tracer.write(os.path.join(out_dir, stamp + "_spans.jsonl"))
    else:
        metrics = {n: float(e2e[n]) for n in table["end_to_end"]}
        units = table["end_to_end"]
    host["loadavg_after"] = loadavg()
    host["cpu_steal_pct"] = steal_pct(cpu_before, cpu_times())
    host["phases_s"] = ctx.phases
    correct = res["failed"] == 0
    detail = {"host": host, "checks": res["checks"], "detail": res["detail"],
              "end_to_end": e2e, "chain": res["chain"], "per_layer": layers}
    with open(os.path.join(out_dir, stamp + ".json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=float)
    print(json.dumps({"host": host, "checks": res["checks"], "end_to_end": e2e,
                      "chain": res["chain"], "detail": res["detail"]}, default=float))
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
