"""Benchmark entry point.

Usage (from the repository root)::

    python3 perfbench/run.py --workload clinical_pipeline --seed 1 --seconds 10 --trace 0

One process per run, one local Spark session at ``local[<cores>]``:

1. set-up: session start, seeded input generation (repeated
   ``GEN_REPS`` times; the median counts), one untimed warm pass that
   also collects every op's output;
2. timed passes over every op (noop sink, caches released between ops):
   at least one, and more while they fit in ``--seconds``;
3. with ``--trace 1``, one more pass with per-layer spans;
4. untimed output checks, shutdown, and the result as the last line.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the full record (passes, op times, load/steal stamps, spans) is written to
``.perfbench_out/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "azure_medicine_data_engineering_spark"
GEN_REPS = 3

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["clinical_pipeline", "lineitem_analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


class Runner:
    def __init__(self, args, t_process_start: float):
        import sysstats

        self.args = args
        self.t_process_start = t_process_start
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
        self.work = os.path.join(ROOT, ".perfbench_work", self.run_id)
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.record: dict = {
            "run_id": self.run_id, "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "cores": self.cores,
            "stamp_start": sysstats.stamp(),
        }

    # -- session -------------------------------------------------------------

    def start_session(self):
        from azure_medicine_data_engineering_spark.session import get_spark
        from spans import clear_job_group, job_counts

        for d in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        # no hsperfdata files in /tmp from the launcher or the driver JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        conf = {
            "spark.sql.shuffle.partitions": str(self.cores),
            "spark.ui.enabled": "false",
            # bench.py's split sizing for tens-of-MB test files
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.sql.files.openCostInBytes": "65536",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        t0 = time.monotonic()
        spark = get_spark("perfbench", master=f"local[{self.cores}]", conf=conf)
        t1 = time.monotonic()
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        # the session's product is forced by its first (empty) job, run
        # under the session span's own job group
        group = f"{self.run_id}-session"
        sc.setJobGroup(group, "get_spark")
        spark.range(1).write.format("noop").mode("overwrite").save()
        t2 = time.monotonic()
        clear_job_group(sc)
        self.session_span = {
            "run_id": self.run_id, "span_id": None, "parent_id": None, "name": "get_spark",
            "layer": "session", "group": group, "start": t0, "end": t2,
            "build_s": t1 - t0, "exec_s": t2 - t1, "child_s": 0.0,
            # counted now: later passes can push these jobs out of the tracker
            **job_counts(sc, group),
        }
        self.gateway_proc = spark.sparkContext._gateway.proc
        return spark

    def stop_session(self, spark, sampler) -> None:
        """Stop Spark, then wait for the JVM and every worker to end."""
        import sysstats

        spark.stop()
        proc = self.gateway_proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        sampler.close()
        deadline = time.monotonic() + 60
        others = sampler.pids - {os.getpid()}
        while any(sysstats.alive(p) for p in others) and time.monotonic() < deadline:
            time.sleep(0.2)

    # -- passes --------------------------------------------------------------

    def run_pass(self, ctx, wl, ops, tag: str, collect: bool = False):
        """One pass over ``ops``; returns ({op: seconds}, {op: output}).
        Traced, the ops run under one root span (its id in ``self.root_id``)."""
        from contextlib import nullcontext

        from workloads import run_op

        times, outputs = {}, {}
        wl.before_pass(ctx.spark, tag)
        tracer = ctx.tracer
        with tracer.span("traced_pass", None) if tracer else nullcontext() as root:
            if tracer:
                self.root_id = root["span_id"]
            for name, layer, fn in ops:
                self.attempted += 1
                try:
                    times[name], outputs[name] = run_op(ctx, name, layer, fn, collect)
                except Exception:
                    self.failed += 1
                    self.errors.append(f"{tag}/{name}: {traceback.format_exc(limit=3)}")
        self.pass_bytes = wl.published_bytes(tag)
        t0 = time.monotonic()
        self.errors += [f"{tag}: {e}" for e in wl.after_pass(ctx.spark, tag)]
        self.after_pass_s = time.monotonic() - t0
        return times, outputs

    def order(self, ops, rng, permute: bool):
        return [ops[i] for i in rng.permutation(len(ops))] if permute else list(ops)

    def main(self) -> tuple[dict, dict]:
        """Run every phase; returns (end-to-end metrics, per-layer metrics)."""
        import numpy as np

        import sysstats
        import workloads
        from spans import Tracer, layer_metrics

        args = self.args
        sampler = sysstats.PssSampler()
        spark = self.start_session()
        try:
            wl = workloads.make(args.workload, self.work, os.path.join(ROOT, ".perfbench_cache"))
            gen_s = []
            for _ in range(GEN_REPS):
                t0 = time.monotonic()
                wl.generate(os.path.join(self.work, "inputs"), args.seed)
                gen_s.append(time.monotonic() - t0)
            ops = wl.ops()
            rng = np.random.default_rng(args.seed)
            ctx = workloads.Ctx(spark)

            t_warm = time.monotonic()
            warm_times, outputs = self.run_pass(
                ctx, wl, self.order(ops, rng, wl.permute), "warm", collect=True)
            # start the timed passes from a collected heap
            spark.sparkContext._jvm.System.gc()
            t_first = time.monotonic()
            # the warm pass's output checks are not set-up work
            setup_s = (t_first - self.t_process_start - self.after_pass_s
                       - sum(gen_s) + statistics.median(gen_s))

            passes = []
            sampler.start_window()
            t_timed = time.monotonic()
            # whole passes only: another one runs if it should end in time
            while not passes or (time.monotonic() - t_timed
                                 + statistics.median(sum(p.values()) for p in passes) <= args.seconds):
                times, _ = self.run_pass(ctx, wl, self.order(ops, rng, wl.permute), f"p{len(passes)}")
                passes.append(times)
            sampler.end_window()
            timed_s = time.monotonic() - t_timed

            layers = {}
            if args.trace:
                tracer = Tracer(spark, self.run_id)
                tracer.spans.append(self.session_span)
                ctx_t = workloads.Ctx(spark, tracer)
                self.run_pass(ctx_t, wl, self.order(ops, rng, wl.permute), "traced")
                tracer.collect_status()
                files, nbytes = self.pass_bytes

            t0 = time.monotonic()
            self.errors += wl.check(outputs)
            self.record["check_s"] = time.monotonic() - t0
        finally:
            t0 = time.monotonic()
            self.stop_session(spark, sampler)
            self.record["stop_s"] = time.monotonic() - t0

        pass_walls = [sum(p.values()) for p in passes]
        op_samples = [t for p in passes for t in p.values()]
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(pass_walls),
            "peak_pss_mb": sampler.peak_kb / 1024,
        }
        if args.trace:
            tracer.attach_event_log(os.path.join(self.work, "eventlog"))
            layers = layer_metrics(tracer.spans, self.root_id)
            layers["sources.write.files"] = files
            layers["sources.write.bytes"] = nbytes
            gated = [s for s in tracer.spans if "rows_in" in s]
            layers["cleaning.gate_keep_ratio"] = (
                sum(s["rows_out"] for s in gated) / sum(s["rows_in"] for s in gated) if gated else 0.0
            )
            layers["trace.untraced_wall_s"] = metrics["wall_s"]
            layers["trace.overhead_s"] = layers["trace.wall_s"] - metrics["wall_s"]

        self.record.update({
            "stamp_end": sysstats.stamp(),
            "setup": {
                "setup_s": setup_s, "session_s": self.session_span["build_s"],
                "session_first_job_s": self.session_span["exec_s"],
                "gen_s": gen_s, "warm_pass_s": t_first - t_warm, "warm_op_s": warm_times,
            },
            "timed_s": timed_s, "passes": passes, "pass_walls": pass_walls,
            # per-op latency repeats only within ~25 % from run to run, so it
            # stays in the record and out of the end-to-end metrics
            "op_p50_s": statistics.median(op_samples), "op_samples": len(op_samples),
            "pss_samples": sampler.samples,
            "pss_peak_breakdown_kb": sampler.peak_breakdown,
            "metrics": metrics, "layers": layers, "errors": self.errors,
            "attempted": self.attempted, "failed": self.failed,
        })
        self.record["steal_pct"] = sysstats.steal_pct(self.record["stamp_start"], self.record["stamp_end"])
        if args.trace:
            # span times as seconds since process start
            self.record["spans"] = [
                {**sp, "start": sp["start"] - self.t_process_start, "end": sp["end"] - self.t_process_start}
                for sp in tracer.spans
            ]
        return metrics, layers

    def write_record(self) -> str:
        os.makedirs(self.out_dir, exist_ok=True)
        path = os.path.join(self.out_dir, f"{self.run_id}.json")
        with open(path, "w") as fh:
            json.dump(self.record, fh, indent=1, default=str)
        return path


def declared_metrics(trace: int) -> list[dict]:
    """The metrics ``BENCHMARK.json`` declares for this kind of run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)["per_layer" if trace else "end_to_end"]


def main(argv=None) -> int:
    import sysstats

    t_process_start = sysstats.process_start_monotonic()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_correctness.py")
    ):
        print(f"perfbench: {PACKAGE} sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    declared = declared_metrics(args.trace)
    runner = Runner(args, t_process_start)
    try:
        metrics, layers = runner.main()
    finally:
        shutil.rmtree(runner.work, ignore_errors=True)
    runner.record["run_s"] = time.monotonic() - t_process_start
    path = runner.write_record()
    chosen = layers if args.trace else metrics
    result = {
        "correct": runner.failed == 0 and not runner.errors,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": chosen[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }
    for e in runner.errors:
        print(e, file=sys.stderr)
    print(json.dumps({"record": os.path.relpath(path, ROOT), "steal_pct": runner.record["steal_pct"],
                      "passes": len(runner.record["passes"])}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
