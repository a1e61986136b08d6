"""Seeded end-to-end benchmark of the engine, with a per-layer traced run.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload lake_etl --seed 1 --seconds 5 --trace 0

One closed-loop client in one driver process on ``local[$(nproc)]``. A
run generates (or reuses) the workload's inputs for ``--seed``, sets
Spark up once, then runs the workload's pass of ops, and runs it again
until ``--seconds`` have elapsed. The first pass runs cold, as a batch
job does when it is started. Every op's output is checked against
DuckDB after the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` makes the
same run with the Spark event log on and one job group per layer call,
and prints the per-layer metrics. Spans, the layer table and the per-op reconciliation
go to ``.perfbench_out/``. The last stdout line is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from probes import (  # noqa: E402
    RssSampler, adopt_orphans, cpu_times, end_descendants, host_probe_s,
    spark_storage, tree_cpu_s,
)
from layers import (  # noqa: E402
    LAYER_FIELDS, LAYERS, Recorder, attribute, call_metrics,
    layer_table, read_event_log, reconcile,
)

PACKAGE = "us_immigration_data_lake_spark"
# limit for the untraced child run a traced run may need (untraced_wall_s)
UNTRACED_TIMEOUT_S = 120
LAYER_UNITS = {"calls": "count", "jobs": "count", "tasks": "count", "failed_tasks": "count",
               "shuffle_bytes": "B", "python_bytes": "B"}


def process_start_time() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` percent of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, -(-len(s) * q // 100))
    return s[int(rank) - 1]


def p90_supported(n: int) -> bool:
    """The 90th percentile is reported only with ten samples above it."""
    return n - -(-n * 90 // 100) >= 10


def fail_count(outcomes: list[dict]) -> int:
    """Ops that raised, or whose output differs from the expected one."""
    return sum(1 for o in outcomes if o["error"] or not o["match"])


def stop_jvm(timeout: float = 30.0) -> None:
    """End Spark's JVM and wait for it. The JVM outlives ``spark.stop()``
    and ends by itself only after this process has exited, when its
    stdin closes; closing that pipe here ends it now."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may be gone already
        pass
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


class Runner:
    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool,
                 scale: int = 1):
        self.root = root
        self.workload_name = workload
        self.scale = scale
        # names this run's output files, so runs at another scale stay apart
        self.tag = workload if scale == 1 else f"{workload}-x{scale}"
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-seed{seed}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".perfbench_out")
        self.spark = None
        self.get_spark_s = 0.0

    # -- environment ------------------------------------------------------

    def configure_env(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        path = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = self.root + (os.pathsep + path if path else "")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        self.tmp = tmp

    def conf(self, event_log: str | None = None) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # JVM temporary files go to the work dir; no perf-counter file in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        return conf

    def setup(self, wl, event_log: str | None = None) -> None:
        """The session, the workload's registrations and one trivial job,
        so the session is known to run jobs."""
        from us_immigration_data_lake_spark.session import get_spark

        t0 = time.time()
        self.spark = wl.spark = get_spark(
            f"perfbench-{self.workload_name}",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf=self.conf(event_log),
        )
        self.get_spark_s = time.time() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        wl.prepare()
        self.spark.range(1).count()

    # -- passes -----------------------------------------------------------

    def run_ops(self, wl, ops) -> list[dict]:
        """Run ``ops`` in order; a raising op is recorded, not fatal."""
        outcomes = []
        for op in ops:
            error, observed = None, None
            with wl.rec.op(op.name) as span:
                try:
                    observed = op.fn()
                except Exception as exc:  # one failing op must not end the run
                    error = f"{type(exc).__name__}: {str(exc)[:300]}"
            span.attrs.update(spark_storage(wl.spark.sparkContext))
            outcomes.append({"span": span, "op": op, "observed": observed, "error": error})
        return outcomes

    def passes(self, wl, rec: Recorder) -> list[dict]:
        """Run whole passes until ``--seconds`` have elapsed; at least one."""
        wl.rec = rec
        deadline = time.time() + self.seconds
        outcomes: list[dict] = []
        while not outcomes or time.time() < deadline:
            outcomes += self.run_ops(wl, wl.pass_ops(rec.pass_idx))
            rec.pass_idx += 1
        # deferred observations (file listings, hashing) run outside
        # the timed region
        for o in outcomes:
            if callable(o["observed"]):
                try:
                    o["observed"] = o["observed"]()
                except Exception as exc:
                    o["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        return outcomes

    def check(self, wl, outcomes: list[dict]) -> None:
        expected: dict = {}
        for o in outcomes:
            key = o["op"].key
            if key not in expected:
                try:
                    expected[key] = wl.expected(key)
                except Exception as exc:
                    expected[key] = ("oracle error", f"{type(exc).__name__}: {exc}")
            o["expected"] = expected[key]
            o["match"] = o["error"] is None and o["observed"] == expected[key]

    # -- metrics ----------------------------------------------------------

    @staticmethod
    def pass_walls(spans) -> list[float]:
        """Wall time of each pass of op spans, first op start to last op
        end, in pass order."""
        by_pass: dict[int, list] = {}
        for s in spans:
            by_pass.setdefault(s.pass_idx, []).append(s)
        return [max(s.end for s in by_pass[p]) - min(s.start for s in by_pass[p])
                for p in sorted(by_pass)]

    def end_to_end(self, wl, outcomes, setup_s, peak_rss, cpu_s) -> tuple[dict, dict]:
        spans = [o["span"] for o in outcomes]
        lat = [s.wall for s in spans]
        m = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(self.pass_walls(spans)), "s"),
            # CPU the machine spent on the timed passes: unlike wall time,
            # it does not count time other guests held the CPUs
            "cpu_s": (cpu_s, "s"),
        }
        report = dict(m)
        # Reported, not bounded: between seeds on a shared 4-CPU machine
        # the median op (about 1 s) spread by a quarter, and JVM heap
        # growth, which follows GC timing, moved the peak by up to 2x.
        report["op_s.p50"] = (statistics.median(lat), "s")
        report["peak_rss_mb"] = (peak_rss / 2**20, "MB")
        report["fail_ratio"] = (fail_count(outcomes) / len(outcomes), "ratio")
        if p90_supported(len(lat)):
            report["op_s.p90"] = (percentile(lat, 90), "s")
        ratio = wl.out_bytes_per_in_byte()
        if ratio is not None:
            report["out_bytes_per_in_byte"] = (ratio, "ratio")
        report["ops"] = (len(lat), "count")
        report["passes"] = (len(self.pass_walls(spans)), "count")
        return m, report

    def per_layer(self, wl, rec: Recorder, log_dir: str, untraced_wall: float) -> tuple[dict, dict]:
        calls, ops = rec.calls(), rec.ops()
        # jobs of the set-ups precede the first call
        first = min(c.start for c in calls)
        jobs = {k: j for k, j in read_event_log(log_dir).items() if j.start >= first - 0.002}
        by_call, counts = attribute(jobs, calls)
        per_call = {c.id: call_metrics(c, by_call[c.id]) for c in calls}
        table = layer_table(calls, per_call)
        rec_rows = reconcile(ops, calls, per_call, jobs)
        m: dict[str, tuple] = {}
        for layer in LAYERS:
            for f in LAYER_FIELDS:
                m[f"{layer}.{f}"] = (table[layer][f], LAYER_UNITS.get(f, "s"))
        files, nbytes = wl.written_files()
        m["sources.files_written"] = (files, "count")
        m["sources.bytes_written"] = (nbytes, "B")
        m["sources.rows_written"] = (table["sources"]["rows_written"], "count")
        plans = [c for c in calls if c.name == "plans"]
        m["plans.build_s"] = (sum(c.wall for c in plans if c.part == "build"), "s")
        m["plans.action_s"] = (sum(c.wall for c in plans if c.part == "action"), "s")
        m["session.get_spark_s"] = (self.get_spark_s, "s")
        m["spark.storage_mb_end"] = (ops[-1].attrs["storage_mb"], "MB")
        m["spark.persisted_rdds_end"] = (ops[-1].attrs["persisted_rdds"], "count")
        m["spark.untagged_jobs"] = (counts["untagged"], "count")
        m["spark.unattributed_jobs"] = (counts["unattributed"], "count")
        m["reconcile.max_err"] = (max(max(r["err"], r["overrun"]) for r in rec_rows), "ratio")
        m["trace.overhead"] = (statistics.median(self.pass_walls(ops)) / untraced_wall, "ratio")
        detail = {
            "layers": table,
            "per_call": {str(k): v for k, v in per_call.items()},
            "reconcile": rec_rows,
            "attribution": counts,
        }
        return m, detail

    # -- main -------------------------------------------------------------

    def out_path(self, trace: bool) -> str:
        name = f"{self.tag}-seed{self.seed}-trace{int(trace)}.json"
        return os.path.join(self.out_dir, name)

    def untraced_wall_s(self) -> float:
        """``wall_s`` of untraced runs of this workload: the run of the same
        seed in the output directory, or else the median of the
        workload's untraced runs there, or else a fresh run of the same
        seed in a child process (so that it starts as cold as this one)."""
        walls = {}
        for path in glob.glob(os.path.join(self.out_dir, f"{self.tag}-seed*-trace0.json")):
            try:
                with open(path) as f:
                    walls[path] = json.load(f)["metrics"]["wall_s"][0]
            except (OSError, KeyError, ValueError):
                continue
        same_seed = self.out_path(trace=False)
        if same_seed in walls:
            return walls[same_seed]
        if walls:
            return statistics.median(walls.values())
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", self.workload_name,
               "--seed", str(self.seed), "--seconds", str(self.seconds), "--trace", "0",
               "--scale", str(self.scale)]
        out = subprocess.run(cmd, cwd=self.root, capture_output=True, text=True,
                             timeout=UNTRACED_TIMEOUT_S, check=True)
        return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]

    def run(self) -> dict:
        from workloads import WORKLOADS

        t_proc = process_start_time()
        untraced_wall = self.untraced_wall_s() if self.trace else None
        self.configure_env()
        cache = os.path.join(self.root, ".perfbench_cache")
        inputs, gen_s = gen.ensure_inputs(self.workload_name, self.seed, cache, self.scale)
        wl = WORKLOADS[self.workload_name](inputs, self.work)
        log_dir = os.path.join(self.work, "eventlog") if self.trace else None
        rss = RssSampler().start()
        try:
            self.setup(wl, log_dir)
            # process start to the first timed op, less input generation
            setup_s = time.time() - t_proc - gen_s
            rss.reset()
            steal0, total0 = cpu_times()
            cpu0 = tree_cpu_s()
            rec = Recorder(self.spark.sparkContext, traced=self.trace)
            outcomes = self.passes(wl, rec)
            peak = rss.peak
            cpu_s = tree_cpu_s() - cpu0
            steal1, total1 = cpu_times()
            steal = (steal1 - steal0) / max(total1 - total0, 1)
            self.check(wl, outcomes)
            if self.trace:
                self.spark.stop()  # flushes the event log
                self.spark = None
                metrics, detail = self.per_layer(wl, rec, log_dir, untraced_wall)
                # an op whose trace does not reconcile counts as failed
                for o, row in zip(outcomes, detail["reconcile"]):
                    if not row["ok"]:
                        o["match"] = False
                        o["error"] = o["error"] or (
                            f"trace does not reconcile: err {row['err']:.3f}, "
                            f"overrun {row['overrun']:.3f}")
                metrics["peak_rss_mb"] = (peak / 2**20, "MB")
                metrics["op_s.p50"] = (statistics.median(o["span"].wall for o in outcomes), "s")
                report = dict(metrics)
                detail["spans"] = rec.dump()
            else:
                metrics, report = self.end_to_end(wl, outcomes, setup_s, peak, cpu_s)
                detail = {}
            # share of the machine's CPU time the hypervisor gave to other
            # guests during the timed passes: explains a slow run
            report["host_steal_share"] = (steal, "ratio")
        finally:
            rss.stop()
            wl.close()
            if self.spark is not None:
                self.spark.stop()
        report["host_probe_s"] = (host_probe_s(), "s")
        failed_ops = [
            {"op": o["op"].name, "pass": o["span"].pass_idx, "error": o["error"],
             "observed": repr(o["observed"])[:200], "expected": repr(o.get("expected"))[:200]}
            for o in outcomes if not o["match"]
        ]
        return {
            "workload": self.workload_name, "seed": self.seed, "trace": int(self.trace),
            "scale": self.scale,
            "generation_s": gen_s, "inputs": inputs,
            "attempted": len(outcomes), "failed": len(failed_ops), "failed_ops": failed_ops,
            "metrics": metrics, "report": report, "detail": detail,
            "op_latency_s": [[o["op"].name, o["span"].wall] for o in outcomes],
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, default=1,
                    help="multiply lake_etl's I-94 and event row counts (default 1)")
    args = ap.parse_args(argv)
    if args.scale < 1 or (args.scale != 1 and args.workload not in gen.SCALED):
        ap.error(f"--scale {args.scale} is not available for {args.workload}")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "session.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # every process this run starts, however deep, is waited for below
    adopt_orphans()
    runner = Runner(root, args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    try:
        result = runner.run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        end_descendants()
        shutil.rmtree(runner.work, ignore_errors=True)
    os.makedirs(runner.out_dir, exist_ok=True)
    with open(runner.out_path(runner.trace), "w") as f:
        json.dump(result, f, indent=1, default=str)
    for fo in result["failed_ops"]:
        print(f"perfbench: FAILED op {fo['op']} (pass {fo['pass']}): "
              f"{fo['error'] or 'wrong result'}", file=sys.stderr)
    print("report " + json.dumps(
        {k: {"value": v, "unit": u} for k, (v, u) in result["report"].items()}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
