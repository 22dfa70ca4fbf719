"""dbqt_spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload dq_catalog --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from the seed (untimed), starts a Spark session on local[4], runs one unit
of work cold, then runs units back to back for ``--seconds`` (two at
least) and checks every output against the truth the generator planted
(``python3 -m pytest perfbench/test_check.py`` tests the checks).
Everything it writes goes under ``.perfbench_work/`` in the checkout and
is removed at exit, with the JVM and Python workers it started.

``--trace 0`` prints the end-to-end metrics: set-up time (imports, JVM
launch and a ready session), the cold unit, the warm unit median
(iteration, or micro-batch for stream_ingest) and items per second.
``--trace 1`` prints the per-layer metrics instead: it starts the session
with the event log on, runs the cold unit and a warm-up unit, then
alternates untraced and traced units (every layer call of a traced unit
is traced), and reads the log afterwards. Layers a workload never calls
report 0. The last line of standard output is the JSON result; the lines
before it name the metrics as the workload's users know them, or
(traced) say where a unit's time goes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from rss import tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = "4"
DRIVER_MEM = "2g"  # ample for these inputs; the session default is 16g
# warm units timed at least, however short --seconds is: a unit runs about
# as long as a 6 s window, and the second warm unit runs faster than the
# first, so a window holding one unit in some runs and two in others
# makes the median jump between runs
MIN_WARM_UNITS = 2

# per-layer metrics of the traced run: layer -> measures (spans.MEASURES)
LAYERS = {
    "catalog": ["wall_s"],
    "schema_df": ["wall_s", "jobs"],
    "operators.rowcount": ["wall_s", "driver_s", "jobs", "tasks"],
    "operators.colcompare": ["wall_s", "driver_s", "jobs"],
    "operators.profile": [
        "wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "shuffle_mb", "gc_s",
    ],
    "operators.keyfinder": [
        "wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "pinned_rdds",
    ],
    "report": ["wall_s"],
    **{
        f"operators.dedup.{call}": [
            "wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "python_s",
            "arrow_mb", "shuffle_mb", "spill_mb", "gc_s", "pinned_rdds",
        ]
        for call in ("exact", "minhash")
    },
    "operators.similarity": [
        "wall_s", "jobs", "exec_cpu_s", "python_s", "arrow_mb", "shuffle_mb",
        "pinned_rdds",
    ],
    "operators.textstats": ["wall_s", "jobs", "exec_cpu_s"],
    "streaming.neardup": [
        "wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "python_s",
        "bytes_written_mb", "files_written",
    ],
    "streaming.neardup.compact_store": ["wall_s", "jobs", "bytes_written_mb"],
}
UNITS = {
    "wall_s": "s", "driver_s": "s", "exec_cpu_s": "s", "gc_s": "s",
    "python_s": "s", "jobs": "count", "tasks": "count", "pinned_rdds": "count",
    "files_written": "count", "shuffle_mb": "MB", "spill_mb": "MB",
    "arrow_mb": "MB", "bytes_written_mb": "MB",
}
# per-layer metrics that are not a span measure
OTHER_LAYER_UNITS = {
    # the driver JVM and its Python workers; not an end-to-end metric
    # because Python-worker churn makes its peak spike by up to a GB
    "peak_rss_mb": "MB",
    "session.wall_s": "s",
    "operators.dedup.minhash.candidate_yield": "ratio",
    "streaming.neardup.store_bytes_per_doc": "B",
    "streams_active": "count",
    "pinned_rdds_total": "count",
    "trace.overhead_s": "s",
}


def layer_metric_units() -> dict[str, str]:
    """Every metric the traced run prints, with its unit: the ``per_layer``
    list of BENCHMARK.json."""
    spans = {
        f"{layer}.{m}": UNITS[m] for layer, ms in LAYERS.items() for m in ms
    }
    return {**spans, **OTHER_LAYER_UNITS}


def _pin_environment(work: str) -> None:
    """Fix parallelism and memory, let Python workers import the package,
    and keep every file Spark, the JVM and Python write inside ``work``.
    Must run before the JVM starts."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=CPUS,
        DBQT_SPARK_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
    )
    sys.path.insert(0, ROOT)


def _conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={work}"
        ),
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # one plain JSON-lines file, readable as a stream
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _setup(conf: dict[str, str]):
    """(session, seconds): ``get_spark`` plus one trivial action."""
    from dbqt_spark.session import get_spark

    start = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - start


class RssSampler:
    """Peak RSS of the driver JVM and its Python workers, sampled by a
    separate process (``rss.py``) so the sampling holds no lock the driver
    needs."""

    def __init__(self, pid: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "rss.py"), str(pid)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def stop(self) -> float:
        """Peak in MB."""
        out, _ = self.proc.communicate("stop\n", timeout=60)
        return int(out) / (1 << 20)


def _stop_jvm() -> None:
    """Stop the driver JVM (closing its stdin makes it exit) and wait until
    it and the Python daemon and workers below it have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    procs = tree(gateway.proc.pid)[1:]
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass  # already gone
    SparkContext._gateway = SparkContext._jvm = None


def _units(wl, spark, calls, seconds: float, at_least: int = 0,
           traced=lambda k: False):
    """Run units back to back, at least ``at_least`` of them and until
    ``seconds`` have passed, tracing unit ``k`` when ``traced(k)``; return
    the busy time of each and the items they processed."""
    samples: list[float] = []
    items = 0
    deadline = time.perf_counter() + seconds
    while len(samples) < at_least or (
        time.perf_counter() < deadline
        and not getattr(wl, "exhausted", lambda: False)()
    ):
        calls.traced = traced(len(samples))
        calls.unit += 1
        before = calls.busy_s
        try:
            items += wl.unit(spark, calls)
        except Exception:
            traceback.print_exc()
        samples.append(calls.busy_s - before)
    return samples, items


def _abba(k: int) -> bool:
    """Untraced and traced units alternate U T T U U T T U ..., so a drift
    over the session weighs on both sides alike."""
    return k % 4 in (1, 2)


def _median(xs: list[float]) -> float:
    """Median, or 0 when a failed run measured nothing (it reports
    ``correct: false`` then)."""
    return statistics.median(xs) if xs else 0.0


def run(name: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    start = time.perf_counter()
    from workloads import WORKLOADS  # imports dbqt_spark and pyspark

    import_s = time.perf_counter() - start
    from spans import Calls, attribute, layer_medians, unit_profile

    wl = WORKLOADS[name]()
    wl.prepare(work, seed)
    spark, launch_s = _setup(_conf(work, event_log=traced))
    rss = RssSampler(spark.sparkContext._gateway.proc.pid)
    try:
        calls = Calls(spark, traced=False)
        cold, _ = _units(wl, spark, calls, 0, at_least=1)
        first_timed_batch = len(calls.batch_s)
        if traced:
            # one more untraced unit: the unit after the cold one still
            # runs slow, which would read as negative tracing overhead
            _units(wl, spark, calls, 0, at_least=1)
            samples, _ = _units(
                wl, spark, calls, seconds, at_least=4, traced=_abba
            )
        else:
            samples, items = _units(
                wl, spark, calls, seconds, at_least=MIN_WARM_UNITS
            )
    finally:
        peak_rss_mb = rss.stop()
    result = {
        "attempted": calls.attempted,
        "failed": calls.failed,
        "peak_rss_mb": peak_rss_mb,
    }

    if not traced:
        spark.stop()
        timed_busy = sum(samples)
        if calls.batch_s:
            samples = calls.batch_s[first_timed_batch:]
        result.update({
            # process start to a ready session: imports, JVM launch,
            # get_spark and one action; input generation left out
            "setup_s": import_s + launch_s,
            "cold_s": calls.batch_s[0] if calls.batch_s else cold[0],
            "unit_p50_s": _median(samples),
            "samples": samples,
            "items_per_s": items / timed_busy if timed_busy > 0 else 0.0,
            "item": wl.item,
        })
        if hasattr(wl, "store_bytes"):
            result["store_bytes_per_doc"] = wl.store_bytes() / max(1, wl.kept())
        return result

    streams_active = len(spark.streams.active)
    pinned_total = spark.sparkContext._jsc.getPersistentRDDs().size()
    candidate_yield = (
        wl.candidate_yield(spark) if hasattr(wl, "candidate_yield") else 0
    )
    store_bytes_per_doc = (
        wl.store_bytes() / max(1, wl.kept()) if hasattr(wl, "store_bytes") else 0
    )
    spark.stop()
    reconciled = attribute(os.path.join(work, "eventlog"), calls.spans)
    on = [x for k, x in enumerate(samples) if _abba(k)]
    off = [x for k, x in enumerate(samples) if not _abba(k)]

    values = {
        "peak_rss_mb": peak_rss_mb,
        "session.wall_s": launch_s,
        "operators.dedup.minhash.candidate_yield": candidate_yield,
        "streaming.neardup.store_bytes_per_doc": store_bytes_per_doc,
        # the most streams left running after any layer call or at the end
        "streams_active": max(
            [streams_active] + [s.streams_active for s in calls.spans]
        ),
        "pinned_rdds_total": pinned_total,
        "trace.overhead_s": _median(on) - _median(off),
    }
    for layer, measures in LAYERS.items():
        med = layer_medians(calls.spans, layer)
        for m in measures:
            if m == "python_s" and not reconciled:
                print(f"{layer}.python_s left out: Python-worker time exceeds "
                      "task run time", file=sys.stderr)
                continue
            values[f"{layer}.{m}"] = med[m]
    result["layers"] = {
        k: (values[k], unit)
        for k, unit in layer_metric_units().items() if k in values
    }
    prof = unit_profile(calls.spans)
    print(f"# {name} seed={seed}: {len(on)} traced, {len(off)} untraced units")
    print(f"# traced unit (median): {prof['wall_s']:.3f} s in layer calls, "
          f"{prof['driver_share']:.0%} of it outside Spark jobs, "
          f"{prof['jobs']:.0f} jobs, executor JVM CPU {prof['exec_cores']:.2f} "
          f"cores" + (f", Python workers {prof['python_cores']:.2f} cores"
                      if reconciled else ""))
    return result


def _report(name: str, seed: int, r: dict) -> None:
    """The human-readable table: each workload's metrics under the names
    its users know, with sample counts."""
    n = len(r["samples"])
    rows = [("setup_s", r["setup_s"], "s", "1"), ("cold_s", r["cold_s"], "s", "1")]
    if name == "stream_ingest":
        p90 = (statistics.quantiles(r["samples"], n=10)[8] if n >= 2
               else r["unit_p50_s"])
        beyond = sum(x > p90 for x in r["samples"])
        rows += [
            ("batch_p50_s", r["unit_p50_s"], "s", f"{n} batches"),
            ("batch_p90_s", p90, "s", f"{n} batches, {beyond} beyond p90"),
            ("ingest_docs_per_s", r["items_per_s"], "1/s", f"{n} batches"),
            ("store_bytes_per_doc", r["store_bytes_per_doc"], "B", "exact"),
        ]
    else:
        rows += [
            ("iteration_p50_s", r["unit_p50_s"], "s", f"{n} iterations"),
            (f"{r['item']}_per_s", r["items_per_s"], "1/s", f"{n} iterations"),
        ]
    rows += [
        ("error_rate", r["failed"] / max(1, r["attempted"]), "ratio",
         f"{r['failed']} of {r['attempted']} operations"),
        ("peak_rss_mb", r["peak_rss_mb"], "MB", "sampled every 100 ms"),
    ]
    import pyspark

    print(f"# {name} seed={seed}: local[{CPUS}], driver memory {DRIVER_MEM}, "
          f"pyspark {pyspark.__version__}, python {sys.version.split()[0]}")
    for metric, value, unit, count in rows:
        print(f"{metric:<22} {value:>14.4f} {unit:<6} n: {count}")
    print("# warm units (s): " + " ".join(f"{x:.3f}" for x in r["samples"]))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["dq_catalog", "llm_dedup", "stream_ingest"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "dbqt_spark")):
        print(f"no dbqt_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    _pin_environment(work)
    try:
        r = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    ok = r["failed"] == 0
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in r["layers"].items()}
    else:
        _report(args.workload, args.seed, r)
        metrics = {
            "setup_s": {"value": r["setup_s"], "unit": "s"},
            "cold_s": {"value": r["cold_s"], "unit": "s"},
            "unit_p50_s": {"value": r["unit_p50_s"], "unit": "s"},
            "items_per_s": {"value": r["items_per_s"], "unit": "1/s"},
        }
    print(json.dumps({
        "correct": ok,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
