"""Run one benchmark workload and print its metrics.

    python3 benchmark/run.py --workload frontier_hot --seed 1 --seconds 5 --trace 0

One process, one ``local[4]`` Spark session.  Set-up (session start, input
generation, the expected output and the workload's warm-up iterations)
comes first, then timed iterations until ``--seconds`` have passed (at
least one).  Every iteration's output is checked outside its timed region.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates a
traced and an untraced iteration and reports the per-layer metrics (see
``tracing.py``) plus the tracing overhead.  The last stdout line is one JSON
object; the full detail goes to ``.bench_out/<workload>-<seed>-<trace>.json``
at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
OUT = ROOT / ".bench_out"
CORES = 4
DRIVER_MEMORY = "4g"
PREP_REPEATS = 3

# read from the untraced iterations of a traced run
UNTRACED_COUNTS = (
    "spark.jobs_per_generation", "crawl.gen_cold_s", "crawl.gen_recrawl_s",
)


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; a run reports exactly these."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def start_spark(work: Path, eventlog: Path | None, partitions: int):
    """Session at local[CORES], with every scratch path inside ``work``."""
    # Python workers must import crawler_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)  # gettempdir() may have cached /tmp already
    # the JVMs would otherwise keep perf counters under /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # a pre-touched fixed heap keeps the JVM's RSS from following G1's
        # run-to-run heap sizing, so peak_rss_mb moves with what the
        # program holds off-heap and in its Python processes
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    if eventlog is not None:
        eventlog.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from crawler_spark.session import get_spark

    return get_spark("benchmark", cores=CORES, shuffle_partitions=partitions,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its workers have exited."""
    import procstat

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(procstat.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.tree_pids(os.getpid())[1:]:  # stragglers
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import procstat
    import tracing
    from workloads import WORKLOADS

    tag = f"{workload}-{seed}-{int(trace)}-{os.getpid()}"
    work = OUT / f"work-{tag}"
    eventlog = work / "eventlog" if trace else None
    me = os.getpid()

    cls = WORKLOADS[workload]
    t0 = time.perf_counter()
    spark = start_spark(work, eventlog, cls.PARTITIONS_PER_CORE * CORES)
    try:
        session_s = time.perf_counter() - t0
        wl = cls(seed, work / "data")
        prep = []
        for _ in range(PREP_REPEATS):
            t = time.perf_counter()
            wl.prepare(spark)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.expect(spark)
        for _ in range(wl.WARM_UP):
            wl.release(wl.iterate(spark), spark)
        setup_s = session_s + statistics.median(prep) + time.perf_counter() - t

        tracer = tracing.Tracer(spark) if trace else None
        samples: list[dict] = []
        attempted = failed = 0
        deadline = time.perf_counter() + seconds
        with procstat.RssSampler(me) as rss:
            # traced first: on a workload timed cold, the traced iteration
            # then runs under the untraced run's conditions
            modes = (True, False) if trace else (False,)
            while not attempted or time.perf_counter() < deadline:
                for traced in modes:
                    attempted += 1
                    failed += not _attempt(wl, spark, tracer, traced, rss, me,
                                           samples)
            for also_cls in wl.TRACE_ALSO if trace else ():
                also = also_cls(seed, work / "also")
                also.prepare(spark)
                also.expect(spark)
                attempted += 1
                failed += not _attempt(also, spark, tracer, True, rss, me,
                                       samples, also=True)
    finally:
        stop_spark(spark)

    detail = {
        "workload": workload, "seed": seed, "trace": trace,
        "attempted": attempted, "failed": failed,
        "session_s": session_s, "prepare_s": prep, "setup_s": setup_s,
        "samples": samples,
    }
    if trace:
        _attach_spans(detail, eventlog)
    shutil.rmtree(work, ignore_errors=True)
    return detail


def _attempt(wl, spark, tracer, traced: bool, rss, me, samples: list,
             also: bool = False) -> bool:
    """One iteration and its check; a passing one is added to ``samples``."""
    sample = {"traced": traced, "also": also}
    result = None
    try:
        result = _iteration(wl, spark, tracer, traced, sample, rss, me)
        err = wl.check(result)
        if err is None:
            sample.update(wl.layer_counts(result))
            samples.append(sample)
    except Exception:  # noqa: BLE001 — count it, keep going
        traceback.print_exc()
        err = "raised"
    finally:
        if result is not None:
            wl.release(result, spark)
    if err is not None:
        print(f"iteration failed: {err}", file=sys.stderr)
    return err is None


def _iteration(wl, spark, tracer, traced: bool, sample: dict, rss, me):
    import procstat

    if traced:
        wl.trace(tracer)
    cpu0 = procstat.tree_cpu_s(me)
    rss.reset()
    t0 = time.perf_counter()
    try:
        result = wl.iterate(spark)
    finally:
        wall = time.perf_counter() - t0
        if traced:
            tracer.unwrap()
            sample["spans"] = tracer.take_spans()
            tracer.release()
    sample["wall_s"] = wall
    sample["cpu_s"] = procstat.tree_cpu_s(me) - cpu0
    sample["peak_rss_mb"] = rss.peak_mb
    sample["items"] = wl.items(result)
    return result


def _attach_spans(detail: dict, eventlog: Path) -> None:
    """Replace each traced sample's spans with their per-layer metrics."""
    import tracing

    (log,) = eventlog.iterdir()
    tasks, jobs = tracing.read_event_log(log)
    for s in detail["samples"]:
        if "spans" in s:
            # a count the workload read from its output beats a span's own
            # (a span that returns no DataFrame reports no rows)
            spans = tracing.span_metrics(s.pop("spans"), tasks)
            s.update({k: v for k, v in spans.items() if k not in s})
        groups = s.pop("job_groups", None)
        if groups and not s["traced"]:
            s["spark.jobs_per_generation"] = (
                sum(jobs.get(g, 0) for g in groups) / len(groups)
            )


def summarize(detail: dict) -> dict:
    samples = detail["samples"]
    plain = [s for s in samples if not s["traced"]]
    # the workload's own traced iterations; TRACE_ALSO calls add layers only
    traced = [s for s in samples if s["traced"] and not s["also"]]
    metrics: dict[str, dict] = {}
    counts: dict[str, int] = {}

    def put(name, values, unit):
        metrics[name] = {
            "value": statistics.median(values) if values else 0.0, "unit": unit,
        }
        counts[name] = len(values)

    if not detail["trace"]:
        u = metric_units("end_to_end")
        put("setup_s", [detail["setup_s"]], u["setup_s"])
        put("wall_s", [s["wall_s"] for s in plain], u["wall_s"])
        put("items_per_s", [s["items"] / s["wall_s"] for s in plain],
            u["items_per_s"])
        put("cpu_s", [s["cpu_s"] for s in plain], u["cpu_s"])
        put("peak_rss_mb", [s["peak_rss_mb"] for s in plain],
            u["peak_rss_mb"])
    else:
        for name, unit in metric_units("per_layer").items():
            if name == "tracing.overhead_s":
                overhead = []
                if plain and traced:
                    overhead = [statistics.median(s["wall_s"] for s in traced)
                                - statistics.median(s["wall_s"] for s in plain)]
                put(name, overhead, unit)
            else:
                src = plain if name in UNTRACED_COUNTS else [
                    s for s in samples if s["traced"]]
                # a span no traced call reached reads 0 (n=0)
                put(name, [s[name] for s in src if name in s], unit)
    detail["sample_counts"] = counts
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True,
                    choices=("frontier_hot", "crawl_2gen"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test: fail here, before any work, if it is absent
    sys.path.insert(0, str(ROOT))
    import crawler_spark.session  # noqa: F401

    detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    metrics = summarize(detail)
    detail["metrics"] = metrics
    OUT.mkdir(exist_ok=True)
    path = OUT / f"{args.workload}-{args.seed}-{args.trace}.json"
    path.write_text(json.dumps(detail, indent=1, default=str))
    n = detail["sample_counts"]
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']} (n={n[name]})")
    print(f"detail: {path}")
    ok = detail["attempted"] > 0 and detail["failed"] == 0
    print(json.dumps({
        "correct": ok,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
