"""ant_spark crawl benchmark: one run of one workload.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's web graph from the
seed, starts a local SparkSession and crawls the graph. The first
``WARMUP_ROUNDS`` rounds of each crawl are its warm-up; the timed part runs
from the commit of the last warm-up round to the return of ``Engine.run``.
Crawls repeat until ``--seconds`` of timed crawling (at least one crawl).
Every crawl's fetched set is checked against ``webgraph.reachable_public``.

The last stdout line is one JSON object: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics. The traced run also writes its spans, per-span self time and
tracing overhead to ``.perfbench_run/trace-<workload>-s<seed>.json``.
Everything the run writes stays under ``.perfbench_run/``.
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
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_run")
SETUP_REPS = 3  # input generation + persist are repeated; setup_s uses medians
HEAP_SETTLE_S = 1.0  # pause between the two GCs of _heap_live_mib


@dataclass
class CrawlSample:
    wall_s: float  # end - start
    start: float  # commit of the last warm-up round
    end: float  # Engine.run returned
    fetched: int
    rounds: int
    manifest_times: list[float]  # start, then the commit of each timed round
    stages: dict[str, int]  # MANIFEST stage counters summed over rounds
    n_links: int  # links parsed out of fetched pages
    failed: int  # |fetched-200 set ^ expected set|
    heap_live_mib: float  # JVM heap in use after a full GC, once the crawl ended
    acc: object = None  # sparkstats.Accounting (traced run only)


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> dict[str, str]:
    """Point every scratch location of Python, Spark and the JVM into
    ``work``; returns the Spark confs that do the JVM side, with the
    driver heap cap."""
    from workloads import DRIVER_MEMORY

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def _heap_live_mib(spark) -> float:
    """Heap the JVM still holds after a full GC: the program's retained
    state (cached corpus, block manager, status stores). The first GC
    hands dead broadcasts and shuffles to Spark's ContextCleaner, which
    frees their blocks from its own thread; the second, after a pause,
    collects what that released. One GC alone read 190 or 240 MiB by
    whether the cleaner had run yet."""
    mem = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    time.sleep(HEAP_SETTLE_S)
    mem.gc()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def _vm_hwm_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class CrawlBench:
    def __init__(self, wl, seed: int, seconds: float, tracer, work: str):
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.spark = None
        self.stats = None
        self.setup_parts: dict[str, float] = {}
        self.harvest_s = 0.0  # traced run: time spent reading status stores

    # -- set-up --------------------------------------------------------------
    def setup(self, spark_conf: dict[str, str]) -> None:
        """Session, inputs and persisted corpus; the warm-up rounds of the
        first crawl complete the set-up (see ``measure``)."""
        from ant_spark import schemas
        from ant_spark.session import get_spark
        from ant_spark.sources.webgraph import GraphConfig, generate
        from workloads import MASTER, SHUFFLE_PARTITIONS

        tr = self.tracer
        with tr.span("setup"):
            t = time.perf_counter()
            with tr.span("setup.session"):
                self.spark = get_spark(
                    app_name=f"perfbench_{self.wl.name}",
                    master=MASTER,
                    extra_conf={
                        "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
                        **spark_conf,
                    },
                )
            session_s = time.perf_counter() - t
            gen, persist = [], []
            for i in range(SETUP_REPS):
                t = time.perf_counter()
                with tr.span("setup.generate"):
                    self.pdf, robots_pdf, self.seeds = generate(
                        GraphConfig(seed=self.seed, **self.wl.graph)
                    )
                gen.append(time.perf_counter() - t)
                if i:
                    self.pages.unpersist(blocking=True)
                t = time.perf_counter()
                with tr.span("setup.persist"):
                    self.pages = self.spark.createDataFrame(
                        self.pdf, schema=schemas.PAGES
                    ).persist()
                    self.pages.count()
                persist.append(time.perf_counter() - t)
            self.robots = self.spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)
        self.setup_parts = {
            "session_s": session_s,
            "generate_s": statistics.median(gen),
            "persist_s": statistics.median(persist),
        }

    def setup_s(self) -> float:
        return sum(self.setup_parts.values())

    def _engine(self, ckpt: str):
        from ant_spark.engine import CrawlConfig, Engine

        cfg = CrawlConfig(**{**self.wl.crawl, "checkpoint_dir": ckpt})
        return Engine(self.spark, self.pages, self.robots, cfg)

    def _recache(self) -> None:
        """Drop every cached plan (CacheManager reuses canonicalized plans
        across runs) and re-cache the page corpus, outside any timing."""
        self.spark.catalog.clearCache()
        self.pages.persist()
        self.pages.count()

    # -- measurement -----------------------------------------------------------
    def measure(self) -> list[CrawlSample]:
        from pyspark.sql import functions as F

        from ant_spark.sources.webgraph import reachable_public
        from checks import crawl_failures
        from workloads import WARMUP_ROUNDS

        expected = reachable_public(self.pdf, self.seeds)
        samples: list[CrawlSample] = []
        while not samples or sum(s.wall_s for s in samples) < self.seconds:
            ckpt = tempfile.mkdtemp(prefix="ckpt-", dir=self.work)
            with self.tracer.span("engine.run"):
                t0 = time.time()
                res = self._engine(ckpt).run(self.seeds)
                t1 = time.time()
            # --- untimed: read the committed output -------------------------
            heap_live = _heap_live_mib(self.spark)
            # MANIFEST of round=k commits fetch round k-1 (0-based in the log)
            commits = {}
            for mf in glob.glob(os.path.join(ckpt, "round=*", "MANIFEST.json")):
                k = int(os.path.basename(os.path.dirname(mf)).split("=", 1)[1])
                with open(mf) as f:
                    commits[k] = (os.path.getmtime(mf), json.load(f)["stages"])
            timed = sorted(k for k in commits if k > WARMUP_ROUNDS)
            if not timed:
                raise RuntimeError(f"crawl ended within its {WARMUP_ROUNDS} warm-up rounds")
            start = commits[WARMUP_ROUNDS][0]
            if not samples:
                self.setup_parts["warmup_s"] = start - t0
            stages = {}
            for k in timed:
                for name, v in commits[k][1].items():
                    stages[name] = stages.get(name, 0) + v
            rows = (
                res.fetched_log.filter(F.col("status") == 200)
                .select("url", "round", "n_links")
                .collect()
            )
            visited = {r["url"] for r in rows}  # the whole crawl, warm-up too
            timed_rows = [r for r in rows if r["round"] >= WARMUP_ROUNDS]
            samples.append(
                CrawlSample(
                    wall_s=t1 - start,
                    start=start,
                    end=t1,
                    fetched=len(timed_rows),
                    rounds=len(timed),
                    manifest_times=[start] + [commits[k][0] for k in timed],
                    stages=stages,
                    n_links=sum(r["n_links"] or 0 for r in timed_rows),
                    failed=crawl_failures(visited, expected),
                    heap_live_mib=heap_live,
                    acc=self._harvest(start, t1),
                )
            )
            self._recache()
            shutil.rmtree(ckpt)
        self.expected_n = len(expected)
        return samples

    def _harvest(self, start: float, end: float):
        """Account the jobs submitted in the timed part of a crawl."""
        if self.stats is None:
            return None
        t = time.perf_counter()
        acc = self.stats.harvest(
            self.stats.last_job_id(before=start),
            self.stats.last_job_id(before=end),
            python_workers=True,
        )
        self.harvest_s += time.perf_counter() - t
        return acc

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers
        it forked) to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        proc = sc._gateway.proc
        self.spark.stop()
        sc._gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def round_gaps(s: CrawlSample) -> list[float]:
    """Seconds between consecutive round commits of one crawl."""
    return [b - a for a, b in zip(s.manifest_times, s.manifest_times[1:])]


def end_to_end(samples: list[CrawlSample], setup_s: float):
    gaps = [g for s in samples for g in round_gaps(s)]
    return {
        "urls_per_s": sum(s.fetched for s in samples) / sum(s.wall_s for s in samples),
        "round_p50_ms": statistics.median(gaps) * 1e3,
        "setup_s": setup_s,
        "heap_live_mib": statistics.median(s.heap_live_mib for s in samples),
    }


def engine_layer(samples: list[CrawlSample], cores: int):
    """engine.* per-layer metrics over all timed crawls, plus sanity flags."""
    from sparkstats import sanity_flags

    rounds = sum(s.rounds for s in samples)
    wall = sum(s.wall_s for s in samples)
    fetched = sum(s.fetched for s in samples)
    acc = [s.acc for s in samples]
    busy = sum(a.busy_seconds(s.start, s.end) for a, s in zip(acc, samples))
    run_s = sum(a.executor_run_s for a in acc)
    gaps = [g for s in samples for g in round_gaps(s)]
    stage = {}
    for s in samples:
        for k, v in s.stages.items():
            stage[k] = stage.get(k, 0) + v
    outcomes = sum(
        stage.get(k, 0)
        for k in ("fetched", "missing_404", "retried", "dead_letter", "perm_error")
    )
    flags = [f for a, s in zip(acc, samples) for f in sanity_flags(a, s.wall_s, cores)]
    m = {
        "engine.jobs_per_round": sum(len(a.jobs) for a in acc) / rounds,
        "engine.stages_per_round": sum(a.stages for a in acc) / rounds,
        "engine.tasks_per_round": sum(a.tasks for a in acc) / rounds,
        "engine.exec_ms_per_page": run_s * 1e3 / fetched,
        "engine.core_busy_frac": run_s / (wall * cores),
        "engine.no_job_frac": 1.0 - busy / wall,
        "engine.shuffle_write_mb": sum(a.shuffle_write_bytes for a in acc) / 1e6,
        "engine.spill_mb": sum(a.spill_bytes for a in acc) / 1e6,
        "engine.py_start_s": sum(a.py_start_s for a in acc),
        "engine.py_init_s": sum(a.py_init_s for a in acc),
        "engine.py_run_s": sum(a.py_run_s for a in acc),
        "engine.round_tail_ms": max(gaps) * 1e3,
        "engine.new_per_link": stage.get("enqueued", 0) / max(1, sum(s.n_links for s in samples)),
        "engine.fetched_per_admitted": stage.get("fetched", 0) / max(1, outcomes),
        "engine.sanity_flags": len(flags),
    }
    notes = {
        "round_tail": f"engine.round_tail_ms is the p100 of {len(gaps)} round gaps",
        "sanity_flags": flags,
    }
    return m, notes


def rebuild_spans(tracer, samples: list[CrawlSample]) -> None:
    """Rebuild round spans from MANIFEST commit times and job spans from the
    status store, under the matching ``engine.run`` span."""
    runs = [s for s in tracer.spans if s.name == "engine.run"]
    for run, smp in zip(runs, samples):
        tracer.add("engine.warmup", run.start, smp.start, run.id)
        edges = smp.manifest_times
        rounds = [
            (tracer.add("engine.round", a, b, run.id), a, b)
            for a, b in zip(edges, edges[1:])
        ]
        for job in smp.acc.jobs:
            parent = next(
                (rid for rid, a, b in rounds if a <= job.submit_s < b), run.id
            )
            tracer.add("spark.job", job.submit_s, job.complete_s, parent)


def main(argv=None) -> int:
    args = parse_args(argv)
    from workloads import CORES, WORKLOADS

    wl = WORKLOADS[args.workload]
    sys.path.insert(0, ROOT)
    try:
        import ant_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{wl.name}-s{args.seed}-", dir=OUT_DIR)
    spark_conf = _isolate(work)
    from metrics import result_line
    from trace_spans import Tracer

    tracer = Tracer(run_id=os.path.basename(work), enabled=bool(args.trace))
    bench = CrawlBench(wl, args.seed, args.seconds, tracer, work)
    try:
        bench.setup(spark_conf)
        if args.trace:
            from sparkstats import SparkStats

            bench.stats = SparkStats(bench.spark)
        samples = bench.measure()
        e2e = end_to_end(samples, bench.setup_s())
        attempted = bench.expected_n * len(samples)
        failed = sum(s.failed for s in samples)
        if not args.trace:
            with open(os.path.join(OUT_DIR, f"e2e-{wl.name}-s{args.seed}.json"), "w") as f:
                json.dump({**e2e, "round_gaps_s": [round_gaps(s) for s in samples],
                           "setup_parts_s": bench.setup_parts,
                           "peak_rss_mib": _vm_hwm_mib(bench.jvm_pid())}, f)
            line = result_line("end_to_end", e2e, attempted, failed)
        else:
            layer, leaves_attempted, leaves_failed = traced(bench, samples, e2e, CORES)
            line = result_line("per_layer", layer, attempted + leaves_attempted,
                               failed + leaves_failed)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)
    return 0


def traced(bench, samples, e2e, cores):
    """Per-layer metrics of a traced run; writes the trace file. Returns
    the metrics and the curate leaves attempted and failed."""
    from probes import Probes

    t = time.perf_counter()
    rebuild_spans(bench.tracer, samples)
    layer, notes = engine_layer(samples, cores)
    harvest_s = bench.harvest_s + time.perf_counter() - t
    probes = Probes(bench.spark, bench.tracer, bench.stats, bench.pdf, bench.robots,
                    bench.wl.crawl, bench.seed, bench.work)
    layer.update(probes.run())
    layer["session.start_s"] = bench.setup_parts["session_s"]
    layer["webgraph.generate_s"] = bench.setup_parts["generate_s"]
    layer["jvm.peak_rss_mib"] = _vm_hwm_mib(bench.jvm_pid())
    # bookkeeping the traced run adds around the crawl: status-store reads
    # (one per crawl, after Engine.run returns) and span reconstruction
    layer["trace.harvest_s"] = harvest_s
    pages = sum(s.fetched for s in samples)
    wall = sum(s.wall_s for s in samples)
    # share of the timed crawl's wall time the parse UDF alone would take
    notes["parse_udf_share_of_run"] = layer["parse.udf_us_per_page"] * pages / 1e6 / wall
    for flag in notes["sanity_flags"]:
        print(f"perfbench sanity: {flag}", file=sys.stderr)
    untraced_path = os.path.join(OUT_DIR, f"e2e-{bench.wl.name}-s{bench.seed}.json")
    overhead = None
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            base = json.load(f)
        overhead = {k: e2e[k] - base[k] for k in e2e if k in base}
    bench.tracer.dump(
        os.path.join(OUT_DIR, f"trace-{bench.wl.name}-s{bench.seed}.json"),
        {
            "workload": bench.wl.name,
            "seed": bench.seed,
            "setup_parts_s": bench.setup_parts,
            "end_to_end_traced": e2e,
            "tracing_overhead": overhead
            if overhead is not None
            else "no untraced run of this workload and seed in .perfbench_run",
            "per_layer": layer,
            "notes": {**notes, "probes": probes.notes},
        },
    )
    return layer, probes.leaves_attempted, probes.leaves_failed


if __name__ == "__main__":
    sys.exit(main())
