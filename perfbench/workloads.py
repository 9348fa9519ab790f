"""The benchmark's workloads: generator parameters and crawl settings.

Each workload is a pure function of ``--seed``: the seed goes only to
``GraphConfig(seed=...)``, so the engine sees nothing but generated pages,
robots rows and seeds.

Sizes are set by the run budget, not by the engine: every run starts a
fresh JVM (about 7 s) and runs the first ``WARMUP_ROUNDS`` of its crawl
cold (about 25 s); the rest of the crawl is timed. On a 4-core VM a round
has a fixed cost of 3.5-5 s whatever its size, and the output check
(``reachable_public``, single-threaded Python) parses every page again, so
a run of about 60-70 s fits 2-5 timed rounds.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# one local executor per core of the 4-core reference VM; fixed so that
# runs on a larger machine stay comparable with each other
CORES = 4
MASTER = f"local[{CORES}]"
SHUFFLE_PARTITIONS = "4"
# driver heap cap: with the default 8g cap the heap grew at GC's whim and
# peak RSS swung 1.9-3.9 GB between identical runs
DRIVER_MEMORY = "2g"
# first rounds of each crawl, run untimed as the warm-up
WARMUP_ROUNDS = 2


@dataclass(frozen=True)
class Workload:
    name: str  # its "why" is in BENCHMARK.json
    graph: dict = field(default_factory=dict)  # GraphConfig kwargs (seed added)
    crawl: dict = field(default_factory=dict)  # CrawlConfig kwargs


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="crawl_wide",
            # 1600 pages of ~5.3 KB (24 paragraphs, inline <b>/<i> marks)
            # over 2 equal hosts, fanout 28, no missing links: 4 rounds of
            # 1, ~27, ~675 and ~650 pages, so both timed rounds are fat
            graph=dict(
                n_pages=1600,
                n_hosts=2,
                skew=0.0,
                fanout=28,
                n_paras=24,
                para_max=44,
                rich_markup=True,
                crawl_delay_hosts=0,
                flaky_every=0,
                dangling_every=0,
            ),
            crawl=dict(max_rounds=64),
        ),
        Workload(
            name="crawl_polite",
            # 4 equal hosts (skew=0) of 3 pages, budget 1 per host per round:
            # about 7 rounds of 1-4 pages. Every non-root page answers 503
            # once (flaky_every=1) and no page links a missing URL: a retry or
            # a 404 takes a host's only slot in a round, so the default
            # 1-in-29 flaky and 1-in-13 dangling placement made the round
            # count, and with it urls_per_s, depend on the seed.
            graph=dict(
                n_pages=12, n_hosts=4, skew=0.0, flaky_every=1, dangling_every=0
            ),
            crawl=dict(max_rounds=64, default_host_budget=1),
        ),
    )
}
