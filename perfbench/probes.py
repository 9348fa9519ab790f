"""Per-layer probes for the traced run.

Each probe times calls into one module's public functions on the
workload's own generated pages, from outside the engine. Spark probes run
the query once untimed (so the JVM has compiled it) and report the median
of ``REPS`` timed runs. The in-process probes and the curate corpus use the
first ``PROBE_PAGES`` pages in generation order, so a traced run does not
grow with the crawl's corpus.
"""

from __future__ import annotations

import os
import statistics
import time

REPS = 2
PROBE_PAGES = 300
DOC_CHARS = 400

# curate leaf (as named by the query registry) -> per-layer metric prefix
LEAVES = {
    "text_minhash_lsh_pairs": "textops.minhash_lsh_pairs",
    "text_simhash_near_dup": "textops.simhash_near_dup",
    "text_fingerprint_dups": "textops.fingerprint_dups",
    "text_top_idf_terms": "textops.top_idf_terms",
    "emb_cosine_topk": "similarity.cosine_topk",
    "emb_ivf_topk": "similarity.ivf_topk",
    "graph_pagerank": "graphops.pagerank",
    "graph_host_rank": "graphops.host_rank",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(action) -> float:
    """Median seconds of ``REPS`` runs of ``action`` after one untimed run."""
    action()
    times = []
    for _ in range(REPS):
        t = time.perf_counter()
        action()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _exchanges(df) -> int:
    """Exchange operators (shuffle and broadcast) in the executed plan; call
    after an action on ``df`` itself so the adaptive plan is final."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
        and "QueryStage" not in line
    )


class Probes:
    def __init__(self, spark, tracer, stats, pages_pdf, robots,
                 crawl_cfg: dict, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.stats = stats
        self.pdf = pages_pdf.iloc[:PROBE_PAGES]
        self.robots = robots
        self.crawl_cfg = crawl_cfg
        self.seed = seed
        self.work = work
        self.metrics: dict[str, float] = {}
        self.leaves_attempted = 0
        self.leaves_failed = 0
        self.notes: list[str] = []
        self.page_links: list[list[str]] = []  # parse_page links, per page

    def run(self) -> dict[str, float]:
        links = self.parse()
        normalized = self.urlnorm(links)
        frontier = self.dedupe(normalized)
        self.politeness(frontier)
        self.robots_layer(frontier)
        frontier.unpersist()
        self.curate()
        return self.metrics

    # -- functions.parse ---------------------------------------------------
    def parse(self) -> list[str]:
        from pyspark.sql import functions as F

        from ant_spark import schemas
        from ant_spark.functions.parse import make_parse_udf, parse_page

        urls, htmls = list(self.pdf.url), list(self.pdf.html)
        with self.tracer.span("probe.parse.page"):
            t = time.perf_counter()
            self.page_links = [parse_page(h, u)[0] for u, h in zip(urls, htmls)]
            self.metrics["parse.page_us"] = (time.perf_counter() - t) / len(urls) * 1e6
        pages = self.spark.createDataFrame(self.pdf, schema=schemas.PAGES).persist()
        pages.count()
        udf = make_parse_udf()
        q = pages.select(F.size(udf(F.col("url"), F.col("html")).links))
        with self.tracer.span("probe.parse.udf"):
            self.metrics["parse.udf_us_per_page"] = _timed(lambda: _noop(q)) / len(urls) * 1e6
        pages.unpersist()
        return [link for links in self.page_links for link in links]

    # -- functions.urlnorm -------------------------------------------------
    def urlnorm(self, links: list[str]):
        import pandas as pd
        from pyspark.sql import functions as F

        from ant_spark.functions.urlnorm import make_normalize_udf, normalize_or_none

        with self.tracer.span("probe.urlnorm.link"):
            t = time.perf_counter()
            for u in links:
                normalize_or_none(u)
            self.metrics["urlnorm.link_us"] = (time.perf_counter() - t) / len(links) * 1e6
        raw = self.spark.createDataFrame(
            pd.DataFrame({"raw": links, "seq": range(len(links))}),
            "raw string, seq long",
        ).persist()
        raw.count()
        udf = make_normalize_udf()
        q = raw.select(udf(F.col("raw")).alias("url"), "seq")
        with self.tracer.span("probe.urlnorm.udf"):
            self.metrics["urlnorm.udf_us_per_link"] = (
                _timed(lambda: _noop(q)) / len(links) * 1e6
            )
        out = q.filter(F.col("url").isNotNull()).persist()
        out.count()
        raw.unpersist()
        return out

    # -- operators.dedupe --------------------------------------------------
    def dedupe(self, normalized):
        from pyspark.sql import functions as F

        from ant_spark.functions.urlnorm import host_of, url_hash
        from ant_spark.operators.dedupe import exact_new, first_occurrence

        cands = normalized.withColumn("url_hash", url_hash(F.col("url")))
        # seen = the first half of the corpus in generation order, so about
        # half of the distinct links are new
        half = self.pdf.url[: len(self.pdf) // 2]
        seen = self.spark.createDataFrame(
            [(u,) for u in half], "url string"
        ).withColumn("url_hash", url_hash(F.col("url"))).persist()
        seen.count()
        first = first_occurrence(cands, ["url_hash", "url"], ["seq"])
        with self.tracer.span("probe.dedupe.first_occurrence"):
            self.metrics["dedupe.first_occurrence_ms"] = _timed(lambda: _noop(first)) * 1e3
        distinct = first.withColumn("host", host_of(F.col("url"))).persist()
        distinct.count()
        new = exact_new(distinct, seen)
        with self.tracer.span("probe.dedupe.exact_new"):
            self.metrics["dedupe.exact_new_ms"] = _timed(lambda: _noop(new)) * 1e3
        n_new = len(new.collect())
        self.metrics["dedupe.exchanges"] = _exchanges(new)
        self.metrics["dedupe.new_frac"] = n_new / max(1, normalized.count())
        seen.unpersist()
        normalized.unpersist()
        return distinct

    # -- operators.politeness ----------------------------------------------
    def politeness(self, frontier) -> None:
        from pyspark.sql import functions as F

        from ant_spark.operators.politeness import (
            UNLIMITED_BUDGET,
            host_budget_expr,
            split_by_budget,
        )

        budget = self.crawl_cfg.get("default_host_budget", UNLIMITED_BUDGET)
        marked = frontier.withColumn(
            "budget", host_budget_expr(1.0, budget, F.lit(None).cast("double"))
        )
        admitted, deferred = split_by_budget(
            marked, F.col("budget"), ["seq"], salt=1,
            budget_cap=None if budget == UNLIMITED_BUDGET else budget,
        )
        n = frontier.count()

        def split():
            _noop(admitted)
            _noop(deferred)

        with self.tracer.span("probe.politeness.split"):
            self.metrics["politeness.split_us_per_url"] = _timed(split) / n * 1e6
        self.metrics["politeness.admitted_frac"] = admitted.count() / n

    # -- operators.robots --------------------------------------------------
    def robots_layer(self, frontier) -> None:
        from pyspark.sql import functions as F

        from ant_spark.functions.urlnorm import path_of
        from ant_spark.operators.robots import with_robots

        joined = with_robots(frontier, self.robots, "antbot", path_of(F.col("url")))
        agg = joined.agg(
            F.count("*").alias("n"),
            F.sum(F.col("robots_allowed").cast("long")).alias("allowed"),
        )
        with self.tracer.span("probe.robots.with_robots"):
            secs = _timed(lambda: agg.collect())
        row = agg.collect()[0]
        self.metrics["robots.with_robots_us_per_url"] = secs / row["n"] * 1e6
        self.metrics["robots.allowed_frac"] = (row["allowed"] or 0) / row["n"]

    # -- operators.textops / similarity / graphops -------------------------
    def _write_corpus(self) -> str:
        """documents from the pages' text, embeddings drawn from the seed,
        events from the links ``parse`` found (user_id = linking page,
        event_id = link ordinal) — the tables the curate leaves read.

        Each document is cut to its first ``DOC_CHARS`` characters: the
        generator draws text from a 20-word vocabulary, so whole long pages
        are near-duplicates of each other and the MinHash-LSH self-join
        (and its DuckDB oracle) turns quadratic."""
        import datetime as dt

        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ant_spark.functions.urlnorm import normalize_or_none

        d = os.path.join(self.work, "corpus")
        os.makedirs(d, exist_ok=True)
        n = len(self.pdf)
        texts = [t[:DOC_CHARS] for t in self.pdf.text]
        docs = pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "text": texts,
                "lang": ["en"] * n,
                "source": [f"src{i % 4}" for i in range(n)],
                "n_chars": [len(t) for t in texts],
            }
        )
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                       os.path.join(d, "documents.parquet"))
        rng = np.random.default_rng(self.seed)
        vecs = (rng.standard_normal((n, 64)) * 0.1).astype(np.float32)
        emb = pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": pa.array((np.arange(n) % 10).astype(np.int32)),
            }
        )
        pq.write_table(emb, os.path.join(d, "embeddings.parquet"))
        index = {u: i for i, u in enumerate(self.pdf.url)}
        users = []
        for i, links in enumerate(self.page_links):
            users.extend(i for link in links if normalize_or_none(link) in index)
        k = len(users)
        base = dt.datetime(2025, 1, 1)
        events = pd.DataFrame(
            {
                "event_id": np.arange(k, dtype=np.int64),
                "ts": pd.to_datetime([base + dt.timedelta(seconds=s) for s in range(k)]),
                "user_id": np.array(users, dtype=np.int64),
                "event_type": [("view", "click", "crawl")[s % 3] for s in range(k)],
                "value": rng.random(k),
                "props": ["{}"] * k,
            }
        )
        pq.write_table(
            pa.Table.from_pandas(events, preserve_index=False).cast(
                pa.schema(
                    [
                        ("event_id", pa.int64()),
                        ("ts", pa.timestamp("us")),
                        ("user_id", pa.int64()),
                        ("event_type", pa.string()),
                        ("value", pa.float64()),
                        ("props", pa.string()),
                    ]
                )
            ),
            os.path.join(d, "events.parquet"),
        )
        return d

    def curate(self) -> None:
        import duckdb

        import __spark_entry__ as entry
        from checks import leaf_matches

        with self.tracer.span("check.corpus"):
            corpus = self._write_corpus()
        con = duckdb.connect()
        for t in ("documents", "embeddings", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')"
            )
        queries, oracles = entry.queries(), entry.oracle_sql()
        for leaf, prefix in LEAVES.items():
            self.leaves_attempted += 1
            build = queries[leaf]
            try:
                # the check's collect doubles as the untimed first run
                with self.tracer.span(f"check.{prefix}"):
                    df = build(self.spark, corpus)
                    rows = [tuple(r) for r in df.collect()]
                    res = con.execute(oracles[leaf])
                    ok = leaf_matches(rows, df.columns, res.fetchall(),
                                      [c[0] for c in res.description])
                if not ok:
                    self.notes.append(f"{leaf}: differs from its oracle")
            except Exception as exc:  # a failing leaf is a counted failure
                self.notes.append(f"{leaf}: {exc!r}"[:300])
                ok, rows = False, []
            self.leaves_failed += not ok
            if leaf == "text_minhash_lsh_pairs":
                self.metrics["textops.lsh_candidates"] = len(rows)
            # the check above was this leaf's untimed first run; each timed
            # run starts with no cached plans, as the check did
            before = self.stats.last_job_id()
            with self.tracer.span(f"probe.{prefix}"):
                times = []
                for _ in range(REPS):
                    self.spark.catalog.clearCache()
                    t = time.perf_counter()
                    try:
                        _noop(build(self.spark, corpus))
                    except Exception as exc:  # counted once, with the check above
                        self.notes.append(f"{leaf} (timed run): {exc!r}"[:300])
                        self.leaves_failed += ok
                        ok = False
                    times.append(time.perf_counter() - t)
                self.metrics[f"{prefix}_s"] = statistics.median(times)
            acc = self.stats.harvest(before)
            self.metrics[f"{prefix}_jobs"] = len(acc.jobs) / REPS
            self.metrics[f"{prefix}_shuffle_mb"] = acc.shuffle_write_bytes / REPS / 1e6
            self.spark.catalog.clearCache()
        con.close()
