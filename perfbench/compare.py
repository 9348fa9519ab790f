"""Check the layer split between the two crawl workloads from their traced
runs' trace files.

    python3 perfbench/compare.py SEED

Reads ``.perfbench_run/trace-crawl_{wide,polite}-s<SEED>.json`` (written
by ``run.py --trace 1``) and confirms that per-round overhead, not
per-page work, is what separates them:

- ``engine.exec_ms_per_page`` on crawl_polite is at least 10x crawl_wide's;
- the parse UDF's time (``parse.udf_us_per_page`` x pages) is a larger
  share of ``Engine.run`` wall time on crawl_wide than on crawl_polite;
- a crawl_wide round (``round_p50_ms``) takes longer than a crawl_polite one.

Exits 1 if any does not hold. It also prints ``engine.core_busy_frac`` of
both, without a check: Spark counts Python-worker start-up inside task run
time, so the many small tasks of crawl_polite keep it as high as crawl_wide,
whose per-page work runs on about one core (``engine.exec_ms_per_page`` x
pages is about one core-second per second of a fat round).
"""

from __future__ import annotations

import json
import os
import sys

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".perfbench_run")


def main() -> int:
    seed = sys.argv[1]
    t = {}
    for w in ("crawl_wide", "crawl_polite"):
        with open(os.path.join(OUT_DIR, f"trace-{w}-s{seed}.json")) as f:
            t[w] = json.load(f)
    exec_w = t["crawl_wide"]["per_layer"]["engine.exec_ms_per_page"]
    exec_p = t["crawl_polite"]["per_layer"]["engine.exec_ms_per_page"]
    share_w = t["crawl_wide"]["notes"]["parse_udf_share_of_run"]
    share_p = t["crawl_polite"]["notes"]["parse_udf_share_of_run"]
    busy_w = t["crawl_wide"]["per_layer"]["engine.core_busy_frac"]
    busy_p = t["crawl_polite"]["per_layer"]["engine.core_busy_frac"]
    round_w = t["crawl_wide"]["end_to_end_traced"]["round_p50_ms"]
    round_p = t["crawl_polite"]["end_to_end_traced"]["round_p50_ms"]
    ratio = exec_p / exec_w
    checks = [
        (f"engine.exec_ms_per_page: polite {exec_p:.1f} / wide {exec_w:.2f} = {ratio:.1f}x",
         ratio >= 10, ">= 10x"),
        (f"parse UDF share of Engine.run: wide {share_w:.2%} vs polite {share_p:.2%}",
         share_w > share_p, "wide larger"),
        (f"round_p50_ms: wide {round_w:.0f} vs polite {round_p:.0f}",
         round_w > round_p, "wide longer"),
    ]
    for text, ok, want in checks:
        print(f"{text} ({'ok' if ok else 'FAIL'}: {want})")
    print(f"engine.core_busy_frac: wide {busy_w:.3f} vs polite {busy_p:.3f} (not checked)")
    return 0 if all(ok for _, ok, _ in checks) else 1


if __name__ == "__main__":
    sys.exit(main())
