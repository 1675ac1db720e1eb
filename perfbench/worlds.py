"""Seeded inputs for the crawl workload.

A crawl world is a pure function of the seed: the same seed writes the same
parquet bytes. Rows come from ``sources.synth``'s pure row functions; the
seed picks an index offset into the synthetic frontier, so each seed crawls a
different URL list over the same host and image universe. The program under
test receives only these files.

Worlds are cached under the work directory per seed, together with their
reference outputs, so generation never runs inside a timed region. (The
analytics workload reads the fixed sf0.1 fixture in ``data/sf0.1``.)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- crawl world ------------------------------------------------------------

# The frontier shape: a Zipf host skew over a small image universe, tiny
# 16-32 px images, a politeness budget scale of 4 and a 1200 s wave period,
# so waves are batch-bound rather than politeness-bound. At 100 rows a wave
# is mostly fixed per-wave cost: planning, the fused select+fetch+write job,
# the commit and the pending update.
CRAWL = {
    "n_images": 300,
    "n_hosts": 150,
    "n_urls": 750,  # seven full waves (0-6), a short wave and a retry wave
    "n_ingest_new": 450,  # fresh rows in the add_seeds batch
    "n_ingest_repeat": 150,  # rows re-submitted from the campaign frontier
    "budget_scale": 4,
}
CRAWL_CONFIG = {
    "batch_size": 100,
    "default_budget": 100,
    "wave_period_s": 1200.0,
    "compact_every": 4,  # compaction after waves 3 and 7
}


def _seed_offset(seed: int) -> int:
    # rows are pure functions of their index: a seed-derived offset selects a
    # disjoint slice of the synthetic frontier for each seed
    return 1_000_000 * (1 + seed % 100_000)


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def _frontier_rows(first: int, n: int, seq0: int, sizes: dict) -> list[dict]:
    from visiblev8_crawler_spark.sources import synth

    rows = []
    for k in range(n):
        r = synth.frontier_row(first + k, sizes["n_images"], sizes["n_hosts"])
        r["seq"] = seq0 + k
        rows.append(r)
    return rows


def crawl_world(out_dir: str, seed: int, sizes: dict = CRAWL) -> dict:
    """Write images / robots / campaign frontier / ingest batch parquet and
    return their paths plus the python-side rows the references need."""
    import pandas as pd

    from visiblev8_crawler_spark.sources import synth

    os.makedirs(out_dir, exist_ok=True)
    off = _seed_offset(seed)
    frontier = _frontier_rows(off, sizes["n_urls"], 1, sizes)
    # ingest batch: fresh rows past the campaign frontier, interleaved with
    # re-submissions of campaign urls (the crawl-cache hits add_seeds screens)
    fresh = _frontier_rows(off + sizes["n_urls"], sizes["n_ingest_new"], 1, sizes)
    rng = np.random.default_rng(seed)
    picks = rng.choice(sizes["n_urls"], size=sizes["n_ingest_repeat"], replace=False)
    batch = fresh + [dict(frontier[int(i)]) for i in picks]
    order = rng.permutation(len(batch))
    batch = [{**batch[int(i)], "seq": k + 1} for k, i in enumerate(order)]

    images = synth.generate_images_pdf(sizes["n_images"])
    robots = synth.generate_robots_pdf(sizes["n_hosts"], sizes["budget_scale"])
    paths = {
        "images": _write(
            pa.Table.from_pandas(images, schema=synth.IMAGES_PA_SCHEMA, preserve_index=False),
            os.path.join(out_dir, "images.parquet"),
        ),
        "robots": _write(
            pa.Table.from_pandas(robots, preserve_index=False),
            os.path.join(out_dir, "robots.parquet"),
        ),
        "frontier": _write(
            pa.Table.from_pandas(pd.DataFrame(frontier), preserve_index=False),
            os.path.join(out_dir, "frontier.parquet"),
        ),
        "ingest": _write(
            pa.Table.from_pandas(pd.DataFrame(batch), preserve_index=False),
            os.path.join(out_dir, "ingest.parquet"),
        ),
    }
    return {
        "paths": paths,
        "frontier": frontier,
        "ingest": batch,
        "robots": {r["host"]: r for r in robots.to_dict("records")},
        "images": {r["image_id"]: r for r in images.to_dict("records")},
    }
