"""The ``crawl`` workload: campaigns, a seed ingest and a resume.

Closed loop, one client, one operation in flight. An operation is a
``run_campaign`` call or an ``add_seeds`` call; each is checked against a
pure-Python reference computed once per (world, seed) before any timing.

1. Warm-up: a campaign on an empty catalog, stopped after its first wave.
   It pays the session's one-time costs (JIT, Python worker start) and its
   set-up time is reported as ``cold_setup_s``; it enters no end-to-end
   metric.
2. Set-up probes until ``--seconds`` have elapsed (at least one):
   campaigns on empty catalogs, each stopped after its first wave. Each
   gives one set-up sample (call to first wave commit).
3. One campaign on an empty catalog, run until drained: its wall time
   (``pass_s``), one more set-up sample and its wave intervals, read from
   the catalog's snapshot history. ``op_s`` is the median over plain waves
   only: intervals that end at a full wave (``batch_size`` rows) with no
   compaction before it. Intervals after a compaction are reported apart,
   as ``wave_maint_p50_s``.

Every campaign is checked: against the reference's whole campaign when
drained, against its first wave when stopped.

Traced runs (``--trace 1``) go on with the layers the campaigns never reach,
so that untraced runs stay short enough to repeat many times:

4. ``add_seeds`` of one batch into the drained campaign's catalog: fresh urls plus
   re-submissions of crawled ones, so the bloom screen, its exact confirm
   join and the bloom ``replace`` / frontier ``append`` commit all run.
5. The layer probe times pending derive, host-state load, wave selection and
   fetch+verify one by one on the ingested catalog, because the wave's
   single write action fuses selection and fetch.
6. A resume (``stop_after_waves=1``) of that catalog: the kill-resume path
   re-derives pending and host state and commits one wave.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter

import worlds
from ops import Run
from spans import Tracer


def _canon_ref(world: dict) -> dict:
    """Reference outputs: the simulator's campaign, then a pure-Python
    disposition of the ingest batch against the campaign's pool and seen
    set (canonicalize, validate, first-occurrence dedup, robots gate, then
    membership)."""
    from visiblev8_crawler_spark.functions.urls import canonicalize
    from visiblev8_crawler_spark.simulator import simulate_campaign

    cfg = worlds.CRAWL_CONFIG
    sim = simulate_campaign(
        world["frontier"], world["robots"], world["images"],
        batch_size=cfg["batch_size"], default_budget=cfg["default_budget"],
        wave_period_s=cfg["wave_period_s"],
    )
    rejected = {seq for seq, _, _ in sim.rejected}
    pool = {
        canonicalize(r["url"])["canon_url"]
        for r in world["frontier"] if r["seq"] not in rejected
    }
    seen = set(sim.url_seen)

    def blocked(c: dict) -> bool:
        rb = world["robots"].get(c["host"])
        if rb is None:
            return False
        return bool(rb["full_block"]) or any(
            c["path"].startswith(p) for p in (rb["disallow_prefixes"] or ())
        )

    counts: Counter = Counter()
    batch_seen: set = set()
    for r in sorted(world["ingest"], key=lambda r: r["seq"]):
        c = canonicalize(r["url"])
        if not c["valid"]:
            counts["invalid"] += 1
        elif c["canon_url"] in batch_seen:
            counts["duplicate"] += 1
        else:
            batch_seen.add(c["canon_url"])
            if blocked(c):
                counts["robots"] += 1
            elif c["canon_url"] in seen:
                counts["cached"] += 1
            elif c["canon_url"] in pool:
                counts["enqueued"] += 1
            else:
                counts["added"] += 1
    return {
        "crawl_order": sorted(map(list, sim.crawl_order)),
        "fetch_status": [[f["wave_id"], f["status"]] for f in sim.fetches],
        "ingest_counts": dict(counts),
        "ingest_rows": len(world["ingest"]),
    }


def prepare(work: str, seed: int, sizes: dict = worlds.CRAWL) -> dict:
    """Generate (or reuse) the world and its reference for this seed."""
    d = os.path.join(work, "worlds", f"crawl-{seed}")
    ref_path = os.path.join(d, "reference.json")
    if not os.path.exists(ref_path):
        shutil.rmtree(d, ignore_errors=True)
        world = worlds.crawl_world(d, seed, sizes)
        ref = {"paths": world["paths"], **_canon_ref(world)}
        with open(ref_path + ".tmp", "w") as f:
            json.dump(ref, f)
        os.replace(ref_path + ".tmp", ref_path)
    with open(ref_path) as f:
        return json.load(f)


def _wave_commits(cat, after_watermark: int) -> list[tuple[int, float]]:
    """(wave id, committed_at) of each snapshot that advanced the watermark."""
    out, prev = [], after_watermark
    for seq in cat.snapshots():
        with open(os.path.join(cat.root, "_snapshots", f"v{seq}.json")) as f:
            m = json.load(f)
        if m["watermark"] > prev:
            out.append((m["watermark"], m["committed_at"]))
            prev = m["watermark"]
    return out


def _ledger(cat) -> list:
    return cat.read("fetches").select(
        "canon_url", "wave_id", "order_in_wave", "attempt", "status"
    ).collect()


def _check_campaign(rows, ref: dict, waves: int | None = None) -> list[str]:
    """Compare a ledger with the simulator's campaign, or with its first
    ``waves`` waves when the campaign was stopped early."""
    order, fetch_status = ref["crawl_order"], ref["fetch_status"]
    if waves is not None:
        ids = set(sorted({w for w, _ in fetch_status})[:waves])
        order = [o for o in order if o[1] in ids]
        fetch_status = [f for f in fetch_status if f[0] in ids]
    errs = []
    got = sorted([r.canon_url, r.wave_id, r.order_in_wave] for r in rows if r.attempt == 1)
    if got != order:
        errs.append("crawl order differs from the simulator")
    if {r.canon_url for r in rows if r.attempt == 1} != {o[0] for o in order}:
        errs.append("url_seen differs from the simulator")
    if Counter(r.status for r in rows) != Counter(s for _, s in fetch_status):
        errs.append("per-status counts differ from the simulator")
    return errs


def run(spark, work: str, seed: int, seconds: float, tracer: Tracer,
        sabotage: bool = False, sizes: dict = worlds.CRAWL) -> Run:
    from visiblev8_crawler_spark.streaming import scheduler

    ref = prepare(work, seed, sizes)
    if sabotage:  # self-test: a reference no correct run can match
        ref["fetch_status"].append([0, "SABOTAGED"])
    p = ref["paths"]
    frontier, robots, images, batch = (
        spark.read.parquet(p[k]) for k in ("frontier", "robots", "images", "ingest")
    )
    cfg = scheduler.CrawlConfig(**worlds.CRAWL_CONFIG)
    run = Run(tracer)
    cats = os.path.join(work, "catalogs")
    shutil.rmtree(cats, ignore_errors=True)

    def campaign(root: str, waves: int | None, name: str):
        """One checked run_campaign call on an empty catalog:
        (catalog, ledger, wave commits, call start, wall) or None."""
        box: dict = {}

        def check(c):
            box["ledger"] = _ledger(c)
            return _check_campaign(box["ledger"], ref, waves)

        t_call = time.time()
        got, wall = run.op(
            name,
            lambda: scheduler.run_campaign(
                spark, root, frontier, robots, images, cfg, stop_after_waves=waves
            ),
            check,
        )
        if got is None:
            return None
        return got, box["ledger"], _wave_commits(got, -1), t_call, wall

    def setup_time(got) -> float:
        return got[2][0][1] - got[3]

    # 1. warm-up
    warm = campaign(os.path.join(cats, "warmup"), 1, "warmup")
    if warm is not None:
        run.add("cold_setup_s", setup_time(warm))

    # 2. set-up probes until --seconds have elapsed
    t_start = time.perf_counter()
    k = 0
    while k == 0 or time.perf_counter() - t_start < seconds:
        got = campaign(os.path.join(cats, f"s{k}"), 1, "setup")
        k += 1
        if got is not None:
            run.add("setup_s", setup_time(got))

    # 3. one drained campaign
    got = campaign(os.path.join(cats, "drained"), None, "campaign")
    cat, ledger = None, []
    if got is not None:
        cat, ledger, commits, _, wall = got
        rows = Counter(r.wave_id for r in ledger)
        run.add("setup_s", setup_time(got))
        run.add("pass_s", wall)
        run.add("crawl_rows_per_s", len(ledger) / wall)
        run.add(
            "steady_rows_per_s",
            (len(ledger) - rows[commits[0][0]]) / (commits[-1][1] - commits[0][1]),
        )
        for (_, a), (w, b) in zip(commits, commits[1:]):
            run.add("wave_s", b - a)
            if w % cfg.compact_every == 0:  # compaction ran after wave w-1
                run.add("maint_s", b - a)
            elif rows[w] == cfg.batch_size:
                run.add("op_s", b - a)

    if cat is None or not tracer.enabled:
        return run
    run.layer["catalog.file_sets.fetches"] = cat.file_sets("fetches")
    attempts1 = sum(1 for r in ledger if r.attempt == 1)
    run.layer["fetch.ok_ratio"] = sum(1 for r in ledger if r.status == "OK") / len(ledger)
    run.layer["fetch.retry_ratio"] = (len(ledger) - attempts1) / attempts1

    # 4. one add_seeds batch into the drained catalog
    want = ref["ingest_counts"]
    counts, dur = run.op(
        "add_seeds",
        lambda: scheduler.add_seeds(spark, cat, batch, robots),
        lambda c: [] if {k: v for k, v in c.items() if v} == want
        else [f"dispositions {c} != reference {want}"],
    )
    run.add("ingest_s", dur)
    if counts is not None:
        prepared = ref["ingest_rows"] - sum(
            counts.get(r, 0) for r in ("invalid", "duplicate", "robots")
        )
        run.layer["ingest.added_ratio"] = counts.get("added", 0) / ref["ingest_rows"]
        run.layer["ingest.suspect_ratio"] = (
            counts.get("cached", 0) + counts.get("enqueued", 0)
        ) / max(prepared, 1)

    # 5. the layer probe
    _probe(spark, cat, robots, images, cfg, tracer)

    # 6. resume: re-derive state from the catalog, commit exactly one wave
    wm = cat.watermark()

    def resumed_ok(c) -> list[str]:
        errs = []
        if c.watermark() <= wm or len(_wave_commits(c, wm)) != 1:
            errs.append("resume did not commit exactly one wave")
        firsts = [r.canon_url for r in _ledger(c) if r.attempt == 1]
        if len(firsts) != len(set(firsts)):
            errs.append("ledger has a duplicate attempt-1 canon_url")
        return errs

    _, dur = run.op(
        "resume",
        lambda: scheduler.run_campaign(
            spark, cat.root, frontier, robots, images, cfg, stop_after_waves=1
        ),
        resumed_ok,
    )
    run.add("resume_s", dur)
    return run


def _probe(spark, cat, robots, images, cfg, tracer: Tracer) -> None:
    """Time the layers the wave's fused write action hides, one by one."""
    from visiblev8_crawler_spark.streaming import scheduler

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(cfg.arrow_batch_rows))  # the wave loop's setting
    try:
        with tracer.span("probe"):
            with tracer.span("probe.pending"):
                pending = scheduler.pending_df(cat, cfg.salt_width).localCheckpoint(eager=True)
            with tracer.span("probe.host_state"):
                state = scheduler.host_state_df(
                    cat, robots, cfg.default_budget, cfg.wave_period_s,
                    cfg.demote_after_failures, cfg.demote_factor,
                ).localCheckpoint(eager=True)
            with tracer.span("probe.select") as s:
                selected = scheduler.select_wave(
                    pending, robots, cat.watermark() + 1, cfg.batch_size,
                    cfg.default_budget, cfg.salt_width,
                    wave_period_s=cfg.wave_period_s, host_state=state,
                    demote_after_failures=cfg.demote_after_failures,
                    demote_factor=cfg.demote_factor,
                ).persist()
                s.attrs["rows"] = selected.count()
            with tracer.span("probe.fetch"):
                scheduler.fetch_verify(selected, images, cfg.fetch_timeout_ms).write.format(
                    "noop"
                ).mode("overwrite").save()
            selected.unpersist()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
