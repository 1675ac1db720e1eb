"""Politeness state across a kill/resume: the driver-dict _HostState is
rebuilt from the fetch ledger (scheduler.host_state_df) on every resume, so
a killed campaign must finish byte-identical to an uninterrupted one — with
the abuse-demotion branch binding, and from catalogs that an older
catalog-table storage mode left behind.
"""

import pytest
from pyspark.sql import functions as F

from visiblev8_crawler_spark import schemas
from visiblev8_crawler_spark.catalog import ParquetCatalog
from visiblev8_crawler_spark.streaming import scheduler
from visiblev8_crawler_spark.streaming.scheduler import TABLE_SCHEMAS, CrawlConfig

# demote_after_failures=2 so the abuse-demotion branch BINDS in this small
# world (~10% of fetches fail): resume must reproduce demoted budgets, not
# just the happy token-bucket path
CFG = CrawlConfig(batch_size=150, demote_after_failures=2)
# every ledger column except decode_ms (wall-clock timing of the decode)
LEDGER_COLS = [f.name for f in schemas.FETCHES.fields if f.name != "decode_ms"]


def _inputs(spark, world):
    return tuple(
        spark.read.parquet(world["paths"][k]) for k in ("frontier", "robots", "images")
    )


def _ledger(cat):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in cat.read("fetches").select(*LEDGER_COLS).collect()
    )


def _state(cat, robots):
    # credit compared EXACTLY (no tolerance): the in-run dict update and the
    # resume fold run the same IEEE-double operation order
    return {
        r["host"]: (r["credit"], r["last_wave"], r["ok"], r["failed"])
        for r in scheduler.host_state_df(
            cat, robots, CFG.default_budget, CFG.wave_period_s,
            CFG.demote_after_failures, CFG.demote_factor,
        ).collect()
    }


def _demoted_waves(cat):
    """(host, wave) for every wave a host entered demoted, replayed from
    the ledger with the politeness rule (failed >= N and failed > ok)."""
    per_wave = (
        cat.read("fetches")
        .groupBy("host", "wave_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("status") == "OK", 1).otherwise(0)).alias("ok"),
        )
        .orderBy("host", "wave_id")
        .collect()
    )
    record, out = {}, []
    for r in per_wave:
        ok, failed = record.get(r["host"], (0, 0))
        if failed >= CFG.demote_after_failures and failed > ok:
            out.append((r["host"], r["wave_id"]))
        record[r["host"]] = (ok + r["ok"], failed + r["n"] - r["ok"])
    return out


@pytest.fixture(scope="module")
def straight(spark, world, tmp_path_factory):
    frontier, robots, images = _inputs(spark, world)
    root = str(tmp_path_factory.mktemp("cat_hs_straight"))
    return scheduler.run_campaign(spark, root, frontier, robots, images, CFG)


def test_demotion_kill_resume_identical(spark, world, tmp_path_factory, straight):
    """Kill after 2 waves, resume: the ledger is byte-equal to the
    uninterrupted campaign, and so is the host state folded from it."""
    frontier, robots, images = _inputs(spark, world)
    root = str(tmp_path_factory.mktemp("cat_hs_resume"))
    cat = scheduler.run_campaign(
        spark, root, frontier, robots, images, CFG, stop_after_waves=2
    )
    assert cat.watermark() == 1
    cat = scheduler.run_campaign(spark, root, frontier, robots, images, CFG)

    assert _ledger(cat) == _ledger(straight)
    assert _state(cat, robots) == _state(straight, robots)
    assert scheduler.pending_df(cat).count() == 0
    # the resumed waves started from a demoted record the fold had to carry
    assert any(w >= 2 for _h, w in _demoted_waves(straight)), _demoted_waves(straight)


def test_old_table_mode_catalog_resumes(spark, world, tmp_path_factory, straight):
    """A catalog from the removed catalog-table storage mode — a committed
    ``host_state`` table plus the storage-mode meta pin in its manifest —
    resumes to the same ledger as a fresh campaign. The legacy table is
    left untouched and never read."""
    frontier, robots, images = _inputs(spark, world)
    root = str(tmp_path_factory.mktemp("cat_hs_legacy"))
    scheduler.run_campaign(
        spark, root, frontier, robots, images, CFG, stop_after_waves=2
    )
    legacy = ParquetCatalog(
        spark, root, {**TABLE_SCHEMAS, "host_state": schemas.HOST_STATE}
    )
    legacy.commit(
        None,
        appends={
            "host_state": scheduler.host_state_df(
                legacy, robots, CFG.default_budget, CFG.wave_period_s,
                CFG.demote_after_failures, CFG.demote_factor,
            )
        },
        meta={"host_state_mode": "table"},
    )
    legacy_sets = legacy._load_manifest()["tables"]["host_state"]

    cat = scheduler.run_campaign(spark, root, frontier, robots, images, CFG)
    assert _ledger(cat) == _ledger(straight)
    assert cat.watermark() == straight.watermark()
    assert cat._load_manifest()["tables"]["host_state"] == legacy_sets
    assert (
        cat.read("metrics").agg(F.sum("n_attempted")).collect()[0][0]
        == straight.read("metrics").agg(F.sum("n_attempted")).collect()[0][0]
    )
