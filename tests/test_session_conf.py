"""Session-wide Spark conf discipline: a plan or campaign path that changes
the shared session conf changes it for every other query on that session.
Every such call is listed here with its reason, and the ones that remain
restore the prior value however they exit."""

import ast
import os

import pytest

from visiblev8_crawler_spark.streaming import scheduler
from visiblev8_crawler_spark.streaming.scheduler import CrawlConfig

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "visiblev8_crawler_spark",
)
ARROW_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _conf_set_calls():
    """(path relative to the package, first-argument source) of every
    ``<expr>.conf.set(...)`` call under the package."""
    found = set()
    for d, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(d, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                fn = getattr(node, "func", None)
                if (
                    isinstance(node, ast.Call)
                    and isinstance(fn, ast.Attribute)
                    and fn.attr == "set"
                    and isinstance(fn.value, ast.Attribute)
                    and fn.value.attr == "conf"
                ):
                    rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                    found.add((rel, ast.unparse(node.args[0])))
    return found


def test_every_session_conf_set_is_allowlisted():
    """Discipline lock: a new session-wide ``conf.set`` anywhere in the
    package must be added here with its justification (or, better, be
    replaced by a per-plan setting)."""
    ALLOWED = {
        # run_campaign: the fetch kernel's Arrow batch size has no
        # per-operator knob; set for the campaign's duration, restored in
        # its finally (test_run_campaign_restores_arrow_conf_on_error)
        ("streaming/scheduler.py", "arrow_key"),
    }
    found = _conf_set_calls()
    unlisted = found - ALLOWED
    assert not unlisted, f"session-wide conf.set outside the allowlist: {sorted(unlisted)}"
    stale = ALLOWED - found
    assert not stale, f"allowlist entries with no matching call: {sorted(stale)}"


@pytest.mark.parametrize("prior", [None, "123"])
def test_run_campaign_restores_arrow_conf_on_error(
    spark, world, tmp_path_factory, monkeypatch, prior
):
    """run_campaign sets the Arrow batch size for its own duration: an
    exception during campaign set-up (here the host-state load) must leave
    the session conf exactly as it found it — unset or set."""
    root = str(tmp_path_factory.mktemp("cat_conf"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])

    def boom(*_a, **_k):
        raise RuntimeError("injected host-state load failure")

    monkeypatch.setattr(scheduler, "host_state_df", boom)
    before = spark.conf.get(ARROW_KEY, None)
    try:
        if prior is None:
            spark.conf.unset(ARROW_KEY)
        else:
            spark.conf.set(ARROW_KEY, prior)
        expected = spark.conf.get(ARROW_KEY, None)
        with pytest.raises(RuntimeError, match="injected host-state load failure"):
            scheduler.run_campaign(
                spark, root, frontier, robots, images, CrawlConfig(batch_size=150)
            )
        assert spark.conf.get(ARROW_KEY, None) == expected
    finally:
        if before is None:
            spark.conf.unset(ARROW_KEY)
        else:
            spark.conf.set(ARROW_KEY, before)
