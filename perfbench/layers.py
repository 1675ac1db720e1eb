"""Per-layer metrics, folded from a traced run's spans and counts.

Every metric is measured from outside the program: spans around calls into a
layer's public functions, the layer probe, the catalog ledger, or the counts
``add_seeds`` returns. ``_s`` values are medians per call (per campaign,
per pass) unless the table in README.md says otherwise. A layer the workload
never enters reads 0.
"""

from __future__ import annotations

from analytics import MIX
from spans import Span, Tracer, median


def _per_op(t: Tracer, op: str, name: str) -> list[float]:
    """Sum of ``name`` spans inside each ``op`` span, one value per op."""
    return [sum(s.dur for s in t.find(name, o)) for o in t.find(op)]


def _setups(t: Tracer) -> list[Span]:
    """Measured campaign calls that ran a set-up: the drained campaign and
    the set-up probes (the warm-up is left out)."""
    return t.find("op.campaign") + t.find("op.setup")


def _in_setups(t: Tracer, name: str) -> list[float]:
    """Sum of ``name`` spans inside each measured set-up, one value each."""
    return [sum(s.dur for s in t.find(name, o)) for o in _setups(t)]


def _direct(t: Tracer, parent: Span, name: str) -> list[Span]:
    return [c for c in t.children(parent) if c.name == name]


def _setup_self(t: Tracer) -> list[float]:
    """Campaign time before its first fetch write not covered by a span."""
    out = []
    for c in _setups(t):
        kids = t.children(c)
        first = next((k for k in kids if k.name == "catalog.write.fetches"), None)
        if first is not None:
            covered = sum(k.dur for k in kids if k.end <= first.start)
            out.append(first.start - c.start - covered)
    return out


def _post_commit(t: Tracer) -> list[float]:
    """Wave commit return to the next wave's fetch write, minus child spans:
    the pending update and host-state update the scheduler runs inline."""
    out = []
    for c in t.find("op.campaign") + t.find("op.resume"):
        kids = t.children(c)
        for i, k in enumerate(kids):
            if k.name != "catalog.commit" or i == 0 or kids[i - 1].name != "catalog.write.fetches":
                continue
            nxt = next((n for n in kids[i + 1:] if n.name == "catalog.write.fetches"), None)
            end = nxt.start if nxt is not None else c.end
            covered = sum(n.dur for n in kids[i + 1:] if n.end <= end)
            out.append(end - k.end - covered)
    return out


def _probe(t: Tracer, name: str) -> Span | None:
    got = t.find(name)
    return got[0] if got else None


def _plans(t: Tracer, module: str, span: str, per: str) -> float:
    vals = [
        sum(s.dur for s in t.find(span, p) if s.attrs.get("module") == module)
        for p in t.find(per)
    ]
    return median(vals)


def layer_metrics(t: Tracer, counts: dict) -> dict[str, tuple[float, str]]:
    def dur(span):
        return span.dur if span is not None else 0.0

    sel, fetch = _probe(t, "probe.select"), _probe(t, "probe.fetch")
    rows = sel.attrs.get("rows", 0) if sel is not None else 0
    m: dict[str, tuple[float, str]] = {
        "prep.plan_s": (median(_in_setups(t, "prep.plan")), "s"),
        "prep.write_s": (median(
            a + b for a, b in zip(
                _in_setups(t, "catalog.write.frontier_prepared"),
                _in_setups(t, "catalog.write.rejected"),
            )
        ), "s"),
        "setup.warmup_s": (median(_in_setups(t, "setup.warmup")), "s"),
        "setup.self_s": (median(_setup_self(t)), "s"),
        "pending.derive_s": (dur(_probe(t, "probe.pending")), "s"),
        "host_state.load_s": (dur(_probe(t, "probe.host_state")), "s"),
        "select.plan_s": (median(s.dur for s in t.find("select.plan", "op.campaign")), "s"),
        "select.exec_s": (dur(sel), "s"),
        "select.rows": (float(rows), "count"),
        "fetch.exec_s": (dur(fetch), "s"),
        "fetch.rows_per_s": (rows / fetch.dur if fetch is not None and fetch.dur else 0.0,
                             "rows/s"),
        "fetch.ok_ratio": (counts.get("fetch.ok_ratio", 0.0), "ratio"),
        "fetch.retry_ratio": (counts.get("fetch.retry_ratio", 0.0), "ratio"),
        "catalog.write_fetches_s": (
            median(s.dur for s in t.find("catalog.write.fetches", "op.campaign")), "s"),
        "catalog.commit_s": (median(
            s.dur for c in t.find("op.campaign") for s in _direct(t, c, "catalog.commit")
        ), "s"),
        "catalog.commits": (median(
            len(_direct(t, c, "catalog.commit")) for c in t.find("op.campaign")
        ), "count"),
        "catalog.compact_s": (median(_per_op(t, "op.campaign", "catalog.compact")), "s"),
        "catalog.expire_s": (median(_per_op(t, "op.campaign", "catalog.expire")), "s"),
        "catalog.file_sets.fetches": (float(counts.get("catalog.file_sets.fetches", 0)),
                                      "count"),
        "wave.post_commit_s": (median(_post_commit(t)), "s"),
        "ingest.prep_plan_s": (sum(s.dur for s in t.find("prep.plan", "op.add_seeds")), "s"),
        "bloom.build_s": (sum(s.dur for s in t.find("bloom.build", "op.add_seeds")), "s"),
        "bloom.probe_plan_s": (
            sum(s.dur for s in t.find("bloom.probe_plan", "op.add_seeds")), "s"),
        "bloom.or_delta_s": (sum(s.dur for s in t.find("bloom.or_delta", "op.add_seeds")), "s"),
        "ingest.commit_s": (sum(s.dur for s in t.find("catalog.commit", "op.add_seeds")), "s"),
        "ingest.self_s": (sum(t.self_time(s) for s in t.find("op.add_seeds")), "s"),
        "ingest.added_ratio": (counts.get("ingest.added_ratio", 0.0), "ratio"),
        "ingest.suspect_ratio": (counts.get("ingest.suspect_ratio", 0.0), "ratio"),
        "op.add_seeds_s": (sum(s.dur for s in t.find("op.add_seeds")), "s"),
        "op.resume_s": (sum(s.dur for s in t.find("op.resume")), "s"),
    }
    for mod in MIX:
        m[f"plans.{mod}.s"] = (_plans(t, mod, "query.collect", "pass"), "s")
        m[f"plans.{mod}.noop_s"] = (_plans(t, mod, "query.noop", "noop_pass"), "s")
    m["query.plan_s"] = (median(s.dur for s in t.find("query.plan", "pass")), "s")
    return m
