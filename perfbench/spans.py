"""In-memory spans around calls into the program's layers.

Spans are recorded only in a traced run (``--trace 1``). ``instrument``
wraps the public functions each layer exposes, by replacing the module
attributes the scheduler calls through; no program file changes, and
``uninstall`` restores the originals. A span is (id, name, start, end,
parent, attrs); spans of one operation share the operation's top-level span
as their root.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

    # -- queries over the recorded tree ----------------------------------
    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        return s.dur - sum(c.dur for c in self.children(s))

    def ancestors(self, s: Span) -> list[Span]:
        out = []
        p = s.parent
        while p is not None:
            out.append(self.spans[p])
            p = self.spans[p].parent
        return out

    def find(self, name: str, under: str | Span | None = None) -> list[Span]:
        """Spans called ``name``; with ``under``, only those below a span of
        that name (or below that very span)."""
        def below(s: Span) -> bool:
            if under is None:
                return True
            if isinstance(under, Span):
                return any(a.id == under.id for a in self.ancestors(s))
            return any(a.name == under for a in self.ancestors(s))

        return [s for s in self.spans if s.name == name and below(s)]


def _wrap(tracer: Tracer, owner, attr: str, name_of):
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with tracer.span(name_of(args, kwargs)):
            return orig(*args, **kwargs)

    setattr(owner, attr, traced)
    return owner, attr, orig


def instrument(tracer: Tracer):
    """Wrap each layer's public entry points; returns an ``uninstall``."""
    from visiblev8_crawler_spark.catalog import ParquetCatalog
    from visiblev8_crawler_spark.operators import bloom
    from visiblev8_crawler_spark.streaming import scheduler

    def fixed(name):
        return lambda a, k: name

    def write_name(a, k):  # (self, table, df, tag)
        return f"catalog.write.{a[1] if len(a) > 1 else k.get('name')}"

    patches = [
        (scheduler, "prepare_frontier", fixed("prep.plan")),
        (scheduler, "_warm_python_workers", fixed("setup.warmup")),
        (scheduler, "pending_df", fixed("pending.plan")),
        (scheduler, "host_state_df", fixed("host_state.plan")),
        (scheduler, "select_wave", fixed("select.plan")),
        (scheduler, "fetch_verify", fixed("fetch.plan")),
        (ParquetCatalog, "write_unpublished", write_name),
        (ParquetCatalog, "commit", fixed("catalog.commit")),
        (ParquetCatalog, "compact", fixed("catalog.compact")),
        (ParquetCatalog, "expire_snapshots", fixed("catalog.expire")),
        (bloom, "build_bloom", fixed("bloom.build")),
        (bloom, "with_bloom_maybe", fixed("bloom.probe_plan")),
        (bloom, "bloom_or_delta", fixed("bloom.or_delta")),
    ]
    installed = [_wrap(tracer, owner, attr, nm) for owner, attr, nm in patches]

    def uninstall():
        for owner, attr, orig in reversed(installed):
            setattr(owner, attr, orig)

    return uninstall


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
