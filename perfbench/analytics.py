"""The ``analytics`` workload: a fixed query mix over the sf0.1 fixture.

Closed loop, one client, one query in flight. The mix covers every
``plans.*`` module through the ``__spark_entry__.queries()`` registry. An
operation is one query execution (build the DataFrame, then ``collect()``).
The tables are ``data/sf0.1``, a byte-identical copy of the repository's
sf0.1 test fixture, kept beside the benchmark because a run may read only
its own checkout. The seed sets the order in which the client issues the
mix's queries.

The first two passes over the mix are the warm-up and are not timed as
steady state. The first runs each query for the first time (planning, code
generation, Python worker start); its wall time is ``setup_s``. The second
lets JIT compilation settle. Warm passes then repeat until ``--seconds`` have
elapsed; at least one runs. ``op_s`` is the geometric mean over the mix of
each query's median warm latency.

Every result is checked. Queries with a DuckDB oracle in ``oracle_sql()``
must match it on the same parquet; the others must match their warm-up
result. Traced runs add one pass that writes each query to a noop sink, to
split compute from ``collect()``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os
import random
import statistics
import time

from ops import Run
from spans import Tracer

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

# module -> queries: one query per plans.* module, each oracle-checked except
# doc_pack_sequences (no oracle). The textops, annops and imageops picks run
# the LSH and MIH candidate-pair kernels. One query per module keeps a run
# with its warm-up pass under a minute on 4 cores.
MIX = {
    "queries": ["star_join_revenue"],
    "textops": ["minhash_lsh_pairs"],
    "annops": ["embedding_lsh_topk"],
    "imageops": ["image_phash_topk"],
    "inference": ["classifier_inference"],
    "packing": ["doc_pack_sequences"],
}
MODULE_OF = {q: m for m, qs in MIX.items() for q in qs}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6) + 0.0
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (dt.date, bytes, bytearray)):
        return repr(v)
    return v


def digest(cols: list[str], rows) -> list:
    """Order-insensitive canonical form: columns by name, rows sorted."""
    cols = [c.lower() for c in cols]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rows),
        key=lambda t: json.dumps(t, default=str),
    )


def _oracles(world_dir: str, names) -> dict:
    import duckdb

    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{world_dir}/{t}.parquet'")
        out = {}
        for n in names:
            if n in sqls:
                res = con.sql(sqls[n])
                out[n] = digest(res.columns, res.fetchall())
        return out
    finally:
        con.close()


def prepare(work: str, seed: int) -> tuple[str, dict, list[str]]:
    """The table directory, the DuckDB oracle digests (computed once per
    checkout, outside any timed region) and this seed's query order."""
    d = os.path.join(work, "worlds", "analytics-sf0.1")
    ref_path = os.path.join(d, "oracle.json")
    if not os.path.exists(ref_path):
        os.makedirs(d, exist_ok=True)
        with open(ref_path + ".tmp", "w") as f:
            json.dump(_oracles(DATA, MODULE_OF), f)
        os.replace(ref_path + ".tmp", ref_path)
    with open(ref_path) as f:
        oracle = json.load(f)
    order = list(MODULE_OF)
    random.Random(seed).shuffle(order)
    return DATA, oracle, order


def _as_json(x):
    """The digest as the oracle file stores it (tuples become lists)."""
    return json.loads(json.dumps(x, default=str))


def run(spark, work: str, seed: int, seconds: float, tracer: Tracer,
        sabotage: bool = False) -> Run:
    import __spark_entry__ as entry

    world_dir, oracle, order = prepare(work, seed)
    if sabotage:  # self-test: an expected result no correct run can match
        oracle[next(iter(oracle))] = [["SABOTAGED"]]
    qs = entry.queries()
    run = Run(tracer)
    expect: dict = dict(oracle)

    def execute(name: str):
        with tracer.span("query.plan", query=name):
            df = qs[name](spark, world_dir)
        with tracer.span("query.collect", query=name, module=MODULE_OF[name]):
            return df.columns, df.collect()

    def checker(name: str):
        def check(out):
            got = _as_json(digest(*out))
            if not got:
                return [f"{name}: empty result"]
            if name not in expect:  # no oracle: the warm-up result is the reference
                expect[name] = got
            return [] if got == expect[name] else [f"{name}: result differs from its reference"]
        return check

    def one_pass(key: str) -> float:
        t0 = time.perf_counter()
        for name in order:
            _, dur = run.op(key, lambda: execute(name), checker(name))
            if key == "query":
                run.add("query_s", dur)
        return time.perf_counter() - t0

    # warm-up: the first pass runs each query for the first time and is the
    # set-up sample; a second, untimed pass lets JIT compilation settle (the
    # first warm pass ran ~20% slower than the later ones, which agreed
    # within a few percent)
    with tracer.span("warmup"):
        run.add("setup_s", one_pass("warmup"))
        one_pass("settle")

    t_start = time.perf_counter()
    while True:
        with tracer.span("pass"):
            run.add("pass_s", one_pass("query"))
        if time.perf_counter() - t_start >= seconds:
            break
    # op_s: geometric mean over the mix of each query's median warm latency,
    # so every query weighs the same and no single order statistic decides
    q, n = run.samples["query_s"], len(order)
    run.samples["op_s"] = [
        math.exp(statistics.fmean(math.log(statistics.median(q[i::n])) for i in range(n)))
    ]

    if tracer.enabled:  # compute without the collect
        with tracer.span("noop_pass"):
            for name in order:
                df = qs[name](spark, world_dir)
                with tracer.span("query.noop", query=name, module=MODULE_OF[name]):
                    df.write.format("noop").mode("overwrite").save()
    return run
