"""Driver-collect discipline: no query path may bring a data-sized relation
to the driver. Every ``.collect()`` / ``.toPandas()`` call under ``plans/``
is listed here by (file, enclosing function) with the bound that keeps its
result small; a new call must be added with its bound (or, better, stay on
the executors)."""

import ast
import os

PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "visiblev8_crawler_spark",
    "plans",
)

# (file, enclosing function, method) -> the bound on the rows collected
ALLOWED = {
    ("annops.py", "_query_vec", "collect"): "one row: the fixed query vector",
    ("annops.py", "embedding_ivf_topk", "collect"):
        "the 4 fixed coarse-centroid rows",
    ("annops.py", "embedding_lsh_neardup_pairs_incremental", "collect"):
        # the max(vec_id) agg is one row; the delta-vector collect beside it
        # is the KNOWN ROADMAP CARRY-OVER (build the delta bucket index on
        # the executors, or bound the delta size and fail loudly)
        "one max() row; the delta collect is a known carry-over",
    ("annops.py", "_kmeans_train", "collect"):
        "k seed rows, then k centroid rows per Lloyd step",
    ("annops.py", "embedding_quantized_topk", "collect"):
        "one row: the quantized query vector",
    ("annops.py", "_pca_train", "collect"):
        "one moments row per partition",
    ("packing.py", "_with_token_prefix_sum", "collect"):
        "one token-subtotal row per partition",
    ("textops.py", "minhash_lsh_pairs_incremental", "collect"):
        "one max() row: the doc_id cursor",
}


def _driver_collects():
    """{(file, innermost enclosing function, method)} for every
    ``<expr>.collect()`` / ``<expr>.toPandas()`` call under plans/."""
    found = set()

    def visit(node, fn, name):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("collect", "toPandas")
        ):
            found.add((name, fn or "<module>", node.func.attr))
        for child in ast.iter_child_nodes(node):
            visit(child, fn, name)

    for name in sorted(os.listdir(PLANS)):
        if name.endswith(".py"):
            path = os.path.join(PLANS, name)
            with open(path) as f:
                visit(ast.parse(f.read(), path), None, name)
    return found


def test_every_driver_collect_is_allowlisted():
    found = _driver_collects()
    unlisted = found - set(ALLOWED)
    assert not unlisted, f"driver collect outside the allowlist: {sorted(unlisted)}"
    stale = set(ALLOWED) - found
    assert not stale, f"allowlist entries with no matching call: {sorted(stale)}"
