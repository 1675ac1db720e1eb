"""Stage-then-merge bulk load (S15) — the reference's ``*_import_schema``
pattern: rows are bulk-loaded into a staging table, then inserted into the
deduplicated final table guarded by UNIQUE constraints
(vv8_backend_database/init/2_mega_vv8_postgres_schema.sql:2-13, 34, 48 —
"terminate script duplication with extreme prejudice").

Spark/Iceberg form: ``MERGE INTO final USING staging ON keys WHEN NOT
MATCHED THEN INSERT``. Over the parquet-manifest catalog shim that is:

    1. dedup the incoming batch on the key columns (first occurrence by a
       caller-supplied deterministic order — the staging table's insertion
       order analog),
    2. anti-join the survivors against the committed table's keys,
    3. append atomically.

Idempotent: replaying the same batch inserts nothing (every key already
matched), which is what makes it safe under at-least-once delivery — the
same property add_seeds relies on for the frontier. At scale, step 2 is
where a bloom pre-filter slots in — the screen-then-exact-confirm shape
add_seeds runs with operators/bloom.py — when the committed side outgrows a
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import ParquetCatalog


def merge_append(
    cat: ParquetCatalog,
    table: str,
    staged: DataFrame,
    keys: list[str],
    order_col: str,
    tag: str | None = None,
) -> int:
    """MERGE-INTO-when-not-matched over the catalog shim. Returns the number
    of rows actually inserted. ``order_col`` breaks ties within the staged
    batch deterministically (ascending; the reference's SERIAL order)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    batch = (
        staged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    current_keys = cat.read(table).select(*keys)
    fresh = batch.join(current_keys, keys, "left_anti").persist()
    n = fresh.count()
    if n:
        cat.commit(tag or f"merge-{cat.file_sets(table)}", appends={table: fresh})
    fresh.unpersist()
    return n
