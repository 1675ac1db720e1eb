"""Training-data text pipeline over the ``documents`` table — dedup,
fingerprinting, token stats, quality scoring, language-id, minhash/LSH,
n-gram jaccard, simhash. Each op is a Spark plan + an exactly-mirrored
DuckDB oracle (same tokenization, same md5-based hashing, same thresholds).

These are the 100 TB-pipeline operators the rebuild adds beyond the
reference (whose only text processing is script-body dedup by hash,
2_mega_vv8_postgres_schema.sql:34, and regex feature extraction,
production_classifier.py:140-229).

Hash discipline: every hash is md5 (identical builtin in Spark and DuckDB);
Spark's xxhash64 has no DuckDB twin, so it stays engine-internal only
(bloom filter, salting) and never appears in oracle-checked output.

Scale notes are per-op docstrings; the common pattern is: tokenize once,
explode to a (doc, shingle) relation, aggregate back — all JVM-side builtin
higher-order functions, no Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .queries import QUERIES, fanout, load, q

# shared tokenization contract (mirrored literally in each oracle)
def _with_tokens(df):
    return df.withColumn("toks", F.split(F.col("text"), " ")).withColumn(
        "n_tokens", F.size("toks")
    )


# ---------------------------------------------------------------------------
# exact dedup + fingerprinting
# ---------------------------------------------------------------------------


@q(
    "dedup_exact_docs",
    """
    SELECT md5(text) AS fingerprint, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
    FROM documents GROUP BY md5(text)
    """,
    "D3/D4: exact-content dedup by hash groupBy (2_mega:34 'extreme prejudice')",
)
def dedup_exact_docs(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("fingerprint"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper"))
    )


@q(
    "doc_fingerprint",
    "SELECT doc_id, md5(lower(text)) AS fp FROM documents",
    "document fingerprinting (normalized content hash; X3 sha-of-body analog)",
)
def doc_fingerprint(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower("text")).alias("fp")
    )


# ---------------------------------------------------------------------------
# token stats / quality / language-id
# ---------------------------------------------------------------------------


@q(
    "doc_token_count",
    """
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, n_chars
    FROM documents
    """,
    "token counting (whitespace contract shared with every shingle op)",
)
def doc_token_count(spark, sf_dir):
    return _with_tokens(load(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_chars"
    )


@q(
    "doc_quality_score",
    """
    WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           ROUND((n_chars - (len(toks) - 1)) * 1.0 / len(toks), 4) AS avg_token_len,
           ROUND(len(list_filter(toks, x -> x IN ('the', 'a'))) * 1.0 / len(toks), 4)
               AS stopword_ratio,
           ROUND(LEAST(len(toks) / 100.0, 1.0) * 0.5
                 + len(list_filter(toks, x -> x IN ('the', 'a'))) * 1.0 / len(toks) * 0.5,
                 4) AS quality
    FROM t
    """,
    "quality scoring: length + stopword-ratio features (classifier features analog, production_classifier.py:154-211)",
)
def doc_quality_score(spark, sf_dir):
    d = _with_tokens(load(spark, sf_dir, "documents"))
    stop = F.size(F.filter("toks", lambda x: x.isin("the", "a")))
    ratio = stop * 1.0 / F.col("n_tokens")
    return d.select(
        "doc_id",
        "n_tokens",
        F.round((F.col("n_chars") - (F.col("n_tokens") - 1)) * 1.0 / F.col("n_tokens"), 4).alias(
            "avg_token_len"
        ),
        F.round(ratio, 4).alias("stopword_ratio"),
        F.round(F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.5 + ratio * 0.5, 4).alias(
            "quality"
        ),
    )


@q(
    "doc_lang_id",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id,
                 len(list_filter(toks, x -> x = 'the'))   AS s_en,
                 len(list_filter(toks, x -> x = 'data'))  AS s_data,
                 len(list_filter(toks, x -> x = 'query')) AS s_query
          FROM t)
    SELECT doc_id,
           CASE WHEN s_en >= s_data AND s_en >= s_query THEN 'en-like'
                WHEN s_data >= s_query THEN 'data-like'
                ELSE 'query-like' END AS predicted,
           s_en, s_data, s_query
    FROM s
    """,
    "language-id by marker-token histogram (n-gram heuristic; deterministic, mirrored)",
)
def doc_lang_id(spark, sf_dir):
    d = _with_tokens(load(spark, sf_dir, "documents"))

    def cnt(word):
        return F.size(F.filter("toks", lambda x: x == word))

    s = d.select(
        "doc_id",
        cnt("the").alias("s_en"),
        cnt("data").alias("s_data"),
        cnt("query").alias("s_query"),
    )
    return s.select(
        "doc_id",
        F.when(
            (F.col("s_en") >= F.col("s_data")) & (F.col("s_en") >= F.col("s_query")), "en-like"
        )
        .when(F.col("s_data") >= F.col("s_query"), "data-like")
        .otherwise("query-like")
        .alias("predicted"),
        "s_en",
        "s_data",
        "s_query",
    )


# char-bigram profiles for the n-gram language-ID heuristic (the classic
# Cavnar-Trenkle shape, profile size trimmed to stay oracle-mirrorable)
_LANG_PROFILES = {
    "en-like": ("th", "he", "er"),
    "data-like": ("da", "ta", "se"),
    "query-like": ("qu", "ry", "el"),
}


def _occ_sql(sub: str) -> str:
    return f"CAST((len(text) - len(replace(text, '{sub}', ''))) / 2 AS BIGINT)"


@q(
    "doc_lang_id_ngram",
    f"""
    WITH s AS (SELECT doc_id,
        {" + ".join(_occ_sql(b) for b in _LANG_PROFILES["en-like"])} AS sc_en,
        {" + ".join(_occ_sql(b) for b in _LANG_PROFILES["data-like"])} AS sc_data,
        {" + ".join(_occ_sql(b) for b in _LANG_PROFILES["query-like"])} AS sc_query
      FROM documents)
    SELECT doc_id,
           CASE WHEN sc_en >= sc_data AND sc_en >= sc_query THEN 'en-like'
                WHEN sc_data >= sc_query THEN 'data-like'
                ELSE 'query-like' END AS predicted,
           sc_en, sc_data, sc_query
    FROM s
    """,
    "language-ID by character-bigram profile scoring (Cavnar-Trenkle n-gram heuristic): occurrence counts via length-difference, argmax with deterministic tiebreak; all JVM-side string ops",
)
def doc_lang_id_ngram(spark, sf_dir):
    d = load(spark, sf_dir, "documents")

    def occ(sub):
        return (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(sub), F.lit(""))))
            / 2
        ).cast("long")

    def score(lang):
        bigrams = _LANG_PROFILES[lang]
        total = occ(bigrams[0])
        for b in bigrams[1:]:
            total = total + occ(b)
        return total

    s = d.select(
        "doc_id",
        score("en-like").alias("sc_en"),
        score("data-like").alias("sc_data"),
        score("query-like").alias("sc_query"),
    )
    return s.select(
        "doc_id",
        F.when(
            (F.col("sc_en") >= F.col("sc_data")) & (F.col("sc_en") >= F.col("sc_query")),
            "en-like",
        )
        .when(F.col("sc_data") >= F.col("sc_query"), "data-like")
        .otherwise("query-like")
        .alias("predicted"),
        "sc_en",
        "sc_data",
        "sc_query",
    )


_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@q(
    "doc_token_count_bpe",
    f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens
    FROM documents
    """,
    "token counting, BPE-ish: alpha runs / digit runs / single punctuation as separate tokens (regexp_extract_all, JVM-side) next to the whitespace count",
)
def doc_token_count_bpe(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("n_bpe_tokens"),
    )


@q(
    "doc_winnow_fp",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
               WHERE len(string_split(text, ' ')) >= 6),
    h AS (SELECT doc_id,
                 list_transform(generate_series(1, len(toks) - 2),
                                i -> md5(array_to_string(toks[i:i+2], ' '))) AS hs
          FROM t),
    w AS (SELECT doc_id,
                 list_sort(list_distinct(
                     list_transform(generate_series(1, len(hs) - 3),
                                    i -> list_min(hs[i:i+3])))) AS mins
          FROM h)
    SELECT doc_id, len(mins) AS n_fingerprints,
           md5(array_to_string(mins, '|')) AS winnow_fp
    FROM w
    """,
    "document fingerprinting by winnowing: rolling 3-gram hashes -> per-4-window minimum -> distinct selected hashes -> digest; robust to local edits, the near-dup fingerprint MOSS uses",
)
def doc_winnow_fp(spark, sf_dir):
    d = (
        load(spark, sf_dir, "documents")
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 6)
    )
    hs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 2),
        lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, 3))),
    )
    h = d.select("doc_id", hs.alias("hs"))
    mins = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("hs") - 3),
                lambda i: F.array_min(F.slice("hs", i, 4)),
            )
        )
    )
    return h.select(
        "doc_id",
        F.size(mins).alias("n_fingerprints"),
        F.md5(F.concat_ws("|", mins)).alias("winnow_fp"),
    )


# ---------------------------------------------------------------------------
# shingles -> minhash -> LSH -> jaccard
# ---------------------------------------------------------------------------

_SHINGLE_SQL = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT doc_id,
                  unnest(CASE WHEN len(toks) >= 3
                         THEN list_transform(generate_series(1, len(toks) - 2),
                                             i -> array_to_string(toks[i:i+2], ' '))
                         ELSE [array_to_string(toks, ' ')] END) AS sh
           FROM t),
    shd AS (SELECT DISTINCT doc_id, sh FROM sh)
"""


def _shingles(spark, sf_dir, docs=None, distinct=True):
    """(doc_id, sh) distinct 3-word shingles; docs <3 tokens -> whole text.

    ``docs`` overrides the documents scan (the incremental path filters the
    delta BEFORE the explode so only new docs pay the shingling cost).

    fanout (round 6): the single-row-group documents file scans as ONE
    partition, serializing the shingle explode + 4x salted md5 that
    dominate every minhash consumer (guide §2) — rebalance first.

    ``distinct=False`` (round 6, guide §2.4): MIN is duplicate-insensitive,
    so the minhash-signature consumers skip the distinct() exchange
    entirely — the groupBy(doc_id) partial aggregation collapses repeat
    shingles map-side and the only shuffle carries 4 hashes per doc
    instead of the full (doc, shingle) relation. min over the multiset ==
    min over the set, so signatures (and the oracle hash) are unchanged.
    Consumers that COUNT shingles (jaccard, contamination) keep the
    distinct."""
    d = _with_tokens(fanout(load(spark, sf_dir, "documents") if docs is None else docs))
    sh = d.select(
        "doc_id",
        F.explode(
            F.when(
                F.col("n_tokens") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - 2),
                    lambda i: F.concat_ws(" ", F.slice("toks", i, 3)),
                ),
            ).otherwise(F.array(F.concat_ws(" ", F.col("toks"))))
        ).alias("sh"),
    )
    return sh.distinct() if distinct else sh


_SALTS = ("s1", "s2", "s3", "s4")


@q(
    "minhash_signatures",
    _SHINGLE_SQL
    + """
    SELECT doc_id,
           MIN(md5('s1:' || sh)) AS mh1, MIN(md5('s2:' || sh)) AS mh2,
           MIN(md5('s3:' || sh)) AS mh3, MIN(md5('s4:' || sh)) AS mh4
    FROM shd GROUP BY doc_id
    """,
    "MinHash: 4 salted min-hash signatures over 3-gram shingles (one shuffle: the groupBy doc_id; shingling itself is a codegen'd HOF explode)",
)
def minhash_signatures(spark, sf_dir):
    return _signatures(_shingles(spark, sf_dir, distinct=False))


def _signatures(sh):
    """(doc_id, mh1..mh4) salted min-hash signatures over a shingle relation."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("sh")))).alias(f"mh{i+1}")
        for i, s in enumerate(_SALTS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_table(sig):
    """Unpivot (doc_id, mh1..mh4) -> (doc_id, band, sig) bucket entries."""
    bands = None
    for i in range(len(_SALTS)):
        piece = sig.select(
            "doc_id", F.lit(i + 1).alias("band"), F.col(f"mh{i+1}").alias("sig")
        )
        bands = piece if bands is None else bands.unionByName(piece)
    return bands


@q(
    "minhash_lsh_pairs",
    _SHINGLE_SQL
    + """
    , sig AS (SELECT doc_id,
           MIN(md5('s1:' || sh)) AS mh1, MIN(md5('s2:' || sh)) AS mh2,
           MIN(md5('s3:' || sh)) AS mh3, MIN(md5('s4:' || sh)) AS mh4
       FROM shd GROUP BY doc_id),
    bands AS (
       SELECT doc_id, 1 AS band, mh1 AS sig FROM sig UNION ALL
       SELECT doc_id, 2, mh2 FROM sig UNION ALL
       SELECT doc_id, 3, mh3 FROM sig UNION ALL
       SELECT doc_id, 4, mh4 FROM sig)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
    FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
                             AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
    "MinHash-LSH: band -> bucket self-join -> candidate pairs (shingle->minhash->band->bucket-join); bucket join keys are (band, sig) so hot buckets, not hot docs, bound the skew",
)
def minhash_lsh_pairs(spark, sf_dir):
    # sig is referenced by 4 band projections x 2 self-join sides = 8 plan
    # references; uncached, each re-runs the shingle explode + groupBy.
    # Same persist rationale as ngram_jaccard_pairs above.
    sig = QUERIES["minhash_signatures"].spark(spark, sf_dir).persist()
    bands = _band_table(sig)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


# Incremental cursor: the top 20% of doc_ids stand in for "docs ingested
# since the last snapshot" (in production the cursor is a catalog.poll
# snapshot id and the old-corpus band table is a stored index table, read
# not recomputed). (max+1)*8//10 is exact integer math in BOTH engines —
# floor(0.8*x) in binary floating point is off-by-one for some x.
_LSH_INCR_ORACLE_SQL = (
    _SHINGLE_SQL
    + """
    , sig AS (SELECT doc_id,
           MIN(md5('s1:' || sh)) AS mh1, MIN(md5('s2:' || sh)) AS mh2,
           MIN(md5('s3:' || sh)) AS mh3, MIN(md5('s4:' || sh)) AS mh4
       FROM shd GROUP BY doc_id),
    bands AS (
       SELECT doc_id, 1 AS band, mh1 AS sig FROM sig UNION ALL
       SELECT doc_id, 2, mh2 FROM sig UNION ALL
       SELECT doc_id, 3, mh3 FROM sig UNION ALL
       SELECT doc_id, 4, mh4 FROM sig),
    cur AS (SELECT (MAX(doc_id) + 1) * 8 // 10 AS c FROM documents),
    newb AS (SELECT b.* FROM bands b, cur WHERE b.doc_id >= cur.c),
    oldb AS (SELECT b.* FROM bands b, cur WHERE b.doc_id < cur.c)
    SELECT doc_a, doc_b, COUNT(*) AS n_shared_bands FROM (
      SELECT o.doc_id AS doc_a, n.doc_id AS doc_b
      FROM newb n JOIN oldb o ON n.band = o.band AND n.sig = o.sig
      UNION ALL
      SELECT a.doc_id, b.doc_id
      FROM newb a JOIN newb b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ) GROUP BY doc_a, doc_b
    """
)


@q(
    "minhash_lsh_pairs_incremental",
    None,  # pytest-oracled via _LSH_INCR_ORACLE_SQL + full-recompute
           # equivalence (rotation policy: newborn, driver window next round)
    "INCREMENTAL near-dup: index only the ingest delta (doc_id >= cursor, "
    "standing in for a catalog.poll snapshot cursor) against the existing "
    "corpus — the 100 TB path where re-minhashing the corpus per ingest "
    "batch is the thing you must never do. Delta docs are filtered BEFORE "
    "the shingle explode (delta-sized compute); the old-corpus band table "
    "is derived in-query here but is a stored catalog table in production. "
    "Join shape: broadcast the delta's bucket entries against the index "
    "(delta ≪ corpus by construction; production gates the broadcast on "
    "delta size) + a delta self-join for new×new pairs. Output equals the "
    "full recompute restricted to pairs touching the delta — CI-gated.",
)
def minhash_lsh_pairs_incremental(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    cursor = (int(max_id) + 1) * 8 // 10
    new_docs = docs.filter(F.col("doc_id") >= cursor)
    old_docs = docs.filter(F.col("doc_id") < cursor)
    # persist SIGNATURES, not the band tables: the 4-piece unpivot union
    # re-runs its input once per piece, so an uncached sig re-shingles the
    # corpus 4x (the measured trap ngram_jaccard_pairs documents). The old
    # side persists here only because this self-contained query derives the
    # index in-plan; production scans the stored index table instead.
    sig_new = _signatures(_shingles(spark, sf_dir, new_docs, distinct=False)).persist()
    sig_old = _signatures(_shingles(spark, sf_dir, old_docs, distinct=False)).persist()
    bn = _band_table(sig_new)
    bo = _band_table(sig_old)
    new_old = (
        bo.withColumnRenamed("doc_id", "doc_a")
        .join(F.broadcast(bn.withColumnRenamed("doc_id", "doc_b")), ["band", "sig"])
        .select("doc_a", "doc_b")
    )
    a, b = bn.alias("a"), F.broadcast(bn.alias("b"))
    new_new = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.sig") == F.col("b.sig"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    return (
        new_old.unionByName(new_new)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )


@q(
    "ngram_jaccard_pairs",
    _SHINGLE_SQL
    + """
    , rare AS (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) <= 50),
    shr AS (SELECT shd.doc_id, shd.sh FROM shd JOIN rare USING (sh)),
    card AS (SELECT doc_id, COUNT(*) AS n_sh FROM shr GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
              FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
              HAVING COUNT(*) >= 2)
    SELECT doc_a, doc_b, n_inter,
           ROUND(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) AS jaccard
    FROM inter JOIN card ca ON ca.doc_id = doc_a
               JOIN card cb ON cb.doc_id = doc_b
    WHERE n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter) >= 0.02
    """,
    "n-gram Jaccard near-dup: inverted-index self-join with a hot-shingle cap (df<=50) so a stopword-shingle can't quadratically blow up the join — the skew guard that matters at 100 TB",
)
def ngram_jaccard_pairs(spark, sf_dir):
    # The inverted index (shr) feeds THREE consumers (cardinalities + both
    # sides of the self-join) and its own input (shd) two — without a cache
    # the plan re-tokenizes/re-explodes documents per reference (measured:
    # 16 parquet scans, 0 ReusedExchange, and ~25% of the query's wall).
    # persist(), not localCheckpoint: persist keeps outputPartitioning so
    # downstream joins can reuse the exchange. Blocks are released by
    # Spark's ContextCleaner when the returned plan is GC'd; at 100 TB the
    # index is materialized to a table instead (the same shape Iceberg-ly).
    shd = _shingles(spark, sf_dir).persist()
    rare = shd.groupBy("sh").count().filter(F.col("count") <= 50).select("sh")
    shr = shd.join(rare, "sh").persist()
    card = shr.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = shr.alias("a"), shr.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
        .filter(F.col("n_inter") >= 2)
    )
    j = (
        inter.join(card.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(card.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= 0.02)
    )
    return j.select("doc_a", "doc_b", "n_inter", F.round("jaccard", 4).alias("jaccard"))


# ---------------------------------------------------------------------------
# simhash (16-bit, md5-nibble based so both engines agree bit-for-bit)
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 16


def _simhash_sql() -> str:
    sums = ",\n           ".join(
        f"SUM(CASE WHEN substr(md5(tok), {k+1}, 1) >= '8' THEN 1 ELSE -1 END) AS b{k}"
        for k in range(_SIMHASH_BITS)
    )
    val = " + ".join(f"(CASE WHEN b{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(_SIMHASH_BITS))
    return f"""
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    td AS (SELECT DISTINCT doc_id, tok FROM t),
    s AS (SELECT doc_id,
           {sums}
          FROM td GROUP BY doc_id)
    SELECT doc_id, {val} AS simhash16 FROM s
    """


@q(
    "simhash_docs",
    _simhash_sql(),
    "SimHash: per-bit majority vote over distinct-token md5 nibbles; 16-bit here for oracle-mirroring, width is a constant",
)
def simhash_docs(spark, sf_dir):
    d = (
        fanout(load(spark, sf_dir, "documents"))  # serial explode otherwise (round 6)
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        # materialize md5 once per (doc, token); the 16 per-bit aggregates
        # only substring it (Catalyst does not CSE across agg expressions)
        .withColumn("h", F.md5("tok"))
    )
    sums = [
        F.sum(
            F.when(F.substring(F.col("h"), k + 1, 1) >= "8", 1).otherwise(-1)
        ).alias(f"b{k}")
        for k in range(_SIMHASH_BITS)
    ]
    s = d.groupBy("doc_id").agg(*sums)
    val = None
    for k in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{k}") > 0, 1 << k).otherwise(0)
        val = term if val is None else val + term
    return s.select("doc_id", val.alias("simhash16"))


@q(
    "doc_train_split",
    """
    SELECT doc_id,
           CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 10 < 8
                THEN 'train'
                WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 10 < 9
                THEN 'valid' ELSE 'test' END AS split
    FROM documents
    """,
    "deterministic train/valid/test split (80/10/10 by md5 bucket) — the assignment is a "
    "pure function of the key, so it is reproducible across runs, engines and cluster "
    "sizes, and joins back to any derived table without a stored mapping. Map-only.",
)
def doc_train_split(spark, sf_dir):
    bucket = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 10
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(bucket < 8, "train").when(bucket < 9, "valid").otherwise("test").alias("split"),
    )


@q(
    "balanced_sample_docs",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rnk
      FROM documents)
    SELECT doc_id, source, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
    "deterministic balanced downsampling by source (corpus balancing for training "
    "mixes): cap every source at K docs, picked by md5-of-key order — a pure function "
    "of the data, so the sample is reproducible across runs, engines and cluster sizes "
    "(unlike rand()/sampleBy, which no oracle can replay). Two-phase salted window "
    "(the select_wave construction, operators/waves.py): phase 1 ranks within "
    "(source, salt) and keeps rank <= K, so a hot source with 10^9 docs is split "
    "across S window partitions; phase 2 takes the exact per-source rank over the "
    "<= S*K survivors. Output provably identical to the unsalted window: the "
    "per-source top-K by any total order is a subset of the union of per-salt "
    "top-Ks (rank <= K within source implies rank <= K within (source, salt)).",
)
def balanced_sample_docs(spark, sf_dir, salt_width: int = 8, k: int = 5):
    from pyspark.sql import Window

    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    salted = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("doc_id"), F.lit("sample-salt")), salt_width)
        )
    )
    w1 = Window.partitionBy("source", "_salt").orderBy(*order)
    bounded = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy("source").orderBy(*order)
    return (
        bounded.withColumn("rnk", F.row_number().over(w2).cast("int"))
        .filter(F.col("rnk") <= k)
    )


@q(
    "tfidf_top_terms",
    """
    WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
    tf AS (SELECT source, tok, COUNT(*) AS tf FROM tok GROUP BY source, tok),
    df AS (SELECT tok, COUNT(DISTINCT source) AS df FROM tok GROUP BY tok),
    n AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents),
    scored AS (
      SELECT tf.source, tf.tok,
             ROUND(tf.tf * ln(n.n_sources * 1.0 / df.df), 6) AS tfidf
      FROM tf JOIN df USING (tok), n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY tfidf DESC, tok ASC) AS rnk
      FROM scored)
    SELECT source, CAST(rnk AS INT) AS rank, tok, tfidf
    FROM ranked WHERE rnk <= 3
    """,
    "TF-IDF top terms per source — the corpus-analysis composite: explode -> term "
    "frequencies (one shuffle on (source, tok)) -> document frequencies derived from "
    "tf's own distinct keys (ReusedExchange, no second pass over the token stream) -> "
    "idf join -> per-source top-k window. The df dimension has one row per distinct "
    "token — the corpus VOCABULARY, 10^8-10^9 at web scale — so it is NOT hinted for "
    "broadcast: AQE picks a broadcast at small sf and degrades to a shuffle join at "
    "scale instead of OOMing the driver. n_sources rides along as a 1-row broadcast "
    "aggregate inside the same plan, not a separate driver action.",
)
def tfidf_top_terms(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    tf = tok.groupBy("source", "tok").agg(F.count("*").alias("tf"))
    # tf's keys are already the distinct (source, tok) pairs, so df is a
    # re-aggregation of tf (Catalyst reuses the exchange) rather than a
    # second explode+shuffle of the raw token stream
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.countDistinct("source").alias("n_sources"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))  # 1 row, always broadcastable
        .select(
            "source",
            "tok",
            F.round(
                F.col("tf")
                * F.log(F.col("n_sources").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("source", F.col("rank").cast("int").alias("rank"), "tok", "tfidf")
    )


@q(
    "training_set_pipeline",
    """
    WITH keep AS (
      -- exact dedup: keep the lowest doc_id per content hash
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    t AS (
      SELECT d.doc_id, d.lang, d.n_chars, string_split(d.text, ' ') AS toks
      FROM documents d JOIN keep USING (doc_id)),
    scored AS (
      SELECT doc_id, lang,
             len(toks) AS n_tokens,
             ROUND(LEAST(len(toks) / 100.0, 1.0) * 0.5
                   + len(list_filter(toks, x -> x IN ('the', 'a')))
                     * 1.0 / len(toks) * 0.5, 4) AS quality
      FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
           CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 10 < 8
                THEN 'train'
                WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 10 < 9
                THEN 'valid' ELSE 'test' END AS split
    FROM scored
    WHERE lang = 'en' AND n_tokens >= 20 AND quality >= 0.3
    """,
    "the end-to-end training-set preparation pipeline as ONE Catalyst plan: exact dedup "
    "(hash groupBy keeps the canonical copy) -> language filter -> token-count and "
    "quality gates -> deterministic train/valid/test assignment. Composing the operators "
    "declaratively lets Catalyst fuse the filters into the scan and run dedup as the "
    "single shuffle; the semi-join against keepers broadcasts its (aggregated, small) "
    "side. At 100 TB this one plan replaces a chain of materialized intermediate tables.",
)
def training_set_pipeline(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    keep = docs.groupBy(F.md5("text").alias("fp")).agg(F.min("doc_id").alias("doc_id"))
    kept = docs.join(keep.select("doc_id"), "doc_id", "left_semi")
    t = _with_tokens(kept)
    stop_ratio = (
        F.size(F.filter("toks", lambda x: x.isin("the", "a"))) * 1.0 / F.col("n_tokens")
    )
    quality = F.round(
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.5 + stop_ratio * 0.5, 4
    )
    bucket = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 10
    return (
        t.withColumn("quality", quality)
        .filter(
            (F.col("lang") == "en") & (F.col("n_tokens") >= 20) & (F.col("quality") >= 0.3)
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "quality",
            F.when(bucket < 8, "train").when(bucket < 9, "valid").otherwise("test")
            .alias("split"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark contamination screen (round 4)
# ---------------------------------------------------------------------------

_CONTAM_N = 5  # n-gram width: long enough that a hit means shared phrasing,
#               short enough to fire on the fixture corpus's short docs

# DuckDB oracle of benchmark_contamination — promoted to a driver oracle in
# round 5 (rotation policy, __spark_entry__.py): union_distinct_hosts's slot.
# The pytest replica (tests/test_textops_gates.py) stays as belt-and-braces.
_CONTAMINATION_ORACLE_SQL = f"""
    WITH t AS (SELECT doc_id,
           CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 10 < 8
                THEN 'train'
                WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 10 < 9
                THEN 'valid' ELSE 'test' END AS split,
           string_split(text, ' ') AS toks FROM documents),
    sh0 AS (SELECT doc_id, split,
           unnest(CASE WHEN len(toks) >= {_CONTAM_N}
                  THEN list_transform(generate_series(1, len(toks) - {_CONTAM_N - 1}),
                                      i -> array_to_string(toks[i:i+{_CONTAM_N - 1}], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS sh
           FROM t),
    sh AS (SELECT DISTINCT doc_id, split, sh FROM sh0),
    tr AS (SELECT DISTINCT sh FROM sh WHERE split = 'train'),
    te AS (SELECT doc_id, sh FROM sh WHERE split = 'test'),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM te GROUP BY doc_id),
    hit AS (SELECT te.doc_id, COUNT(*) AS n_hit FROM te JOIN tr USING (sh)
            GROUP BY te.doc_id)
    SELECT tot.doc_id, tot.n_shingles, COALESCE(hit.n_hit, 0) AS n_hit,
           ROUND(COALESCE(hit.n_hit, 0) * 1.0 / tot.n_shingles, 4) AS overlap,
           (COALESCE(hit.n_hit, 0) * 1.0 / tot.n_shingles) >= 0.5 AS contaminated
    FROM tot LEFT JOIN hit ON hit.doc_id = tot.doc_id
    ORDER BY tot.doc_id
"""


@q(
    "benchmark_contamination",
    _CONTAMINATION_ORACLE_SQL,
    "train->test contamination screen — the eval-integrity step a training "
    "pipeline runs before trusting a benchmark number (the n-gram overlap "
    "method of the GPT-3/PaLM appendices): for every test-split doc, the "
    "fraction of its distinct 5-gram shingles that appear anywhere in the "
    "train split; overlap >= 0.5 flags the doc. Split is the deterministic "
    "md5 bucket (doc_train_split), so the screen is reproducible across "
    "engines. Scale shape: the shingle join is an inverted-index semi-join "
    "bucketed on the shingle string (the ngram_jaccard construction), "
    "train-side distinct is one shuffle; at 100 TB pass hash_shingles=True "
    "to push int64 xxhash64 keys through the shuffle instead of n-token "
    "strings (output proven identical on the fixture corpus, "
    "test_textops_gates.py) — the registry/oracle entry keeps raw strings "
    "for cross-engine parity.",
)
def benchmark_contamination(
    spark, sf_dir, n: int = _CONTAM_N, hash_shingles: bool = False
):
    # fanout (round 6): serial shingle explode otherwise — see _shingles
    d = _with_tokens(fanout(load(spark, sf_dir, "documents")))
    bucket = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket < 9, "valid").otherwise("test")
    )
    sh = (
        d.select(
            "doc_id",
            split.alias("split"),
            F.explode(
                F.when(
                    F.col("n_tokens") >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
                        lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
                    ),
                ).otherwise(F.array(F.concat_ws(" ", F.col("toks"))))
            ).alias("sh"),
        )
    )
    if hash_shingles:
        # the 100 TB shuffle-width cut: every downstream exchange (the
        # per-doc distinct, the train-side distinct, the inverted-index
        # semi-join) keys on an 8-byte int64 instead of an ~n-token string.
        # Overlap FRACTIONS are what the screen reports, so a hash collision
        # can only inflate n_hit by conflating two distinct shingles —
        # vanishing at 2^-64 per pair; parity with the string form is
        # CI-proven on the fixture corpus (test_textops_gates.py).
        sh = sh.withColumn("sh", F.xxhash64("sh"))
    sh = (
        sh.distinct()
        # 4 plan references (train side, test side x3 consumers) — same
        # persist rationale as ngram_jaccard_pairs
        .persist()
    )
    train_sh = sh.filter(F.col("split") == "train").select("sh").distinct()
    test_sh = sh.filter(F.col("split") == "test").select("doc_id", "sh")
    tot = test_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hit = (
        test_sh.join(train_sh, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    return (
        tot.join(hit, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_hit.alias("n_hit"),
            F.round(n_hit / F.col("n_shingles"), 4).alias("overlap"),
            (n_hit / F.col("n_shingles") >= 0.5).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@q(
    "doc_gopher_repetition",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT doc_id, toks, len(toks) AS n,
          CASE WHEN len(toks) >= 2
               THEN list_transform(generate_series(1, len(toks) - 1),
                                   i -> array_to_string(toks[i:i+1], ' '))
               ELSE [] END AS g2,
          CASE WHEN len(toks) >= 3
               THEN list_transform(generate_series(1, len(toks) - 2),
                                   i -> array_to_string(toks[i:i+2], ' '))
               ELSE [] END AS g3
          FROM t),
    f AS (SELECT doc_id, n,
          ROUND(CASE WHEN n > 0
                THEN 1.0 - len(list_distinct(toks)) * 1.0 / n ELSE 0.0 END, 4)
              AS dup_word_frac,
          ROUND(CASE WHEN len(g2) > 0
                THEN 1.0 - len(list_distinct(g2)) * 1.0 / len(g2) ELSE 0.0 END, 4)
              AS dup_2gram_frac,
          ROUND(CASE WHEN len(g3) > 0
                THEN 1.0 - len(list_distinct(g3)) * 1.0 / len(g3) ELSE 0.0 END, 4)
              AS dup_3gram_frac
          FROM g)
    SELECT doc_id, n AS n_tokens, dup_word_frac, dup_2gram_frac, dup_3gram_frac,
           (dup_2gram_frac >= 0.06 OR dup_3gram_frac >= 0.02) AS repetitious
    FROM f
    """,
    "Gopher-style repetition filter (Rae et al. 2021 §A1.1, the standard "
    "within-doc quality gate a training pipeline runs next to dedup): per "
    "doc, the fraction of word / 2-gram / 3-gram occurrences that are "
    "repeats of an earlier occurrence, and a flag when either n-gram "
    "fraction crosses the threshold (Gopher's published cutoffs target long natural-language docs; these are calibrated to the synthetic corpus's p90 so the flag discriminates rather than sitting at a constant). Every column is a JVM "
    "higher-order function over the token array — map-only, zero "
    "exchanges, embarrassingly parallel at any corpus size. The flag "
    "compares the ROUNDED fractions so the cross-engine boundary can never "
    "disagree at a threshold tie. Rotated into the driver-oracle window in "
    "round 5 (case_bucket_classify's slot).",
)
def doc_gopher_repetition(spark, sf_dir):
    # fanout (round 6): the array_distinct-per-width HOFs are the heaviest
    # map-only projection in the module and ran in ONE task on the
    # single-row-group scan (6.2 s at sf1.0). The op stays map-only in the
    # 100 TB sense — zero data-keyed exchanges — and the plan lock now pins
    # exactly that (round-robin scan fanout allowed, hash/range forbidden).
    d = _with_tokens(fanout(load(spark, sf_dir, "documents")))

    def grams(width):
        return F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - (width - 1)),
            lambda i: F.concat_ws(" ", F.slice("toks", i, width)),
        )

    def dup_frac(width):
        # guard BEFORE building grams: Spark's sequence(1, stop) runs
        # BACKWARDS for stop < 1, which would fabricate n-grams for short
        # docs instead of yielding none
        if width == 1:
            total, distinct = F.col("n_tokens"), F.size(F.array_distinct("toks"))
        else:
            total = F.col("n_tokens") - (width - 1)
            distinct = F.size(F.array_distinct(grams(width)))
        return F.when(
            total > 0, F.round(F.lit(1.0) - distinct * 1.0 / total, 4)
        ).otherwise(F.lit(0.0))

    out = d.select(
        "doc_id",
        "n_tokens",
        dup_frac(1).alias("dup_word_frac"),
        dup_frac(2).alias("dup_2gram_frac"),
        dup_frac(3).alias("dup_3gram_frac"),
    )
    return out.withColumn(
        "repetitious",
        (F.col("dup_2gram_frac") >= 0.06) | (F.col("dup_3gram_frac") >= 0.02),
    )


# PII scrubbing (the C4/CCNet-style redaction pass a corpus runs before
# training). Patterns restricted to syntax Java regex and RE2 interpret
# identically (character classes, bounded repetition, \d, word boundary) so
# the scrubbed TEXT — not just the counts — is cross-engine comparable.
_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{7,15}"

# Full DuckDB replica — NOT a driver oracle this round: the hard-signal
# window is pinned at exactly 50 (rotation policy, __spark_entry__.py) and
# this operator is degenerate on the synthetic corpus (no PII -> identity
# transform), so its semantics live in the planted-document pytest gate
# (test_textops_gates.py) and this replica guards the no-op path; it is
# written in the driver's dialect and rotates in next.
_PII_ORACLE_SQL = f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(text, '{_PII_IP}')) AS n_ips,
           len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed,
           (len(regexp_extract_all(text, '{_PII_EMAIL}'))
            + len(regexp_extract_all(text, '{_PII_IP}'))
            + len(regexp_extract_all(text, '{_PII_PHONE}'))) > 0 AS has_pii
    FROM documents
"""


@q(
    "doc_pii_scrub",
    None,  # pytest-oracled via _PII_ORACLE_SQL + planted-doc gate (above)
    "PII redaction pass (emails / IPv4 / intl phone -> typed placeholder "
    "tokens, with per-doc match counts and a has_pii flag) — the "
    "C4/CCNet-shape scrub a corpus runs before training. Pure "
    "regexp_replace/extract_all in the projection: map-only, zero "
    "exchanges, one corpus pass; patterns kept to the Java-regex/RE2 "
    "common subset so the scrubbed text itself is oracle-comparable.",
)
def doc_pii_scrub(spark, sf_dir):
    # fanout (round 6): three regex extract_all + three regexp_replace per
    # row ran in ONE task on the single-row-group scan (2.8 s at sf1.0)
    d = fanout(load(spark, sf_dir, "documents"))
    text = F.col("text")

    def n(pat):
        return F.size(F.regexp_extract_all(text, F.lit(pat), 0))

    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>",
        ),
        _PII_PHONE, "<PHONE>",
    )
    total = n(_PII_EMAIL) + n(_PII_IP) + n(_PII_PHONE)
    return d.select(
        "doc_id",
        n(_PII_EMAIL).alias("n_emails"),
        n(_PII_IP).alias("n_ips"),
        n(_PII_PHONE).alias("n_phones"),
        scrubbed.alias("scrubbed"),
        (total > 0).alias("has_pii"),
    )


# ---------------------------------------------------------------------------
# Near-dup canonicalization: the dedup pipeline's final step
# ---------------------------------------------------------------------------

# Edges = MinHash-LSH candidate pairs agreeing on >= 2 of 4 bands: the
# high-precision slice of the candidate set, so clusters are near-dup
# groups, not bucket-collision noise.
_CANON_MIN_BANDS = 2

# Full DuckDB replica — NOT a driver oracle this round (rotation policy,
# __spark_entry__.py: window pinned at 50, newest-in next round). Reuses
# the minhash_lsh_pairs oracle verbatim as a nested derived table, then
# replays the component closure with a recursive CTE and the keeper pick
# with a window — same shape as the embedding_neardup_components oracle.
_CANONICALIZE_ORACLE_SQL = f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b
              FROM ({QUERIES["minhash_lsh_pairs"].oracle})
              WHERE n_shared_bands >= {_CANON_MIN_BANDS}),
    edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
              UNION ALL SELECT doc_b AS s, doc_a AS t FROM pairs),
    reach(v, l) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.v),
    comp AS (SELECT v AS doc_id, MIN(l) AS component FROM reach GROUP BY v),
    scored AS (SELECT c.doc_id, c.component, d.n_chars
               FROM comp c JOIN documents d USING (doc_id)),
    ranked AS (SELECT component, doc_id AS keeper_id,
                      ROW_NUMBER() OVER (PARTITION BY component
                                         ORDER BY n_chars DESC, doc_id) AS rn
               FROM scored),
    keeper AS (SELECT component, keeper_id FROM ranked WHERE rn = 1),
    csz AS (SELECT component, COUNT(*) AS csize FROM scored GROUP BY component)
    SELECT s.doc_id,
           CAST(s.component AS BIGINT) AS component,
           CAST(k.keeper_id AS BIGINT) AS keeper_id,
           CAST(s.doc_id = k.keeper_id AS INT) AS kept,
           CAST(z.csize AS BIGINT) AS csize
    FROM scored s JOIN keeper k USING (component) JOIN csz z USING (component)
    ORDER BY s.doc_id
"""


@q(
    "doc_neardup_canonicalize",
    None,  # pytest-oracled via _CANONICALIZE_ORACLE_SQL (rotation policy)
    "Near-dup CANONICALIZATION — the step a dedup pipeline actually ships: "
    "cluster the MinHash-LSH near-dup graph (>=2/4 shared bands -> "
    "min-label connected components, reused from annops), then per cluster "
    "keep ONE representative (longest doc by n_chars, ties -> lowest "
    "doc_id) and map every member to its keeper. Output is the full-corpus "
    "doc_id -> keeper_id mapping with kept/csize flags, i.e. exactly the "
    "side table a training run joins against to drop duplicates while "
    "retaining provenance. Scale shape: edges are the high-precision LSH "
    "slice (not all candidates), components iterate in O(log n) "
    "label-propagation rounds over edge-touched docs only, and the keeper "
    "pick is ONE max_by groupBy on component (map-side partial agg) — no "
    "window sort over the corpus. The final orderBy exists for oracle "
    "determinism; a cluster consumer drops it. Reference analog: the "
    "crawler's duplicate-script canonical-id pick (SURVEY §2 D2-D4 "
    "composed)."
)
def doc_neardup_canonicalize(spark, sf_dir):
    from .annops import min_label_components

    pairs = (
        QUERIES["minhash_lsh_pairs"]
        .spark(spark, sf_dir)
        .where(F.col("n_shared_bands") >= _CANON_MIN_BANDS)
        .select("doc_a", "doc_b")
    )
    edges = (
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
        .union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        # the LSH pairs plan (shingle explode + 4-band self-join) feeds both
        # endpoints and every propagation round: compute it exactly once
        .localCheckpoint(eager=True)
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    labels = docs.select(
        F.col("doc_id").alias("vec_id"), F.col("doc_id").alias("component")
    ).localCheckpoint(eager=True)
    labels, rounds, converged = min_label_components(labels, edges, contract=True)
    if not converged:
        raise RuntimeError(
            f"canonicalize: component propagation did not converge in {rounds} rounds"
        )
    comp = labels.select(F.col("vec_id").alias("doc_id"), "component")
    scored = comp.join(docs, "doc_id")
    keeper = scored.groupBy("component").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("tie")),
        ).alias("keeper_id"),
        F.count("*").alias("csize"),
    )
    return (
        scored.join(keeper, "component")
        .select(
            "doc_id",
            F.col("component").cast("long").alias("component"),
            F.col("keeper_id").cast("long").alias("keeper_id"),
            (F.col("doc_id") == F.col("keeper_id")).cast("int").alias("kept"),
            F.col("csize").cast("long").alias("csize"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# exact duplicated-span detection (suffix-array dedup, n-gram formulation)
# ---------------------------------------------------------------------------

_DUPSPAN_N = 5

# Born pytest-oracled (rotation policy, __spark_entry__.py): run verbatim
# by tests/test_textops_gates.py against the same parquet.
_DUPSPAN_ORACLE_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT doc_id, i AS pos,
                 array_to_string(toks[i:i+{_DUPSPAN_N}-1], ' ') AS gram
          FROM t, UNNEST(generate_series(1, len(toks) - {_DUPSPAN_N} + 1)) AS u(i)
          WHERE len(toks) >= {_DUPSPAN_N}),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
    isl AS (SELECT doc_id, pos,
                   SUM(CASE WHEN pos > prev + {_DUPSPAN_N} THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM (SELECT doc_id, pos,
                         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                  FROM hits))
    SELECT doc_id, MIN(pos) AS span_start,
           MAX(pos) + {_DUPSPAN_N} - 1 AS span_end,
           MAX(pos) + {_DUPSPAN_N} - MIN(pos) AS span_tokens
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
"""


@q(
    "doc_duplicate_spans",
    None,  # pytest-oracled via _DUPSPAN_ORACLE_SQL (newborn-oracle queue)
    "Exact duplicated-span detection — the n-gram formulation of "
    "suffix-array training-data dedup (find every maximal token span that "
    "occurs verbatim >=2 times anywhere in the corpus, the step that "
    "removes boilerplate/licence blocks before training): positional "
    f"{_DUPSPAN_N}-grams, total-occurrence df>=2, overlapping/adjacent hit "
    "positions merged per doc into maximal [span_start, span_end] token "
    "ranges via gaps-and-islands. One gram-keyed shuffle (the df "
    "aggregate) + a left-semi join bucketed on the same key + per-doc "
    "windows bounded by doc length; at 100 TB the gram goes through the "
    "shuffle as xxhash64 like benchmark_contamination's hash_shingles "
    "path, and the dup relation is output-sized, not corpus-sized.",
)
def doc_duplicate_spans(spark, sf_dir):
    from pyspark.sql import Window

    n = _DUPSPAN_N
    # fanout (round 6): serial positional-gram explode otherwise
    d = _with_tokens(fanout(load(spark, sf_dir, "documents"))).filter(F.col("n_tokens") >= n)
    # positional grams; persisted because the relation feeds both the df
    # aggregate and the hit semi-join (the ngram_jaccard re-scan trap)
    g = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - n + 1),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.concat_ws(" ", F.slice("toks", i, n)).alias("gram"),
                ),
            )
        ).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram"))
    g = g.persist()
    dup = g.groupBy("gram").count().filter(F.col("count") >= 2).select("gram")
    hits = g.join(dup, "gram", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # equal-length sorted intervals [pos, pos+n): running max end is
    # lag(pos)+n, so a new island starts exactly when pos > lag(pos)+n
    # (NULL lag -> otherwise-0, first hit opens island 0 in both engines)
    isl = (
        hits.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_isl", F.when(F.col("pos") > F.col("prev") + n, 1).otherwise(0)
        )
        .withColumn("island", F.sum("new_isl").over(w))
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
        .orderBy("doc_id", "span_start")
    )


# Born pytest-oracled (rotation policy). The NOT EXISTS spelling is
# version-proof DuckDB; the Spark plan uses the equivalent indexed
# F.filter HOF instead of re-exploding positions.
_SCRUB_SPANS_ORACLE_SQL = f"""
    WITH spans AS ({_DUPSPAN_ORACLE_SQL}),
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    p AS (SELECT doc_id, i AS pos, toks[i] AS tok
          FROM t, UNNEST(generate_series(1, len(toks))) AS u(i)),
    kept AS (SELECT p.doc_id, p.pos, p.tok FROM p
             WHERE NOT EXISTS (SELECT 1 FROM spans s
                               WHERE s.doc_id = p.doc_id
                                 AND p.pos BETWEEN s.span_start AND s.span_end)),
    agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id)
    SELECT t.doc_id, COALESCE(agg.text_clean, '') AS text_clean,
           len(t.toks) AS n_tokens,
           len(t.toks) - COALESCE(agg.n_kept, 0) AS n_removed
    FROM t LEFT JOIN agg USING (doc_id)
    ORDER BY t.doc_id
"""


@q(
    "doc_scrub_duplicate_spans",
    None,  # pytest-oracled via _SCRUB_SPANS_ORACLE_SQL (newborn-oracle queue)
    "The APPLY half of exact-substring dedup: excise every token covered "
    "by a doc_duplicate_spans range and emit the cleaned text plus "
    "removal counts (policy: drop ALL occurrences — the keep-one-copy "
    "variant needs a global first-occurrence tiebreak and is a "
    "span-filter away). The scrub itself is a map-side indexed F.filter "
    "HOF after ONE doc_id join against the aggregated span list, which "
    "is output-sized, not corpus-sized — at 100 TB it co-partitions with "
    "the documents table's doc_id layout; no re-explode, no window.",
)
def doc_scrub_duplicate_spans(spark, sf_dir):
    spans = (
        doc_duplicate_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("spans"))
    )
    d = _with_tokens(load(spark, sf_dir, "documents"))
    j = d.join(spans, "doc_id", "left").withColumn(
        "spans", F.coalesce("spans", F.array())
    )
    # F.filter's index i is 0-based; span ranges are 1-based token positions
    kept = F.filter(
        "toks",
        lambda x, i: ~F.exists(
            "spans",
            lambda s: ((i + 1) >= s["span_start"]) & ((i + 1) <= s["span_end"]),
        ),
    )
    return (
        j.withColumn("kept", kept)
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("kept")).alias("text_clean"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.size("kept")).cast("long").alias("n_removed"),
        )
        .orderBy("doc_id")
    )


# Born pytest-oracled (rotation policy).
_MIX_WEIGHTS_ORACLE_SQL = """
    WITH s AS (SELECT source, COUNT(*) AS n_docs,
                      SUM(len(string_split(text, ' '))) AS n_tokens
               FROM documents GROUP BY source)
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens * 1.0 / SUM(n_tokens) OVER (), 6) AS token_share,
           ROUND(MIN(n_tokens) OVER () * 1.0 / n_tokens, 6) AS mix_weight
    FROM s ORDER BY source
"""


@q(
    "corpus_mix_weights",
    None,  # pytest-oracled via _MIX_WEIGHTS_ORACLE_SQL (newborn-oracle queue)
    "Static corpus-mixing weights: per-source token census plus the "
    "subsampling weight that equalizes the token distribution across "
    "sources (uniform target; weight = min-source tokens / own tokens, "
    "so the scarcest source keeps everything and the rest downsample — "
    "the deterministic skeleton under learned mixture reweighting). ONE "
    "data-sized shuffle (the source aggregate, map-side combined); the "
    "global window runs over the S-row aggregate — cells-sized, not "
    "corpus-sized — which is exactly how it stays cheap at 100 TB.",
)
def corpus_mix_weights(spark, sf_dir):
    from pyspark.sql import Window

    s = (
        _with_tokens(load(spark, sf_dir, "documents"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    return s.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w), 6).alias("token_share"),
        F.round(F.min("n_tokens").over(w) / F.col("n_tokens"), 6).alias("mix_weight"),
    ).orderBy("source")


# Born pytest-oracled (rotation policy).
_LOGPPL_ORACLE_SQL = """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents),
    f AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
    tot AS (SELECT SUM(c) AS n FROM f),
    s AS (SELECT t.doc_id, ln(tot.n) - ln(f.c) AS nll
          FROM t JOIN f USING (tok), tot)
    SELECT doc_id, COUNT(*) AS n_tokens, ROUND(AVG(nll), 6) AS logppl
    FROM s GROUP BY doc_id ORDER BY doc_id
"""


@q(
    "doc_unigram_logppl",
    None,  # pytest-oracled via _LOGPPL_ORACLE_SQL (newborn-oracle queue)
    "Unigram LM quality signal — mean negative log-likelihood per doc "
    "against the corpus unigram distribution (the deterministic skeleton "
    "of CCNet's LM-perplexity quality bucketing: rare-token-heavy docs "
    "score high, common-token docs low). The frequency table keys the "
    "ONE vocabulary-sized shuffle and its join is deliberately "
    "UNFORCED-broadcast (vocabulary is unbounded at web scale — the "
    "tfidf df-join decision, VERDICT r2 #1); the 1-row total rides a "
    "broadcast. Two aggregates, one join, all JVM-side.",
)
def doc_unigram_logppl(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    nll = F.log(F.col("n").cast("double")) - F.log(F.col("c").cast("double"))
    return (
        tok.join(freq, "tok")
        .crossJoin(F.broadcast(total))  # 1 row, always broadcastable
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("logppl"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Context chunking: fixed-size overlapping token windows (RAG / pretraining)
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24  # overlap = _CHUNK_SIZE - _CHUNK_STRIDE = 8 tokens

# Born pytest-oracled (rotation policy, tests/test_textops_gates.py).
_CHUNK_ORACLE_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (SELECT doc_id, toks, u.s AS start_tok
          FROM t, UNNEST(generate_series(0, len(toks) - 1, {_CHUNK_STRIDE})) AS u(s))
    SELECT doc_id, start_tok // {_CHUNK_STRIDE} AS chunk_id, start_tok,
           len(toks[start_tok + 1 : start_tok + {_CHUNK_SIZE}]) AS chunk_len,
           array_to_string(toks[start_tok + 1 : start_tok + {_CHUNK_SIZE}], ' ')
               AS chunk_text
    FROM c
"""


@q(
    "doc_chunk_overlap",
    None,  # pytest-oracled via _CHUNK_ORACLE_SQL (newborn-oracle queue)
    "Fixed-size overlapping token chunks (size 32, stride 24 -> 8-token "
    "overlap): the RAG/pretraining context-window slicer. Map-only and "
    "plan-locked zero-exchange (test_plans.py): sequence() generates the "
    "chunk starts, posexplode fans them out, slice() cuts each window — "
    "all JVM higher-order functions inside one projection, so at 100 TB "
    "it is embarrassingly parallel with NO shuffle; output size is "
    "input x (1/stride) rows and the scan prunes to (doc_id, text).",
)
def doc_chunk_overlap(spark, sf_dir):
    toks = F.split("text", " ")
    slc = F.slice(F.col("toks"), F.col("start_tok") + 1, _CHUNK_SIZE)
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.posexplode(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_CHUNK_STRIDE))
            ).alias("chunk_id", "start_tok"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("start_tok").cast("long").alias("start_tok"),
            F.size(slc).cast("long").alias("chunk_len"),
            F.concat_ws(" ", slc).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Bounded-shuffle top-k tokens: sketch-pruned candidates + exact recount
# ---------------------------------------------------------------------------

_HH_PRUNE_M = 200  # per-batch keep threshold: count > batch_len / M
_HH_TOPK = 10

# Born pytest-oracled (rotation policy, tests/test_textops_gates.py).
# The oracle is plain exact SQL: the pruning is lossless for every token
# with global share > 1/M (Misra-Gries pigeonhole over any disjoint batch
# cover), so whenever the k-th-most-frequent share clears 1/M — gate-
# asserted on the output itself — approximate candidates give EXACT top-k.
_HEAVY_TOKENS_ORACLE_SQL = f"""
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM t),
    c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok)
    SELECT tok, c AS n_occurrences,
           ROUND(c * 1.0 / (SELECT n FROM tot), 6) AS share
    FROM c ORDER BY c DESC, tok LIMIT {_HH_TOPK}
"""


@q(
    "doc_heavy_tokens_topk",
    None,  # pytest-oracled via _HEAVY_TOKENS_ORACLE_SQL (newborn-oracle queue)
    "Top-k most frequent tokens WITHOUT a vocabulary-sized shuffle — the "
    "100 TB shape for frequent-item mining over web text, where unique "
    "tokens are billions and a naive groupBy(tok) shuffles them all. "
    "Pass 1 prunes per Arrow batch (vectorized pandas value_counts, keep "
    "count > batch_len/M): by the Misra-Gries pigeonhole, any token with "
    "GLOBAL share > 1/M must clear the per-batch bar in at least one "
    "batch, so candidates are a superset of every 0.5%-or-heavier token "
    "while staying < M per batch before distinct(). Pass 2 recounts "
    "candidates EXACTLY behind a broadcast left-semi filter, so the only "
    "data-sized shuffle keys on the candidate set, not the vocabulary; "
    "the top-k plans as TakeOrderedAndProject. Output is provably exact "
    "whenever the k-th share > 1/M (asserted in the gate); ties break by "
    "token, the same rule in both engines.",
)
def doc_heavy_tokens_topk(spark, sf_dir):
    import pandas as pd

    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )

    # the sketch pass also carries each batch's token count in a sentinel
    # row (tok=NULL), so the grand total needs NO third corpus scan; the
    # persisted relation is tiny (< M+1 rows per batch)
    def prune(batches):
        for pdf in batches:
            vc = pdf["tok"].value_counts()
            keep = vc[vc > len(pdf) / _HH_PRUNE_M]
            out = keep.index.to_frame(index=False, name="tok")
            out["cnt"] = pd.array([None] * len(out), dtype="Int64")
            yield pd.concat(
                [out, pd.DataFrame({"tok": [None], "cnt": [len(pdf)]})],
                ignore_index=True,
            )

    sketch = toks.mapInPandas(prune, "tok string, cnt long").persist()
    cands = sketch.where(F.col("tok").isNotNull()).select("tok").distinct()
    total = sketch.agg(F.sum("cnt").alias("n_total"))
    return (
        toks.join(F.broadcast(cands), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("tok").asc())
        .limit(_HH_TOPK)
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("n_total"), 6).alias("share"),
        )
    )


# Born pytest-oracled (rotation policy, tests/test_textops_gates.py).
# Parity mechanics: u = first-8-hex of md5(doc_id) as an integer (Spark
# conv(,16,10) == DuckDB CAST('0x'||… AS BIGINT)); the keep threshold is
# the UNROUNDED weight scaled by 2^32 — a power-of-two multiply is exact
# in IEEE doubles and both engines compute the weight as the same
# BIGINT-sum division, so the kept SET is bit-identical across engines,
# no float-boundary flakiness.
_MIX_SAMPLE_ORACLE_SQL = """
    WITH s AS (SELECT source, SUM(len(string_split(text, ' '))) AS nt
               FROM documents GROUP BY source),
    w AS (SELECT source, MIN(nt) OVER () * 1.0 / nt AS wgt FROM s)
    SELECT d.doc_id, d.source, d.lang,
           CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               AS u,
           ROUND(w.wgt, 6) AS mix_weight
    FROM documents d JOIN w USING (source)
    WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          < w.wgt * 4294967296.0
"""


@q(
    "corpus_mix_sample",
    None,  # pytest-oracled via _MIX_SAMPLE_ORACLE_SQL (newborn-oracle queue)
    "corpus_mix_weights APPLIED — the actual pipeline step: keep each doc "
    "with probability equal to its source's uniform-target weight, "
    "decided by a deterministic per-doc hash uniform (first 8 md5 hex "
    "chars as an integer vs weight*2^32), so the sample is reproducible, "
    "engine-portable, and needs NO rng state. The S-row weight dimension "
    "broadcasts onto the corpus scan — the apply side is map-only behind "
    "one BroadcastHashJoin (plan-locked, no SortMergeJoin); the only "
    "data-sized shuffle is the per-source token census. The scarcest "
    "source keeps everything by construction (weight 1.0 -> threshold "
    "2^32 > any u).",
)
def corpus_mix_sample(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    s = _with_tokens(docs).groupBy("source").agg(F.sum("n_tokens").alias("nt"))
    w = s.select(
        "source",
        (F.min("nt").over(Window.partitionBy()) / F.col("nt")).alias("wgt"),
    )
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return (
        docs.join(F.broadcast(w), "source")
        .where(u < F.col("wgt") * F.lit(4294967296.0))
        .select(
            "doc_id",
            "source",
            "lang",
            u.alias("u"),
            F.round("wgt", 6).alias("mix_weight"),
        )
    )
