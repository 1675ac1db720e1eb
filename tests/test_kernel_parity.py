"""Bit-exactness gates for the round-6 vectorized scoring kernels.

The oracle value-hashes depend on float cosines being IDENTICAL across
Spark, DuckDB and (now) the numpy kernels. These tests pin the kernel
contracts directly, independent of the end-to-end replicas:

- _np_fold_dot / _np_fold_norms reproduce DuckDB's list_dot_product /
  sqrt on the real fixture vectors bit-for-bit (same sequential fold
  order, IEEE-correctly-rounded ops);
- the MIH kernel's in-place SWAR popcount is exact two's-complement
  popcount for signed int64 (including negative XOR results);
- phash64_batch equals an independently-spelled scalar reference;
- the numpy band-signature sign rule equals Spark's on NaN and ±0.0.
"""

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def emb_pdf():
    return pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_fold_dot_bit_identical_to_duckdb(emb_pdf):
    import duckdb

    from visiblev8_crawler_spark.plans.annops import _np_fold_dot, _np_fold_norms

    X = np.stack([np.asarray(v, dtype=np.float64) for v in emb_pdf["embedding"]])
    sub = X[:120]
    dots = _np_fold_dot(sub, sub)
    norms = _np_fold_norms(sub)
    con = duckdb.connect()
    con.register("e", pd.DataFrame({"i": range(len(sub)), "v": list(map(list, sub))}))
    want = con.execute(
        "SELECT a.i, b.i, list_dot_product(a.v, b.v) FROM e a, e b"
    ).fetchall()
    for i, j, d in want:
        # exact float equality — bit-identical, not approximately equal
        assert dots[i, j] == d, (i, j, dots[i, j], d)
    want_n = con.execute("SELECT i, sqrt(list_dot_product(v, v)) FROM e").fetchall()
    for i, nv in want_n:
        assert norms[i] == nv, (i, norms[i], nv)
    # and the full cosine as emitted by the kernels: dot / (na * nb)
    cos = dots / (norms[:, None] * norms[None, :])
    want_c = con.execute(
        "SELECT a.i, b.i, list_dot_product(a.v, b.v) /"
        " (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
        " FROM e a, e b"
    ).fetchall()
    for i, j, c in want_c:
        assert cos[i, j] == c, (i, j, cos[i, j], c)


def test_bucket_topk_slack_is_safe_vs_bruteforce(emb_pdf):
    """The local top-k keep-set of a bucket must contain that bucket's
    exact top-k under the FINAL ranking key (rounded cosine DESC, nid
    ASC) for every query — the property the exactness argument rests on."""
    from visiblev8_crawler_spark.plans.annops import (
        _bucket_topk_pairs,
        _np_fold_dot,
        _np_fold_norms,
    )

    pdf = emb_pdf.rename(columns={})[:200]
    k = 5
    out = _bucket_topk_pairs(
        pd.DataFrame({"vec_id": pdf["vec_id"], "embedding": pdf["embedding"]}), k
    )
    kept = set(zip(out["qid"], out["nid"]))
    ids = pdf["vec_id"].to_numpy()
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    nrm = _np_fold_norms(X)
    cos = _np_fold_dot(X, X) / (nrm[:, None] * nrm[None, :])
    for qi in range(len(ids)):
        ranked = sorted(
            (
                (round(cos[qi, j], 6), -ids[j])
                for j in range(len(ids))
                if j != qi
            ),
            reverse=True,
        )[:k]
        for c, negid in ranked:
            assert (ids[qi], -negid) in kept, (ids[qi], -negid, c)


def test_popcount_lut_twos_complement():
    """The MIH kernel's in-place SWAR popcount over int64 XORs viewed as
    uint64: two's-complement bit counts, negative XORs included."""
    from visiblev8_crawler_spark.plans.imageops import _popcount64_inplace

    rng = np.random.default_rng(7)
    a = rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64)
    b = rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64)
    xs = np.concatenate(
        [a ^ b, np.array([0, -1, 2**63 - 1, -(2**63), -2], dtype=np.int64)]
    )
    assert (xs < 0).any()
    want = [bin(int(x) & (2**64 - 1)).count("1") for x in xs]
    u = xs.copy().view(np.uint64)
    _popcount64_inplace(u, np.empty_like(u))
    assert u.tolist() == want


def test_phash_batch_matches_scalar_reference():
    from visiblev8_crawler_spark import codecs

    def ref(arr):
        gray = arr.astype(np.float64).mean(axis=2)
        h, w = gray.shape
        ys = (np.arange(32) * h // 32).clip(0, h - 1)
        xs = (np.arange(32) * w // 32).clip(0, w - 1)
        small = gray[np.ix_(ys, xs)]
        dct = codecs._DCT32 @ small @ codecs._DCT32.T
        block = dct[:8, :8].flatten()
        block[0] = np.median(block[1:])
        med = np.median(block)
        bits = (block > med).astype(np.uint64)
        val = np.uint64(0)
        for b in bits:
            val = (val << np.uint64(1)) | b
        return int(np.int64(val))

    rng = np.random.default_rng(3)
    arrs = []
    for i in range(200):
        w = int(rng.choice([16, 24, 32]))
        h = int(rng.choice([16, 24, 32]))
        arrs.append(codecs.pixels_for(f"doc_{i}", w, h))
    got = codecs.phash64_batch(arrs)
    assert [int(x) for x in got] == [ref(a) for a in arrs]


def test_mih_kernel_and_rowjoin_paths_identical(spark):
    """The _mih_pairs regime switch (occupancy-adaptive, round 6) must be
    a pure execution choice: forcing the bucket-pair kernel on the small
    fixture corpus (which defaults to the row-level probe join) must give
    the exact same pair set the driver-oracled row-join path gives."""
    from unittest import mock

    from pyspark.sql import functions as F

    from visiblev8_crawler_spark.plans import imageops as io

    sf = "/root/testdata/sf0.001"
    ph = (
        io._with_images(spark, sf)
        .mapInPandas(io._stats_kernel, io._STATS_SCHEMA)
        .select(F.col("doc_id").alias("gid"), F.lit(0).alias("item"), "phash")
        .persist()
    )
    rowjoin = sorted(
        tuple(r) for r in io._mih_pairs(ph, io._PHASH_PAIR_TAU).collect()
    )
    with mock.patch.object(io, "_MIH_KERNEL_MIN_OCC", 0):
        kernel = sorted(
            tuple(r) for r in io._mih_pairs(ph, io._PHASH_PAIR_TAU).collect()
        )
    assert len(rowjoin) > 0
    assert rowjoin == kernel


def test_mih_kernel_split_blocks_match_rowjoin(spark):
    """The rendezvous kernel's oversized-block split: with _MIH_KERNEL_CHUNK
    shrunk below one block's size, block pairs split along A (a big block
    against small ones) and along B (a big block against itself, one A
    row per sub-grid still above the chunk) into many chunks each. The
    pair set must equal the row-join branch and brute force."""
    from unittest import mock

    from visiblev8_crawler_spark.plans import imageops as io

    chunk, big = 48, 80  # one 80-row block per band > the 48-candidate chunk
    rng = np.random.default_rng(7)
    base = int(rng.integers(-(2**63), 2**63 - 1))
    hashes = [base] * big
    for _ in range(20):  # near-dups of the cluster: small blocks nearby
        flips = rng.choice(64, size=int(rng.integers(1, 4)), replace=False)
        hashes.append(base ^ int(sum(1 << int(b) for b in flips)))
    hashes += [int(x) for x in rng.integers(-(2**63), 2**63 - 1, size=200)]
    hashes = [h - (1 << 64) if h >= (1 << 63) else h for h in hashes]
    ph = spark.createDataFrame(
        [(g, 0, h) for g, h in enumerate(hashes)], "gid long, item long, phash long"
    ).persist()
    tau = io._PHASH_PAIR_TAU

    rowjoin = sorted(tuple(r) for r in io._mih_pairs(ph, tau).collect())
    with mock.patch.object(io, "_MIH_KERNEL_MIN_OCC", 0), mock.patch.object(
        io, "_MIH_KERNEL_CHUNK", chunk
    ):
        kernel = sorted(tuple(r) for r in io._mih_pairs(ph, tau).collect())
    ph.unpersist()
    brute = sorted(
        (a, 0, b, 0, bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1"))
        for a in range(len(hashes))
        for b in range(a + 1, len(hashes))
        if bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1") <= tau
    )
    assert len(brute) >= big * (big - 1) // 2
    assert rowjoin == brute
    assert kernel == rowjoin


def test_lsh_kernel_chunking_invariant():
    """_bucket_tau_pairs/_bucket_topk_pairs results must not depend on the
    chunk size (the fixture buckets are single-chunk; force multi-chunk)."""
    from unittest import mock

    from visiblev8_crawler_spark.plans import annops as a

    pdf = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")[:200]
    pdf = pd.DataFrame({"vec_id": pdf["vec_id"], "embedding": pdf["embedding"]})

    tau_full = a._bucket_tau_pairs(pdf, 0.30)
    topk_full = a._bucket_topk_pairs(pdf, 5)
    with mock.patch.object(a, "_KERNEL_CHUNK", 7):
        tau_chunked = a._bucket_tau_pairs(pdf, 0.30)
        topk_chunked = a._bucket_topk_pairs(pdf, 5)

    def key(df):
        return sorted(map(tuple, df.itertuples(index=False)))

    assert key(tau_full) == key(tau_chunked)
    assert len(key(tau_full)) > 0
    # chunking splits query rows, never the candidate axis, so the per-row
    # threshold (and thus the keep-set) is exactly chunk-invariant
    assert key(topk_full) == key(topk_chunked)


def test_band_sig_sign_rule_matches_spark_on_nan(spark):
    """_np_band_sigs vs _sig_expr_spark row for row: Spark orders NaN above
    every double (NaN > 0 is true), -0.0 > 0 and 0.0 > 0 are false."""
    from pyspark.sql import functions as F

    from visiblev8_crawler_spark.plans import annops as a

    axes = a._band_axes(8, 6)
    rng = np.random.default_rng(11)
    special = np.array([np.nan, 0.0, -0.0, 1.5, -1.5, 1e-300, -1e-300])
    X = rng.choice(special, size=(40, a._DIM))
    X[0, :] = np.nan
    X[1, :] = -0.0
    X[2, :] = 0.0
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    got = df.select(
        "vec_id",
        *[a._sig_expr_spark(F.col("embedding"), ax).alias(f"b{i}") for i, ax in enumerate(axes)],
    ).orderBy("vec_id").collect()
    spark_sigs = np.array([[r[f"b{i}"] for i in range(len(axes))] for r in got]).T
    np_sigs = a._np_band_sigs(X, axes)
    assert np_sigs.tolist() == spark_sigs.tolist()
    assert np_sigs[:, 0].tolist() == [2**6 - 1] * 8  # all-NaN row: every bit set
    assert not np_sigs[:, 1].any() and not np_sigs[:, 2].any()
