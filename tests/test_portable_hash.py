"""Regression pins for the portable (engine-reproducible) hashes that
the LSH oracles depend on: each value is re-derived in the test from
hashlib directly, so a silent change in the Spark expressions breaks
here fast — without needing the DuckDB side."""

import hashlib

from pyspark.sql import functions as F

from _twins import minhash_signature

from adhesive_spark.operators.dedup import (
    _MERSENNE,
    _perm_coeffs,
    portable_hash32,
    portable_hash63,
)


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _h63(s: str) -> int:
    hx = hashlib.md5(s.encode()).hexdigest()
    return (int(hx[:8], 16) & 0x7FFFFFFF) * 4294967296 + int(hx[8:16], 16)


def test_portable_hash32_matches_hashlib(spark):
    words = ["abc", "the quick brown fox", "", "ünïcode"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {r.s: r.h for r in df.select("s", portable_hash32(F.col("s")).alias("h")).collect()}
    for w in words:
        assert got[w] == _h32(w), w


def test_portable_hash63_matches_hashlib(spark):
    words = ["abc", "xyz longer token", ""]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {r.s: r.h for r in df.select("s", portable_hash63(F.col("s")).alias("h")).collect()}
    for w in words:
        assert got[w] == _h63(w), w
        assert 0 <= got[w] < 2**63  # survives signed BIGINT everywhere


def test_minhash_signature_matches_pure_python(spark):
    # independent reimplementation of the whole signature for one doc
    text = "the quick brown fox jumps over the lazy dog again and again"
    toks = text.split(" ")
    shingles = list(dict.fromkeys(
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    ))
    base = [_h32(s) % _MERSENNE for s in shingles]
    expected = [
        min((h * a + b) % _MERSENNE for h in base)
        for a, b in _perm_coeffs(8, seed=42)
    ]
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(
        minhash_signature(F.col("text"), num_perm=8).alias("sig")
    ).collect()[0].sig
    assert list(got) == expected


def test_lsh_bucket_matches_pure_python(spark):
    from adhesive_spark.operators.similarity import _hyperplanes, lsh_bucket

    vecs = [
        [1.0, 0.0, -0.5, 2.0],
        [-1.0, 3.0, 0.25, -0.75],
        [0.0, 0.0, 0.0, 0.0],  # all-zero: every dot is 0 -> all bits set
    ]
    planes = _hyperplanes(4, 6, seed=42)
    expected = [
        sum(
            (1 << i)
            for i, p in enumerate(planes)
            if sum(x * w for x, w in zip(v, p)) >= 0
        )
        for v in vecs
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i long, v array<double>"
    )
    got = [
        r.b
        for r in df.orderBy("i")
        .select(lsh_bucket(F.col("v"), 4, n_planes=6, seed=42).alias("b"))
        .collect()
    ]
    assert got == expected
