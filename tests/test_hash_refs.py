"""Independent-reference checks for the integer hash paths.

The DuckDB oracles replay the SAME derivation the Spark expressions use,
so a shared misunderstanding (wrong substring offset, wrong combine
order) would pass the oracle gate on both sides. These tests recompute
the values in plain Python from the documented definitions and compare
against the Spark output on Hypothesis-generated text.
"""

import hashlib
import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.operators import dedup as D

P = 4093
LANE_MOD = 2147483647


def _norm_tokens(text: str) -> list[str]:
    # mirrors text.normalize_text + tokens: collapse whitespace, trim,
    # lower, split
    collapsed = re.sub(r"\s+", " ", text).strip().lower()
    return [t for t in collapsed.split(" ") if t != ""]


def _token_hash(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)


def _ref_shingles(text: str, k: int = 3) -> list[int]:
    th = [_token_hash(t) for t in _norm_tokens(text)]
    n = len(th)
    if n >= k:
        raw = [
            th[i] * P * P + th[i + 1] * P + th[i + 2] for i in range(n - 2)
        ]
    elif n == 2:
        raw = [th[0] * P + th[1]]
    elif n == 1:
        raw = [th[0]]
    else:
        raw = [0]
    out: list[int] = []
    for v in raw:  # array_distinct keeps first-seen order
        if v not in out:
            out.append(v)
    return out


def _ref_signature(text: str, num_hashes: int = 8) -> list[int]:
    hs = _ref_shingles(text)
    return [
        min((( (2 * j + 3) * s + 97 * j + 1) % LANE_MOD) for s in hs)
        for j in range(num_hashes)
    ]


texts = st.lists(
    st.text(
        alphabet=st.sampled_from("abcdef \t\n"), min_size=0, max_size=60
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(texts)
def test_token_hash_shingles_match_python_reference(spark, docs):
    df = spark.createDataFrame(
        [Row(i=i, text=t) for i, t in enumerate(docs)]
    )
    got = {
        r.i: list(r.sh)
        for r in df.select(
            "i", D.token_hash_shingles(F.col("text")).alias("sh")
        ).collect()
    }
    for i, t in enumerate(docs):
        assert got[i] == _ref_shingles(t), (i, t)


def test_token_hash_shingles_rejects_unsupported_k(spark):
    """The combine is specialized to 3-token windows; other k must raise
    rather than silently emit 3-shingles with a wrong window count."""
    import pytest

    for k in (1, 2, 4):
        with pytest.raises(ValueError, match="k=3"):
            D.token_hash_shingles(F.col("text"), k=k)


@settings(max_examples=10, deadline=None)
@given(texts)
def test_minhash_signature_matches_python_reference(spark, docs):
    df = spark.createDataFrame(
        [Row(i=i, text=t) for i, t in enumerate(docs)]
    )
    got = {
        r.i: list(r.sig)
        for r in df.select(
            "i",
            D.minhash_from_hashed(
                D.token_hash_shingles(F.col("text")), 8
            ).alias("sig"),
        ).collect()
    }
    for i, t in enumerate(docs):
        assert got[i] == _ref_signature(t), (i, t)
