"""Property-based tests (hypothesis) for kernels with closed-form checks."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_sentinel_imagery_spark.functions.geometry import (
    intersection_area,
    shoelace_area,
)

coord = st.floats(min_value=-50, max_value=50, allow_nan=False, allow_infinity=False)


def rect(minx, miny, w, h):
    return np.array(
        [[minx, miny], [minx + w, miny], [minx + w, miny + h], [minx, miny + h]]
    )


@settings(max_examples=60, deadline=None)
@given(coord, coord, st.floats(0.1, 20), st.floats(0.1, 20),
       coord, coord, st.floats(0.1, 20), st.floats(0.1, 20))
def test_rect_intersection_matches_closed_form(x1, y1, w1, h1, x2, y2, w2, h2):
    a, b = rect(x1, y1, w1, h1), rect(x2, y2, w2, h2)
    got = intersection_area(a, b)
    iw = max(min(x1 + w1, x2 + w2) - max(x1, x2), 0.0)
    ih = max(min(y1 + h1, y2 + h2) - max(y1, y2), 0.0)
    assert abs(got - iw * ih) < 1e-9


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=3, max_size=8), coord, coord,
       st.floats(0.5, 30), st.floats(0.5, 30))
def test_clip_area_bounded(pts, cx, cy, cw, ch):
    """area(subject ∩ clip) ≤ min(area(subject), area(clip)) for any
    SIMPLE subject ring (the kernel's contract — Sutherland–Hodgman is
    undefined on self-intersecting rings, as hypothesis duly discovered
    with a raw point list). Angular sort around the centroid turns the
    random points into a star-shaped, always-simple polygon."""
    raw = np.array(pts, dtype=float)
    center = raw.mean(axis=0)
    order = np.argsort(np.arctan2(raw[:, 1] - center[1], raw[:, 0] - center[0]))
    subject = raw[order]
    clip = rect(cx, cy, cw, ch)
    got = intersection_area(subject, clip)
    bound = min(shoelace_area(subject), shoelace_area(clip))
    assert -1e-9 <= got <= bound + 1e-9


def test_asof_strict_and_range_boundaries(spark):
    """Strict as-of excludes equal timestamps; range join includes the
    left instant and excludes exactly window-width-old rows."""
    from pyspark.sql import functions as F

    from etl_sentinel_imagery_spark.operators.asof import (
        as_of_join,
        range_join_count,
    )

    left = spark.createDataFrame([(1, 100, 10)], "k int, t bigint, lid bigint")
    right = spark.createDataFrame(
        [(1, 100, 7), (1, 90, 5)], "k int, t bigint, rid bigint"
    )
    inclusive = as_of_join(left, right, "k", "t", ["rid"]).collect()[0]
    assert inclusive["asof_rid"] == 7  # ts==100 matches (≤)
    strict = as_of_join(left, right, "k", "t", ["rid"], strict=True).collect()[0]
    assert strict["asof_rid"] == 5  # ts==100 excluded (<)

    # range (t-10, t]: right at t=100 (in), t=90 (exactly window-old: OUT)
    counts = range_join_count(
        left,
        right,
        key="k",
        left_ts_us=F.col("t"),
        right_ts_us=F.col("t"),
        window_us=10,
    ).collect()[0]
    assert counts["n_in_window"] == 1

    # fully duplicate left rows must NOT collapse into one summed row
    dup_left = spark.createDataFrame(
        [(1, 100, 10), (1, 100, 10)], "k int, t bigint, lid bigint"
    )
    dup_counts = range_join_count(
        dup_left,
        right,
        key="k",
        left_ts_us=F.col("t"),
        right_ts_us=F.col("t"),
        window_us=10,
    ).collect()
    assert [r["n_in_window"] for r in dup_counts] == [1, 1]


def test_asof_join_matches_pandas_merge_asof(spark):
    """Cross-check the merged-stream window implementation against
    pandas.merge_asof on deterministic random data."""
    import pandas as pd

    rng = np.random.RandomState(7)
    left = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 200),
            "t": rng.randint(0, 10_000, 200).astype("int64"),
            "lid": np.arange(200, dtype="int64"),
        }
    ).sort_values("t", ignore_index=True)
    right = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 300),
            "t": rng.randint(0, 10_000, 300).astype("int64"),
            "rid": np.arange(300, dtype="int64"),
        }
    )
    # dedup right side per (k, t): max rid wins (determinism requirement)
    right = (
        right.sort_values(["k", "t", "rid"])
        .groupby(["k", "t"], as_index=False)
        .last()
    )
    from etl_sentinel_imagery_spark.operators.asof import as_of_join

    ldf = spark.createDataFrame(left, schema="k int, t bigint, lid bigint")
    rdf = spark.createDataFrame(right, schema="k int, t bigint, rid bigint")
    got = {
        r["lid"]: r["asof_rid"]
        for r in as_of_join(ldf, rdf, key="k", ts="t", right_payload=["rid"]).collect()
    }
    expected = pd.merge_asof(
        left.sort_values("t", kind="mergesort"),
        right.sort_values("t", kind="mergesort"),
        on="t",
        by="k",
        direction="backward",
    )
    for _, row in expected.iterrows():
        exp = None if pd.isna(row["rid"]) else int(row["rid"])
        assert got[row["lid"]] == exp, (row["lid"], got[row["lid"]], exp)


# --- round-4 kernels: driver-side properties (no Spark per example) -------
@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=200)
)
def test_bpe_chunker_invariants_driver(keys):
    """Greedy word-aligned BPE chunking invariants on arbitrary
    streams: chunk counts are true encoding lengths and concatenation
    is lossless (driver-side replica of the operator's inner loop,
    properties mirrored from test_bpe's Spark e2e)."""
    from etl_sentinel_imagery_spark.operators.bpe import (
        encode_word,
        train_bpe,
    )

    words = [f"w{k}" for k in keys]
    from collections import Counter

    merges = train_bpe(list(Counter(words).items()), n_merges=15)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    budget = 8
    cur, cur_n, chunks = [], 0, []
    for w in words:
        n = len(encode_word(w, ranks))
        if cur and cur_n + n > budget:
            chunks.append((cur, cur_n))
            cur, cur_n = [], 0
        cur.append(w)
        cur_n += n
    if cur:
        chunks.append((cur, cur_n))
    rebuilt = [w for c, _ in chunks for w in c]
    assert rebuilt == words
    for c, n in chunks:
        assert n == sum(len(encode_word(w, ranks)) for w in c)
        if len(c) > 1:
            assert n <= budget


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=300),
    st.integers(min_value=4, max_value=8),
)
def test_cm_sketch_math_never_underestimates(keys, log_w):
    """The Count-Min estimate's one-sided guarantee, checked against
    the kernel's own hash math driver-side: min over rows of the
    summed cells >= the true count for EVERY key."""
    import hashlib
    from collections import Counter

    w = 1 << log_w
    d = 4

    def cell(key: str, j: int) -> int:
        # mirror operators.sketches._cm_hash: md5("cm{j}:"+key) 15 hex
        # chars -> int -> mod w
        h = int(hashlib.md5(f"cm{j}:{key}".encode()).hexdigest()[:15], 16)
        return h % w

    grid = [[0] * w for _ in range(d)]
    for k in keys:
        for j in range(d):
            grid[j][cell(str(k), j)] += 1
    true = Counter(str(k) for k in keys)
    for k in set(str(x) for x in keys) | {"absent"}:
        est = min(grid[j][cell(k, j)] for j in range(d))
        assert est >= true.get(k, 0)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=100),
    st.integers(min_value=0, max_value=2**40),
    st.integers(min_value=0, max_value=2**40),
)
def test_dhash_band_pigeonhole(dim_seed, h1, h2):
    """Any two 64-bit hashes within Hamming distance 3 share at least
    one exact 16-bit band — the exactness guarantee banded Hamming
    near-pair search relies on (checked constructively: flip <=3 random
    bits)."""
    import random

    rng = random.Random(dim_seed)
    base = (h1 << 24) ^ h2
    flipped = base
    for _ in range(rng.randint(0, 3)):
        flipped ^= 1 << rng.randrange(64)
    bands_a = [(base >> (16 * j)) & 0xFFFF for j in range(4)]
    bands_b = [(flipped >> (16 * j)) & 0xFFFF for j in range(4)]
    dist = bin((base ^ flipped) & ((1 << 64) - 1)).count("1")
    if dist <= 3:
        assert any(a == b for a, b in zip(bands_a, bands_b))
