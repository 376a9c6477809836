"""Property-based tests (hypothesis) against independent oracles.

The DuckDB sweeps pin every registered query; these go after the
OPERATOR LIBRARY itself with randomized inputs — the as-of join against
pandas.merge_asof (a third, unrelated implementation), contiguous-id
assignment against plain sorting, and the Morton key against a Python
bit model — the places where edge shapes (empty keys, ties, all-null
payloads, range-boundary partitions) hide.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (key, ts-seconds) pairs; right side deduped on (key, ts) so the
# match is deterministic (pandas keeps the last duplicate, a Spark
# window over equal (ts, side) has no defined order — real pipelines
# must dedupe or add a tiebreak column, same as merge_asof users).
_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=25
)


@_SLOW
@given(left=_rows, right=_rows, direction=st.sampled_from(["backward", "forward"]))
def test_asof_join_matches_pandas_merge_asof(spark, left, right, direction):
    right = list({(k, t): None for (k, t) in right})  # dedupe (key, ts)
    lpd = pd.DataFrame(
        {
            "k": [k for k, _ in left],
            "ts": pd.to_datetime([t for _, t in left], unit="s"),
            "lid": range(len(left)),
        }
    ).astype({"k": "int64", "lid": "int64"})
    rpd = pd.DataFrame(
        {
            "k": [k for k, _ in right],
            "ts": pd.to_datetime([t for _, t in right], unit="s"),
            "payload": [k * 100 + t for k, t in right],
        }
    ).astype({"k": "int64", "payload": "int64"})
    want = pd.merge_asof(
        lpd.sort_values("ts", kind="stable"),
        rpd.sort_values("ts", kind="stable"),
        on="ts",
        by="k",
        direction=direction,
        suffixes=("", "_r"),
    )

    from stonedb_spark.operators.asofjoin import asof_join

    ldf = spark.createDataFrame(
        lpd.assign(ts=lpd["ts"]) if len(lpd) else lpd,
        "k long, ts timestamp, lid long",
    )
    rdf = spark.createDataFrame(rpd, "k long, ts timestamp, payload long")
    got = (
        asof_join(ldf, rdf, on="k", ts="ts", payload=["payload"], direction=direction)
        .select("lid", "r_payload")
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    want = want.sort_values("lid").reset_index(drop=True)
    assert len(got) == len(want)
    for i in range(len(got)):
        w = want["payload"][i]
        g = got["r_payload"][i]
        assert (pd.isna(w) and pd.isna(g)) or w == g, (
            i, left, right, direction, w, g,
        )


@_SLOW
@given(
    ids=st.lists(st.integers(0, 10_000), min_size=0, max_size=60, unique=True),
    partitions=st.integers(1, 8),
)
def test_contiguous_ids_match_global_sort(spark, ids, partitions):
    from stonedb_spark.operators.ids import assign_contiguous_ids

    df = spark.createDataFrame([(i,) for i in ids], "v long")
    out = assign_contiguous_ids(df, ["v"], partitions=partitions).toPandas()
    got = out.sort_values("row_id")
    assert list(got["row_id"]) == list(range(len(ids)))
    assert list(got["v"]) == sorted(ids)


@given(
    xy=st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=1,
        max_size=40,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_zvalue_matches_python_bit_model(spark, xy):
    from stonedb_spark.operators.zorder import zvalue

    def model(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(xy, "x long, y long")
    got = df.select("x", "y", zvalue([F.col("x"), F.col("y")], 16).alias("z")).collect()
    for r in got:
        assert r["z"] == model(r["x"], r["y"]), (r["x"], r["y"])


@given(
    xy=st.lists(
        st.tuples(
            st.integers(-(1 << 40), 1 << 40), st.integers(-(1 << 40), 1 << 40)
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_zvalue_out_of_width_inputs_fold_mod(spark, xy):
    """Inputs >= 2^bits or negative must fold with pmod — the same key
    as (v mod 2^bits) — never alias through raw sign-extended bit
    slices (l_partkey at sf1 exceeds 2^16; ADVICE round-5)."""
    from stonedb_spark.operators.zorder import zvalue

    def model(x, y):
        x, y = x % 65536, y % 65536
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(xy, "x long, y long")
    got = df.select("x", "y", zvalue([F.col("x"), F.col("y")], 16).alias("z")).collect()
    for r in got:
        assert r["z"] == model(r["x"], r["y"]), (r["x"], r["y"])
        assert 0 <= r["z"] < (1 << 32)


# Random DML sequences against the weighted IVM algebra: the
# consolidated maintained view must equal the join of the NET states
# regardless of how inserts/deletes interleave across sides.  The
# oracle is plain Python dict arithmetic — a third implementation,
# independent of both Spark and the IVM terms.  Deletes are drawn
# only from rows currently live on their side (the append-only DML
# contract; retracting a never-inserted row is undefined upstream).
_ops = st.lists(
    st.tuples(
        st.sampled_from(["ia", "ib", "da", "db"]),
        st.integers(0, 3),  # join key
        st.integers(0, 2),  # payload
    ),
    min_size=1,
    max_size=14,
)


@_SLOW
@given(ops=_ops)
def test_ivm_weighted_matches_multiset_model(spark, ops):
    from collections import Counter

    from stonedb_spark.operators.ivm import (
        consolidate,
        delta_join_weighted,
    )

    live_a, live_b = Counter(), Counter()  # (key, payload) -> multiplicity
    a_state = b_state = view = None

    def frame(side, key, payload, w):
        col = "pa" if side == "a" else "pb"
        return spark.createDataFrame(
            [(key, payload, w)], f"k long, {col} long, _w long"
        )

    for op, key, payload in ops:
        side, kind = op[1], op[0]
        live = live_a if side == "a" else live_b
        if kind == "d":
            if not live:
                continue  # nothing to retract on this side
            key, payload = sorted(live)[key % len(live)]
            live[(key, payload)] -= 1
            if live[(key, payload)] == 0:
                del live[(key, payload)]
            w = -1
        else:
            live[(key, payload)] += 1
            w = 1
        da = frame("a", key, payload, w) if side == "a" else None
        db = frame("b", key, payload, w) if side == "b" else None
        nj = delta_join_weighted(a_state, b_state, da, db, "k")
        if nj is not None:
            view = nj if view is None else view.unionByName(nj)
        if da is not None:
            a_state = da if a_state is None else a_state.unionByName(da)
        if db is not None:
            b_state = db if b_state is None else b_state.unionByName(db)

    expect = Counter()
    for (ka, pa), wa in live_a.items():
        for (kb, pb), wb in live_b.items():
            if ka == kb:
                expect[(ka, pa, pb)] += wa * wb
    if view is None:
        assert not expect
        return
    got = Counter(
        {(r.k, r.pa, r.pb): r._w for r in consolidate(view).collect()}
    )
    assert got == +expect
