"""Training-data pipeline operators vs the DuckDB oracle."""

from __future__ import annotations

import pytest

from stonedb_spark.queries import all_queries
from stonedb_spark.testing import check_query

NAMES = sorted(
    n
    for n in all_queries()
    if n.split("_")[0]
    in ("dedup", "knn", "text", "multimodal", "events", "pipeline", "emb", "graph")
)


@pytest.mark.parametrize("name", NAMES)
def test_pipeline_matches_oracle(spark, oracle, sf_dir, name):
    q = all_queries()[name]
    problems = check_query(spark, oracle, q, sf_dir)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", NAMES)
def test_pipeline_nonempty(spark, sf_dir, name):
    q = all_queries()[name]
    assert q.build(spark, sf_dir).count() > 0, f"{name} returned no rows"


def test_minhash_lsh_recall_vs_groundtruth(spark, sf_dir):
    """LSH candidates must recover most true near-dup pairs (b=4, r=3 →
    ~94% per-pair catch probability at J=0.8)."""
    qs = all_queries()
    truth = qs["dedup_ngram_jaccard"].build(spark, sf_dir).count()
    lsh = qs["dedup_minhash_lsh"].build(spark, sf_dir).count()
    assert truth > 0
    assert lsh >= 0.7 * truth, f"LSH recall too low: {lsh}/{truth}"


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation finds components on a diameter-5 chain
    (multiple rounds needed), a triangle, and leaves singleton-free
    output (only nodes that appear in a pair are labeled)."""
    from stonedb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 10-11-12-13-14-15, triangle 20-21-22, pair 30-31
        [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15),
         (20, 21), (21, 22), (20, 22), (30, 31)],
        ["d1", "d2"],
    )
    got = {
        r["node"]: r["comp"] for r in connected_components(pairs).collect()
    }
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }


def _union_find_labels(edges):
    """Reference labeling: each node maps to the minimum node of its
    component, computed by a driver-side union-find."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_star_equivalence(spark, sf_dir):
    """Min-label propagation must produce the identical labeling as a
    union-find reference (every node labeled with its component's
    minimum id) on a long chain (diameter 40, past the default round
    cap, so max_iter=50), a 4-clique, a pair, and the real near-dup
    pair graph, where every pair also shares a label."""
    from stonedb_spark.catalog import load_tables
    from stonedb_spark.operators.dedup import connected_components, jaccard_pairs

    chain = [(i, i + 1) for i in range(100, 140)]
    clique = [(200 + i, 200 + j) for i in range(4) for j in range(i + 1, 4)]
    toy_edges = chain + clique + [(300, 301)]
    toy = spark.createDataFrame(toy_edges, ["d1", "d2"])
    got = {
        r["node"]: r["comp"]
        for r in connected_components(toy, max_iter=50).collect()
    }
    assert got == _union_find_labels(toy_edges)
    assert got[140] == 100 and got[203] == 200 and got[301] == 300

    real = jaccard_pairs(
        load_tables(spark, sf_dir)["documents"], threshold=0.5, max_df=100
    )
    edges = [(r["d1"], r["d2"]) for r in real.collect()]
    labels = {
        r["node"]: r["comp"]
        for r in connected_components(
            spark.createDataFrame(edges, "d1 long, d2 long")
        ).collect()
    }
    assert edges and labels == _union_find_labels(edges)
    assert all(labels[a] == labels[b] for a, b in edges)


def test_connected_components_raise_at_round_cap(spark):
    """A 60-edge chain needs 60 propagation rounds, past the default
    cap of 25: the operator raises instead of returning the unconverged
    labels (36 components where the answer is 1)."""
    from stonedb_spark.operators.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(60)], ["d1", "d2"])
    with pytest.raises(RuntimeError, match="max_iter=25"):
        connected_components(chain)


def test_operator_edge_cases_empty_inputs(spark):
    """Degenerate inputs must produce well-formed empty/null results,
    not errors: CC with no pairs, as-of with an empty right side,
    weighted sampling with out-of-range weights."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )

    from stonedb_spark.operators.asofjoin import asof_join
    from stonedb_spark.operators.dedup import connected_components
    from pyspark.sql import functions as F

    from stonedb_spark.operators.sampling import weighted_sample

    empty_pairs = spark.createDataFrame(
        [], StructType([StructField("d1", LongType()), StructField("d2", LongType())])
    )
    assert connected_components(empty_pairs).count() == 0

    import datetime as dt
    left = spark.createDataFrame(
        [(1, 5, dt.datetime(2024, 1, 1))], ["event_id", "k", "ts"]
    )
    empty_right = spark.createDataFrame(
        [], StructType([
            StructField("k", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]),
    )
    out = asof_join(left, empty_right, on="k", ts="ts").collect()
    assert len(out) == 1 and out[0]["r_value"] is None and out[0]["r_ts"] is None

    df = spark.range(100).select(F.col("id").alias("doc_id"))
    assert weighted_sample(df, "doc_id", F.lit(-5.0)).count() == 0
    assert weighted_sample(df, "doc_id", F.lit(99.0)).count() == 100


def test_heavy_hitters_guarantee_skewed(spark):
    """Misra-Gries 2-pass must equal the exact groupBy answer on a
    skewed stream spread over many partitions (the superset guarantee
    is per-partition; the recount makes the final answer exact)."""
    from pyspark.sql import functions as F

    from stonedb_spark.operators.heavyhitters import heavy_hitters

    rows = (
        [("hot",)] * 3000
        + [("warm",)] * 800
        + [(f"cold{i % 500}",) for i in range(6200)]
    )
    df = spark.createDataFrame(rows, ["tok"]).repartition(32)
    got = {r["item"]: r["n"] for r in heavy_hitters(df, "tok", k=20).collect()}
    n = len(rows)
    expect = {
        r["tok"]: r["n"]
        for r in df.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > n / 20)
        .collect()
    }
    assert got == expect and "hot" in got and got["hot"] == 3000


def test_line_dedup_no_cross_doc_dupes_keeps_everything(spark, sf_dir):
    """A corpus slice whose 10-word windows are all corpus-unique must
    survive line dedup intact: n_shared=0 everywhere and clean_hash =
    md5 of the full reassembled text."""
    from stonedb_spark.queries import all_queries

    out = all_queries()["text_line_dedup"].build(spark, sf_dir).collect()
    assert len(out) > 0
    # a doc reassembles to the empty string IFF every one of its windows
    # is shared corpus-wide (C4 legitimately drops such docs); counts
    # stay within bounds and the fully-wiped set stays a small minority
    import hashlib

    empty = hashlib.md5(b"").hexdigest()
    for r in out:
        assert 0 <= r.n_shared <= r.n_sent
        assert (r.clean_hash == empty) == (r.n_shared == r.n_sent)
    wiped = sum(1 for r in out if r.clean_hash == empty)
    assert wiped < 0.1 * len(out), f"{wiped}/{len(out)} docs wiped"


def test_hard_negatives_labels_differ_and_ranks_dense(spark, sf_dir):
    """Every mined negative must carry a label different from its
    anchor's, ranks must be dense 1..5 per anchor."""
    from stonedb_spark.catalog import load_tables
    from stonedb_spark.queries import all_queries

    e = load_tables(spark, sf_dir)["embeddings"]
    labels = {r.vec_id: r.label for r in e.select("vec_id", "label").collect()}
    rows = all_queries()["emb_hard_negatives"].build(spark, sf_dir).collect()
    per = {}
    for r in rows:
        per.setdefault(r.anchor_id, []).append(r)
        assert labels[r.vec_id] != labels[r.anchor_id]
    for a, rs in per.items():
        assert sorted(x.rnk for x in rs) == [1, 2, 3, 4, 5]
        sims = [x.cos_sim for x in sorted(rs, key=lambda x: x.rnk)]
        assert sims == sorted(sims, reverse=True)


def test_snapshot_diff_classes_partition_the_keyspace(spark, sf_dir):
    """insert+delete+update+unchanged counts must exactly cover
    |old ∪ new| keys, and the derivation rates must match the modulus
    rules that built the new snapshot."""
    from pyspark.sql import functions as F

    from stonedb_spark.catalog import load_tables
    from stonedb_spark.queries import all_queries

    o = load_tables(spark, sf_dir)["orders"]
    n_old = o.count()
    got = {
        r.change: r.n_keys
        for r in all_queries()["pipeline_snapshot_diff"].build(spark, sf_dir).collect()
    }
    n_del = o.filter(F.col("o_orderkey") % 97 == 0).count()
    n_ins = o.filter(F.col("o_orderkey") % 101 == 0).count()
    # updates: %13 survivors whose price actually changed (+1.0 always changes)
    n_upd = o.filter(
        (F.col("o_orderkey") % 97 != 0) & (F.col("o_orderkey") % 13 == 0)
    ).count()
    assert got.get("delete", 0) == n_del
    assert got.get("insert", 0) == n_ins
    assert got.get("update", 0) == n_upd
    assert got.get("unchanged", 0) == n_old - n_del - n_upd
    assert sum(got.values()) == n_old + n_ins


def test_domain_mix_rates_are_valid_probabilities(spark, sf_dir):
    """Every ppm rate is in (0, 1e6]; the min-token source gets exactly
    1e6 (kept whole); expected token mass is <= actual."""
    from stonedb_spark.queries import all_queries

    rows = all_queries()["pipeline_domain_mix"].build(spark, sf_dir).collect()
    assert rows
    assert all(0 < r.rate_ppm <= 1_000_000 for r in rows)
    mn = min(r.n_tokens for r in rows)
    assert all(
        r.rate_ppm == 1_000_000 for r in rows if r.n_tokens == mn
    )
    assert all(r.expected_tokens <= r.n_tokens for r in rows)


def test_gap_fill_grid_is_dense_and_carry_monotone(spark, sf_dir):
    """The filled series has every hour between each user's span ends,
    zero-count rows only where no events fell, and the carried value is
    never NULL after the first observed hour."""
    from stonedb_spark.queries import all_queries

    rows = all_queries()["events_gap_fill"].build(spark, sf_dir).collect()
    per = {}
    for r in rows:
        per.setdefault(r.user_id, []).append(r)
    assert per
    from datetime import timedelta

    for u, rs in per.items():
        rs.sort(key=lambda r: r.h)
        for a, b in zip(rs, rs[1:]):
            assert b.h - a.h == timedelta(hours=1), f"gap in user {u} grid"
        # first row is an observed hour by construction (span starts there)
        assert rs[0].n_events > 0 and rs[0].carried_value is not None
        assert all(r.carried_value is not None for r in rs)


def test_scd2_intervals_tile_each_user_history(spark, sf_dir):
    """Per user: exactly one open interval (the last), each interval's
    valid_to equals the next interval's valid_from (gap-free tiling),
    and consecutive intervals always change state."""
    from stonedb_spark.queries import all_queries

    rows = all_queries()["events_scd2_intervals"].build(spark, sf_dir).collect()
    per = {}
    for r in rows:
        per.setdefault(r.user_id, []).append(r)
    assert per
    for u, rs in per.items():
        rs.sort(key=lambda r: r.valid_from)
        open_tails = [r for r in rs if r.valid_to is None]
        assert len(open_tails) == 1 and open_tails[0] is rs[-1]
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from, f"gap/overlap for user {u}"
            assert a.event_type != b.event_type, f"no-op interval for user {u}"


def test_wav_codec_roundtrip_properties():
    """Hand-rolled RIFF encoder vs stdlib-wave decoder: exact sample
    round-trip across rates, lengths (incl. 0), and extreme amplitudes."""
    import numpy as np

    from stonedb_spark.operators.codecs import decode_wav, encode_wav

    for n, rate in [(0, 8000), (1, 8000), (3, 44100), (777, 16000)]:
        rng = np.random.RandomState(n + rate)
        s = rng.randint(-32768, 32768, size=n).astype(np.int16)
        if n:
            s[0] = -32768  # extreme amplitudes survive
            s[-1] = 32767
        got_rate, got = decode_wav(encode_wav(s, rate))
        assert got_rate == rate
        assert np.array_equal(got, s), (n, rate)


def test_bmp_codec_roundtrip_properties():
    """struct-packed BMP encoder vs header-parsing decoder: exact pixel
    round-trip including every row-padding class (w%4 in 0..3)."""
    import numpy as np

    from stonedb_spark.operators.codecs import decode_bmp, encode_bmp

    for w in (1, 2, 3, 4, 5, 8, 13):
        for h in (1, 2, 7):
            rng = np.random.RandomState(w * 100 + h)
            px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
            got = decode_bmp(encode_bmp(px))
            assert got.shape == (h, w, 3)
            assert np.array_equal(got, px), (w, h)


def test_png_codec_roundtrip_and_integrity():
    """zlib-deflated PNG encoder (per-row filter rotation: all five
    spec filters) vs CRC-checked chunk-walking decoder: exact pixel
    round-trip for h >= 5 (every filter path exercised), plus CRC and
    signature corruption must be DETECTED, not silently decoded."""
    import numpy as np
    import pytest

    from stonedb_spark.operators.codecs import decode_png, encode_png

    for w in (1, 3, 8, 13):
        for h in (1, 5, 11):
            rng = np.random.RandomState(w * 100 + h)
            px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
            payload = encode_png(px)
            got = decode_png(payload)
            assert got.shape == (h, w, 3)
            assert np.array_equal(got, px), (w, h)

    payload = bytearray(encode_png(np.zeros((6, 4, 3), np.uint8)))
    payload[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(payload))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JUNK" + bytes(payload))
