"""Table layout writers and maintenance verbs: compaction, Bloom
filters, Z-order clustering."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stonedb_spark.catalog import load_tables


def test_compact_table_folds_small_files(spark, sf_dir, tmp_path):
    """The background delta-merge analog: many small appended files →
    few target-size files, contents identical."""
    import glob

    from stonedb_spark.sources.ddl import compact_table

    path = str(tmp_path / "events_small")
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    # simulate delayed-insert accumulation: 40 tiny appended files
    src.repartition(40).write.parquet(path)
    assert len(glob.glob(f"{path}/*.parquet")) == 40
    before = src.count()
    n = compact_table(spark, path, target_file_bytes=8 * 1024 * 1024)
    files = glob.glob(f"{path}/*.parquet")
    assert len(files) == n < 40
    after = spark.read.parquet(path)
    assert after.count() == before
    # column set survives the rewrite
    assert sorted(after.columns) == sorted(src.columns)
    assert os.listdir(tmp_path) == ["events_small"]  # staging and backup dirs are gone


def test_write_with_bloom_adds_compact_filters(spark, sf_dir, tmp_path):
    """Bloom-enabled layout: filters present (size delta), NDV-sized
    (compact), and point lookups on the bloom column stay correct."""
    import glob

    from stonedb_spark.sources.bucketing import write_with_bloom

    d = (
        load_tables(spark, sf_dir)["documents"]
        .select("doc_id", F.md5("text").alias("h"))
        .coalesce(1)
    )
    n = d.count()
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    d.write.parquet(plain)
    write_with_bloom(d, bloomed, {"h": n})
    size = lambda p: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(f"{p}/*.parquet")
    )
    s_plain, s_bloom = size(plain), size(bloomed)
    assert s_bloom > s_plain  # the filter bytes exist
    assert s_bloom < s_plain + 64 * 1024  # and are NDV-sized, not default-sized
    probe = d.limit(1).collect()[0]["h"]
    got = spark.read.parquet(bloomed).filter(F.col("h") == probe).collect()
    assert len(got) == 1 and got[0]["h"] == probe


def _mean_group_span(path, col):
    """Mean (max - min) of ``col`` over the row groups of a parquet
    table, as a fraction of the column's whole range."""
    import glob

    import pyarrow.parquet as pq

    spans, glo, ghi = [], None, None
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            spans.append(st.max - st.min)
            glo = st.min if glo is None else min(glo, st.min)
            ghi = st.max if ghi is None else max(ghi, st.max)
    return (sum(spans) / len(spans)) / (ghi - glo)


def test_zorder_layout_tightens_stats_on_both_columns(spark, sf_dir, tmp_path):
    """Z-ordered files must carry materially tighter per-file min/max
    ranges than a random layout on BOTH clustering columns — the stats
    that drive row-group/file skipping for filters on either key."""
    from stonedb_spark.operators.zorder import zorder_write

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    rand_path, z_path = str(tmp_path / "rand"), str(tmp_path / "zord")
    li.repartition(8).write.parquet(rand_path)
    # 16 files = 2^4 z-splits -> BOTH interleaved columns get >= 2 bit
    # levels, so each file spans <= ~1/4 of either column's range; with
    # 8 (=2^3) one column only got one level and its expected span
    # (~0.5 + range-boundary raggedness) sat exactly at the assert
    # threshold, flaking on the range-sampler's input layout.
    zorder_write(li, z_path, ["l_orderkey", "l_partkey"], partitions=16)

    for col in ("l_orderkey", "l_partkey"):
        r, z = _mean_group_span(rand_path, col), _mean_group_span(z_path, col)
        assert z < r * 0.6, (col, r, z)  # clustered files ≪ random files
    # layout change must not change content
    assert spark.read.parquet(z_path).count() == li.count()


def test_optimize_zorder_compacts_and_clusters(spark, sf_dir, tmp_path):
    """The combined maintenance verb: many small files in -> few files
    out, content identical, and the rewrite is clustered on the Morton
    key of BOTH columns: row groups cover narrow l_partkey AND l_suppkey
    ranges.  A sort on l_partkey alone (a Morton key over unscaled
    columns, where the wider column owns the top bits) leaves every row
    group spanning nearly all of l_suppkey."""
    import glob

    from stonedb_spark.sources.ddl import optimize_zorder

    l = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    path = str(tmp_path / "t")
    l.repartition(40).write.parquet(path)  # fragmented ingest
    before = spark.read.parquet(path)
    cnt, csum = before.count(), before.agg(F.sum("l_quantity")).collect()[0][0]

    n = optimize_zorder(spark, path, ["l_partkey", "l_suppkey"],
                        target_file_bytes=1 << 18, group_bytes=1 << 16)
    files = glob.glob(path + "/*.parquet")
    assert len(files) == n < 40
    after = spark.read.parquet(path)
    assert after.count() == cnt
    assert abs(after.agg(F.sum("l_quantity")).collect()[0][0] - csum) < 1e-6
    assert os.listdir(tmp_path) == ["t"]  # staging and backup dirs are gone

    spans = {c: _mean_group_span(path, c) for c in ("l_partkey", "l_suppkey")}
    # a sort on l_partkey gives ~0.07 and ~0.89 here; the Morton layout ~0.33 and ~0.23
    assert spans["l_partkey"] < 0.8 and spans["l_suppkey"] < 0.5, spans
