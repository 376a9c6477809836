"""Export / CTAS sinks (SELECT INTO OUTFILE + INSERT..SELECT parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stonedb_spark.catalog import load_tables
from stonedb_spark.queries import all_queries
from stonedb_spark.sources.export import ctas_parquet, export_csv


def test_export_csv_roundtrip(spark, sf_dir, tmp_path):
    q1 = all_queries()["tpch_q1"].build(spark, sf_dir)
    out = str(tmp_path / "q1_csv")
    export_csv(q1, out, sep="|", single_file=True)
    back = spark.read.option("sep", "|").option("header", "true").csv(out)
    assert back.count() == q1.count()
    assert back.columns == q1.columns


def test_ctas_parquet_roundtrip(spark, sf_dir, tmp_path):
    src = load_tables(spark, sf_dir)["orders"]
    derived = src.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    out = str(tmp_path / "orders_f")
    ctas_parquet(derived, out)
    back = spark.read.parquet(out)
    assert back.count() == derived.count()
    assert set(back.columns) == {"o_orderkey", "o_custkey", "o_totalprice"}


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


def test_write_with_bloom_adds_compact_filters(spark, sf_dir, tmp_path):
    """Bloom-enabled layout: filters present (size delta), NDV-sized
    (compact), and point lookups on the bloom column stay correct."""
    import glob
    import os

    from pyspark.sql import functions as F

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


def test_zorder_layout_tightens_stats_on_both_columns(spark, sf_dir, tmp_path):
    """Z-ordered files must carry materially tighter per-file min/max
    ranges than a random layout on BOTH clustering columns — the stats
    that drive row-group/file skipping for filters on either key."""
    import glob

    import pyarrow.parquet as pq

    from stonedb_spark.sources.bucketing import zorder_write

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
    zorder_write(li, z_path, ["l_orderkey", "l_partkey"], n_files=16)

    def avg_range(path, col):
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

    for col in ("l_orderkey", "l_partkey"):
        r, z = avg_range(rand_path, col), avg_range(z_path, col)
        assert z < r * 0.6, (col, r, z)  # clustered files ≪ random files
    # layout change must not change content
    assert spark.read.parquet(z_path).count() == li.count()


def test_orc_ctas_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC sink: bytes round-trip and the ORC scan prunes with pushed
    filters exactly like parquet (same stats model)."""
    from stonedb_spark.sources.export import ctas_orc

    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = str(tmp_path / "orders_orc")
    ctas_orc(o, path)
    back = spark.read.orc(path)
    assert back.count() == o.count()
    plan = back.filter(back["o_orderkey"] == 42)._jdf.queryExecution().executedPlan().toString()
    assert "o_orderkey" in plan
    assert [r["o_orderkey"] for r in back.filter(back["o_orderkey"] == 42).collect()] == [42]


def test_jsonl_export_roundtrip(spark, sf_dir, tmp_path):
    from stonedb_spark.sources.csvload import read_jsonl_with_rejects
    from stonedb_spark.sources.export import export_jsonl

    c = load_tables(spark, sf_dir)["customer"].select(
        "c_custkey", "c_name", "c_acctbal"
    ).filter("c_custkey <= 50")
    path = str(tmp_path / "cust_jsonl")
    export_jsonl(c, path)
    good, bad = read_jsonl_with_rejects(spark, path, c.schema)
    assert bad.count() == 0
    assert sorted(r["c_custkey"] for r in good.collect()) == sorted(
        r["c_custkey"] for r in c.collect()
    )


def test_ctas_codecs_equal_content_and_compress(spark, sf_dir, tmp_path):
    """Compression codec is a physical storage property: every codec
    round-trips identical rows (lz4.test analog — the reference
    compresses packs without changing query results), and zstd beats
    uncompressed size on the text-heavy documents table (the README's
    compression-ratio claim, directionally)."""
    import os

    docs = load_tables(spark, sf_dir)["documents"]
    sizes = {}
    for codec in ("none", "snappy", "zstd", "lz4"):
        out = str(tmp_path / f"docs_{codec}")
        ctas_parquet(docs, out, codec=codec)
        back = spark.read.parquet(out)
        assert back.count() == docs.count()
        assert sorted(back.columns) == sorted(docs.columns)
        sizes[codec] = sum(
            os.path.getsize(os.path.join(out, f))
            for f in os.listdir(out)
            if f.endswith(".parquet")
        )
        # content identical under every codec, not just count
        assert (
            back.exceptAll(docs).limit(1).count() == 0
            and docs.exceptAll(back).limit(1).count() == 0
        ), codec
    assert sizes["zstd"] < sizes["none"], sizes
    assert sizes["lz4"] < sizes["none"], sizes


def test_optimize_zorder_compacts_and_clusters(spark, sf_dir, tmp_path):
    """The combined maintenance verb: many small files in -> few files
    out, content identical, and the rewrite is clustered on the Morton
    key (per-file l_partkey ranges no longer span the whole domain)."""
    import glob

    import pyarrow.parquet as pq

    from stonedb_spark.catalog import load_tables
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

    # clustered: row groups cover narrow partkey ranges on average
    spans, total_span = [], None
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(cols["l_partkey"]).statistics
            spans.append(st.max - st.min)
    full = l.agg(F.max("l_partkey") - F.min("l_partkey")).collect()[0][0]
    assert sum(spans) / len(spans) < 0.8 * full, (sum(spans) / len(spans), full)


def test_training_shard_export_manifest_roundtrip(spark, sf_dir, tmp_path):
    """Shard export: partitioned write + manifest whose per-shard rows/
    tokens/checksums re-verify from the written data; totals match the
    corpus; a tampered shard fails verification."""
    import json

    from stonedb_spark.catalog import load_tables
    from stonedb_spark.sources.shards import export_training_shards, verify_shard

    docs = load_tables(spark, sf_dir)["documents"]
    path = str(tmp_path / "shards")
    manifest = export_training_shards(docs, path, token_budget=2000)
    assert len(manifest) > 3
    assert sum(m["rows"] for m in manifest.values()) == docs.count()

    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    for shard in list(manifest)[:3]:
        assert verify_shard(spark, path, shard)

    # tamper: rewrite one shard missing a row -> checksum mismatch
    shard = sorted(manifest)[0]
    part_dir = f"{path}/shard={shard}"
    kept = spark.read.parquet(part_dir).localCheckpoint()  # detach from files
    victim = kept.limit(1).collect()[0]["doc_id"]
    kept.filter(F.col("doc_id") != victim).write.mode("overwrite").parquet(part_dir)
    assert not verify_shard(spark, path, shard)


def test_training_shard_checksum_detects_payload_and_duplication(
    spark, sf_dir, tmp_path
):
    """ADVICE round-5: the checksum must cover the text payload (same
    doc_ids + altered text fails) and must be multiplicity-sensitive
    (duplicating a row an EVEN number of times fails — a doc_id-only
    XOR fold cancels identical pairs and would verify)."""
    from stonedb_spark.catalog import load_tables
    from stonedb_spark.sources.shards import export_training_shards, verify_shard

    docs = load_tables(spark, sf_dir)["documents"]
    path = str(tmp_path / "shards")
    manifest = export_training_shards(docs, path, token_budget=2000)
    shard = sorted(manifest)[0]
    part_dir = f"{path}/shard={shard}"
    orig = spark.read.parquet(part_dir).localCheckpoint()

    # substitution: same membership (doc_ids, row count), altered text
    victim = orig.limit(1).collect()[0]["doc_id"]
    tampered = orig.withColumn(
        "text",
        F.when(F.col("doc_id") == victim, F.concat(F.col("text"), F.lit("X")))
        .otherwise(F.col("text")),
    )
    tampered.write.mode("overwrite").parquet(part_dir)
    assert not verify_shard(spark, path, shard)

    # even-count duplication: 2 extra copies of one row.  The XOR
    # component alone cancels the identical pair — assert the combined
    # checksum ITSELF diverges (not merely the row count).
    from stonedb_spark.sources.shards import _content_checksum

    dup = orig.unionByName(
        orig.filter(F.col("doc_id") == victim)
    ).unionByName(orig.filter(F.col("doc_id") == victim))
    ck_orig = orig.agg(_content_checksum("text").alias("c")).collect()[0]["c"]
    ck_dup = dup.agg(_content_checksum("text").alias("c")).collect()[0]["c"]
    assert ck_orig.split("-")[0] == ck_dup.split("-")[0]  # XOR part cancels…
    assert ck_orig != ck_dup  # …but the additive part catches it
    dup.write.mode("overwrite").parquet(part_dir)
    assert not verify_shard(spark, path, shard)

    # restore -> verifies again (checksum is order-insensitive)
    orig.orderBy(F.rand(7)).write.mode("overwrite").parquet(part_dir)
    assert verify_shard(spark, path, shard)
