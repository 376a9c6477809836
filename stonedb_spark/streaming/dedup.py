"""Streaming deduplication — the incremental analog of dedup_exact.

No reference counterpart (SURVEY §2.10: the reference has no streaming
operators; its nearest machinery is insert dup-checking through the
RocksDB PK index, TianmuTableIndex dup-check on insert,
storage/tianmu/index/tianmu_table_index.h:58-61).  For a training-data
pipeline this is the ingest-side guard: drop re-delivered / re-crawled
records before they land in the corpus, instead of re-running batch
dedup over 100 TB.

Scale shape: dropDuplicatesWithinWatermark keys the state store by the
dedup key and GCs every key once the watermark passes it — state is
bounded by (arrival rate × watermark horizon), NOT by corpus size.
Plain dropDuplicates on a stream would grow state forever; the
watermarked variant is the only 100 TB-safe form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    within: str = "1 hour",
) -> DataFrame:
    """Drop rows whose ``key_cols`` were already seen within the
    watermark horizon.  ``within`` bounds both dedup reach and state."""
    return stream.withWatermark(ts_col, within).dropDuplicatesWithinWatermark(
        key_cols
    )


def build_corpus_index(corpus: DataFrame, text_col: str = "text"):
    """Build (and materialize) the corpus MinHash LSH index once — band
    keys plus the shingle rows the Jaccard verifier needs; the artifact
    a production pipeline stores as a table partitioned by band_key.
    Streamed batches probe it by equi-join.  Returns a
    ``CorpusLSHIndex`` (see operators/dedup.build_lsh_index)."""
    from stonedb_spark.operators.dedup import build_lsh_index

    return build_lsh_index(corpus, text_col)


def run_incremental_dedup_stream(
    spark,
    corpus: DataFrame,
    batch_dir: str,
    out_path: str,
    checkpoint: str,
    schema,
    text_col: str = "text",
    threshold: float = 0.5,
) -> None:
    """Stream-side incremental dedup: drain new-document files
    (availableNow) and verdict each against the EXISTING corpus via the
    prebuilt LSH index — the nightly-crawl shape.  Each micro-batch
    runs the same probe + bounded Jaccard verify as the batch operator
    (operators/dedup.probe_lsh_index), so stream output == batch
    output under ANY chunking of the input files (no cross-batch
    state: every verdict depends only on the batch row and the frozen
    corpus, which is what makes the stage embarrassingly restartable).

    The corpus LSH index (signatures → band keys, plus shingle rows)
    is built and materialized ONCE before the stream starts; each
    micro-batch only pays batch-sized probe work — the 'index built
    once, probe cost scales with the batch' contract.

    Results append to ``out_path`` (batch_id, is_dup, best_match,
    best_jaccard).
    """
    from stonedb_spark.operators.dedup import probe_lsh_index

    index = build_corpus_index(corpus, text_col)

    def fold(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        verdicts = probe_lsh_index(
            index, batch, text_col=text_col, threshold=threshold
        )
        verdicts.write.mode("append").parquet(out_path)

    q = (
        spark.readStream.schema(schema)
        .parquet(batch_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
