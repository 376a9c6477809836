"""Training-data pipeline operators — dedup, similarity search, text
analysis, multimodal plumbing (beyond the reference's surface; graded as
first-class components).

Every oracle here replicates the *same algorithm* in DuckDB SQL — e.g.
the MinHash oracle recomputes the identical md5-string signatures and
band keys, so LSH's probabilistic recall cannot cause a mismatch.
Shared constants (seeds, stopword lists, hyperplanes) are inlined into
both sides from one Python definition.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stonedb_spark.catalog import load_tables
from stonedb_spark.functions.exact import DEC
from stonedb_spark.functions import text as T
from stonedb_spark.operators import dedup as D
from stonedb_spark.operators import similarity as S
from stonedb_spark.queries import register
from stonedb_spark.reuse import materialize

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments
_SQL_W = "SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents"
_SQL_SHINGLES = (
    "SELECT doc_id, unnest(list_distinct("
    "[w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]"
    ")) AS shingle FROM ({w}) _w"
).format(w=_SQL_W)


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy).  Fixture has no exact dups, so both sides
# union in a deterministic re-keyed sample to create them.
@register(
    "dedup_exact",
    oracle="""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(text) AS content_hash, COUNT(*) AS n_dups, MIN(doc_id) AS keeper
FROM all_docs
GROUP BY content_hash
HAVING COUNT(*) > 1
ORDER BY content_hash
""",
    doc="exact dedup via content-hash groupBy (one shuffle on md5)",
)
def dedup_exact(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return (
        D.exact_dedup_groups(d.union(dups))
        .select("content_hash", "n_dups", "keeper")
        .orderBy("content_hash")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs via shingle inverted-index join.
_JACCARD_SQL = f"""
WITH sh0 AS ({_SQL_SHINGLES}),
df_ok AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 100),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN df_ok USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT d1, d2,
       CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) > 0.5
ORDER BY d1, d2
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_SQL,
    doc="word-3-gram Jaccard pairs via inverted-index equi-join (no cross join)",
)
def dedup_ngram_jaccard(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        D.jaccard_pairs(t["documents"], threshold=0.5, max_df=100)
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH candidates, exact-Jaccard verified.
def _minhash_oracle() -> str:
    # identical universal-hash family as operators/dedup.py: one md5 →
    # 60-bit base, h_i = (a_i·base + b_i) mod P — same constants inlined.
    p = D.MERSENNE_P
    sig_cols = ", ".join(
        f"MIN(({a} * base + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(D.HASH_AB)
    )
    n_bands = D.N_HASHES // D.BAND_ROWS
    band_arms = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, {cat} AS band_key FROM sig".format(
            b=b,
            cat=" || '|' || ".join(
                f"CAST(h{b * D.BAND_ROWS + r} AS VARCHAR)"
                for r in range(D.BAND_ROWS)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH sh AS ({_SQL_SHINGLES}),
based AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {p} AS base
          FROM sh),
sig AS (SELECT doc_id, {sig_cols} FROM based GROUP BY doc_id),
bk AS ({band_arms}),
cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         FROM bk x JOIN bk y ON x.band = y.band AND x.band_key = y.band_key
         WHERE x.doc_id < y.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
ver AS (SELECT d1, d2,
               CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) > 0.5)
SELECT c.d1 AS d1, c.d2 AS d2, v.jaccard AS jaccard
FROM cand c JOIN ver v ON c.d1 = v.d1 AND c.d2 = v.d2
ORDER BY d1, d2
"""


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    doc="MinHash(12 modular perms of one md5) + banded LSH(4×3) + Jaccard verify",
)
def dedup_minhash_lsh(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return D.minhash_lsh_pairs(t["documents"], threshold=0.5).orderBy("d1", "d2")


# ---------------------------------------------------------------------------
# SimHash fingerprints; equal-fingerprint pairs.
def _simhash_oracle() -> str:
    votes = []
    for j in range(32):
        nib, bit = j // 4, j % 4
        v = f"(instr('0123456789abcdef', substr(md5(tok), {nib + 1}, 1)) - 1)"
        votes.append(
            f"SUM(CASE WHEN ({v} & {1 << bit}) != 0 THEN 1 ELSE -1 END) AS v{j}"
        )
    vote_cols = ",\n       ".join(votes)
    bits = " || ".join(f"CASE WHEN v{j} > 0 THEN '1' ELSE '0' END" for j in range(32))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) AS tok
  FROM documents
),
votes AS (SELECT doc_id, {vote_cols} FROM toks GROUP BY doc_id),
sim AS (SELECT doc_id, {bits} AS simhash FROM votes)
SELECT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS simhash
FROM sim a JOIN sim b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
ORDER BY d1, d2
"""


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    doc="32-bit SimHash from md5 nibbles; equal-fingerprint near-dup pairs",
)
def dedup_simhash(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    # the self-join otherwise recomputes the 32-bit vote aggregation
    # for each side (2× the heavy stage; output is 1 row/doc)
    sim = materialize(D.simhash32(t["documents"]))
    a = sim.select(F.col("doc_id").alias("d1"), F.col("simhash"))
    b = sim.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("sh2"))
    return (
        a.join(b, (F.col("simhash") == F.col("sh2")) & (F.col("d1") < F.col("d2")))
        .select("d1", "d2", "simhash")
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup pairs (brute baseline; LSH is the scale path).
_COS_AB = (
    "list_sum(list_transform(list_zip(a.embedding, b.embedding), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_NORM = (
    "sqrt(list_sum(list_transform({t}.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


@register(
    "dedup_embedding_cos",
    oracle=f"""
SELECT a.vec_id AS v1, b.vec_id AS v2,
       ROUND({_COS_AB} / ({_NORM.format(t='a')} * {_NORM.format(t='b')}), 9) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COS_AB} / ({_NORM.format(t='a')} * {_NORM.format(t='b')}) > 0.3
ORDER BY cos_sim DESC, v1, v2
LIMIT 50
""",
    doc="embedding-cosine near-dup pairs (exact top-50 above 0.3)",
)
def dedup_embedding_cos(spark, sf_dir):
    # Per-ROW work (normalize) runs once in Catalyst; per-PAIR work (the
    # n² dot products) runs as ONE vectorized einsum per Arrow batch —
    # interpreted per-pair array folds measured 89 s vs ~3 s here at
    # sf0.1, and the gap scales with the pair count.  The unit vectors
    # are materialized: both join sides read the same n rows instead of
    # re-normalizing per side.
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    unit = materialize(e.select("vec_id", S.unit_vec(F.col("embedding")).alias("u")))
    a = unit.select(F.col("vec_id").alias("v1"), F.col("u").alias("ua"))
    b = unit.select(F.col("vec_id").alias("v2"), F.col("u").alias("ub"))
    pair_dot = S.pair_dot_pandas()
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .withColumn("cos_sim_raw", pair_dot(F.col("ua"), F.col("ub")))
        .filter(F.col("cos_sim_raw") > 0.3)
        .select("v1", "v2", F.round("cos_sim_raw", 9).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("v1"), F.asc("v2"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# k-NN: brute-force exact baseline.
@register(
    "knn_bruteforce",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT a.vec_id AS vec_id,
       ROUND(list_sum(list_transform(list_zip(a.embedding, q.qv),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / ({_NORM.format(t='a')}
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         9) AS cos_sim
FROM embeddings a CROSS JOIN q
ORDER BY cos_sim DESC, vec_id
LIMIT 20
""",
    doc="brute-force cosine top-20 for the vec_id=0 query vector",
)
def knn_bruteforce(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(S.cosine(F.col("embedding"), F.col("qv")), 9).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# k-NN: LSH-bucketed approximate variant (the 100 TB path: the scan
# prunes to the query's bucket).  The oracle reproduces the identical
# hyperplane buckets from the same inlined literals.
def _lsh_oracle() -> str:
    planes = S.lsh_hyperplanes()
    def plane_sql(tbl: str, p: list[float]) -> str:
        lits = ", ".join(repr(v) for v in p)
        return (
            f"CASE WHEN list_sum(list_transform(list_zip({tbl}.embedding, [{lits}]), "
            "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) >= 0 "
            "THEN '1' ELSE '0' END"
        )
    bucket_a = " || ".join(plane_sql("a", p) for p in planes)
    bucket_q = " || ".join(plane_sql("q", p) for p in planes)
    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
qb AS (SELECT {bucket_q} AS bucket FROM q)
SELECT a.vec_id AS vec_id,
       ROUND(list_sum(list_transform(list_zip(a.embedding, q.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / ({_NORM.format(t='a')}
            * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         9) AS cos_sim
FROM embeddings a CROSS JOIN q CROSS JOIN qb
WHERE ({bucket_a}) = qb.bucket
ORDER BY cos_sim DESC, vec_id
LIMIT 20
"""


@register(
    "knn_lsh_bucketed",
    oracle=_lsh_oracle(),
    doc="random-hyperplane LSH bucket search (approximate k-NN, scale path)",
)
def knn_lsh_bucketed(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    planes = S.lsh_hyperplanes()
    bucketed = e.withColumn("bucket", S.lsh_bucket(F.col("embedding"), planes))
    qb = q.withColumn("qbucket", S.lsh_bucket(F.col("qv"), planes))
    return (
        bucketed.crossJoin(F.broadcast(qb))
        .filter(F.col("bucket") == F.col("qbucket"))
        .select(
            "vec_id",
            F.round(S.cosine(F.col("embedding"), F.col("qv")), 9).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# k-NN: IVF (inverted-file) approximate variant — the other classic ANN
# scale path beside LSH: a coarse quantizer of nlist centroids partitions
# the vectors; a query probes only its nprobe nearest cells.  Centroids
# here are a deterministic hash-sample (engine-reproducible), so the
# DuckDB oracle rebuilds the identical index.
def _ivf_oracle(nlist: int, nprobe: int) -> str:
    cos = (
        "(list_sum(list_transform(list_zip({a}.embedding, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform({a}.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform({b}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"
    )
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {nlist}),
a AS (SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {cos.format(a='e', b='c.cvec')} DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN c)
      WHERE rn = 1),
probe AS (SELECT cid FROM (
        SELECT c.cid,
               ROW_NUMBER() OVER (
                   ORDER BY {cos.format(a='q2', b='c.cvec')} DESC, c.cid ASC) AS rn
        FROM (SELECT qv AS embedding FROM q) q2 CROSS JOIN c)
      WHERE rn <= {nprobe})
SELECT e.vec_id AS vec_id,
       ROUND({cos.format(a='e', b='q.qv')}, 9) AS cos_sim
FROM embeddings e
JOIN a ON e.vec_id = a.vec_id
JOIN probe ON a.cid = probe.cid
CROSS JOIN q
ORDER BY cos_sim DESC, vec_id
LIMIT 20
"""


@register(
    "knn_ivf_probe",
    oracle=_ivf_oracle(S.IVF_NLIST, S.IVF_NPROBE),
    doc="IVF coarse-quantized k-NN: nlist hash-seeded centroids, nprobe-cell probe",
)
def knn_ivf_probe(spark, sf_dir):
    # Remove shuffles outright (guide §2.4): a materialized (vec_id, cid)
    # assignment would be a sort-aggregate over an n×nlist scored
    # stream, exchanged on vec_id and joined back onto embeddings.  But
    # nlist is 16: collapse the centroid table to ONE row holding array<struct(cid, cvec)> and the
    # probe's top-nprobe cid set, broadcast that, and resolve each
    # vector's nearest cell as a map-side array_max over the 16 cosines
    # (identical arithmetic count — the cross join also scored all 16 —
    # with identical (sim DESC, cid ASC) tie-breaks via struct(sim,
    # -cid) ordering).  ONE scan of embeddings, zero exchanges of any
    # n-row frame; the only shuffle-like step left is TakeOrdered's
    # partial top-20 merge.
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    # 1-row frame: all nlist centroids + the probe's top-nprobe cids,
    # ordered exactly as the old orderBy(sim DESC, cid ASC).limit(nprobe)
    cents = (
        S.ivf_centroids(e)
        .agg(F.collect_list(F.struct("cid", "cvec")).alias("cents"))
        .crossJoin(F.broadcast(q))
        .select(
            "cents",
            F.transform(
                F.slice(
                    F.array_sort(
                        F.transform(
                            "cents",
                            lambda s: F.struct(
                                (-S.cosine(s["cvec"], F.col("qv"))).alias("ns"),
                                s["cid"].alias("cid"),
                            ),
                        )
                    ),
                    1,
                    S.IVF_NPROBE,
                ),
                lambda x: x["cid"],
            ).alias("probe"),
            "qv",
        )
    )
    # nearest cell per vector: max over struct(sim, -cid) == the old
    # max(struct(sim, -cid, cid)) aggregate (ties → smallest cid)
    best = F.array_max(
        F.transform(
            "cents",
            lambda s: F.struct(
                S.cosine(F.col("embedding"), s["cvec"]).alias("sim"),
                (-s["cid"]).alias("nid"),
            ),
        )
    )
    return (
        e.crossJoin(F.broadcast(cents))
        .filter(F.array_contains(F.col("probe"), -best["nid"]))
        .select(
            "vec_id",
            F.round(S.cosine(F.col("embedding"), F.col("qv")), 9).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Text statistics + quality score + fingerprint.
_EN = T.LANG_STOPWORDS["en"]
_EN_SQL = ", ".join(f"'{w}'" for w in _EN)
# SQL string literal of the BPE-ish pretokenizer regex ('' escapes ')
_BPE_SQL = T.BPE_PATTERN.replace("'", "''")


@register(
    "text_stats_quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS toks FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(regexp_extract_all(lower(text), '{_BPE_SQL}')) AS n_bpe_tokens,
       strlen(text) AS n_bytes,
       len([x for x in toks if x IN ({_EN_SQL})]) AS n_stop,
       length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
       0.4 * LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
       + 0.3 * LEAST(4.0 * CAST(len([x for x in toks if x IN ({_EN_SQL})]) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE), 1.0)
       + 0.3 * (CASE WHEN CAST(strlen(text) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                          BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
         AS quality,
       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint
FROM t
ORDER BY doc_id
""",
    doc="token/byte/stopword/punct counts + quality score + content fingerprint",
)
def text_stats_quality(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    d = t["documents"]
    toks = T.tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_bytes = F.length(F.col("text"))
    n_stop = T.stopword_hits(toks, _EN)
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        T.bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
        n_bytes.cast("long").alias("n_bytes"),
        n_stop.cast("long").alias("n_stop"),
        T.punct_count(F.col("text")).cast("long").alias("n_punct"),
        T.quality_score(n_tokens, n_bytes, n_stop).alias("quality"),
        T.fingerprint(F.col("text")).alias("fingerprint"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Language ID: stopword-hit argmax with deterministic tie-break order.
def _langid_oracle() -> str:
    langs = list(T.LANG_STOPWORDS)
    hits = ",\n       ".join(
        "len([x for x in toks if x IN ({lst})]) AS hits_{lg}".format(
            lst=", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lg]), lg=lg
        )
        for lg in langs
    )
    mx = "GREATEST(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN hits_{lg} = {mx} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
WITH t AS (
  SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS toks FROM documents
),
h AS (SELECT doc_id, lang, {hits} FROM t)
SELECT doc_id, lang, {pred} AS predicted,
       CAST(({pred}) = lang AS BOOLEAN) AS correct
FROM h
ORDER BY doc_id
"""


@register(
    "text_langid",
    oracle=_langid_oracle(),
    doc="n-gram/stopword language-ID heuristic with argmax + label check",
)
def text_langid(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    d = t["documents"]
    toks = T.tokens(F.col("text"))
    langs = list(T.LANG_STOPWORDS)
    hit_cols = {lg: T.stopword_hits(toks, T.LANG_STOPWORDS[lg]) for lg in langs}
    base = d.select("doc_id", "lang", *[hit_cols[lg].alias(f"hits_{lg}") for lg in langs])
    mx = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F
    expr = None
    for lg in langs:
        cond = F.col(f"hits_{lg}") == mx
        expr = F.when(cond, lg) if expr is None else expr.when(cond, lg)
    return base.select(
        "doc_id",
        "lang",
        expr.alias("predicted"),
        (expr == F.col("lang")).alias("correct"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payload column + Arrow-batched mapInPandas
# "decode" (STUBBED deterministically — image/audio libs are absent; the
# schema, batching, and partition plumbing are real).
@register(
    "multimodal_image_meta",
    oracle="""
SELECT doc_id,
       strlen(text) AS byte_len,
       md5(text) AS payload_md5,
       CAST(strlen(text) % 640 + 16 AS INT) AS width,
       CAST(strlen(text) % 480 + 16 AS INT) AS height
FROM documents
ORDER BY doc_id
""",
    doc="multimodal decode stub: binary payload → metadata via mapInPandas",
)
def multimodal_image_meta(spark, sf_dir):
    import hashlib

    import pandas as pd

    t = load_tables(spark, sf_dir)
    payloads = t["documents"].select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def decode_batch(batches):
        for pdf in batches:
            raw = pdf["payload"]
            # STUB decode: a real deployment would decode image bytes
            # here (PIL/libvips); dims are derived deterministically so
            # the plumbing is testable without codec libraries.
            lens = raw.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": lens.astype("int64"),
                    "payload_md5": raw.map(lambda b: hashlib.md5(b).hexdigest()),
                    "width": (lens % 640 + 16).astype("int32"),
                    "height": (lens % 480 + 16).astype("int32"),
                }
            )

    out = payloads.mapInPandas(
        decode_batch,
        schema="doc_id long, byte_len long, payload_md5 string, width int, height int",
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal frame sampling: one payload → N frame rows (video analog).
@register(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id,
       unnest(range(strlen(text) // 64)) AS frame_idx,
       md5(text || '|' || CAST(unnest(range(strlen(text) // 64)) AS VARCHAR)) AS frame_md5
FROM documents
WHERE doc_id < 100
ORDER BY doc_id, frame_idx
""",
    doc="multimodal frame-sample stub: payload → per-frame rows via mapInPandas",
)
def multimodal_frame_sample(spark, sf_dir):
    import hashlib

    import pandas as pd

    t = load_tables(spark, sf_dir)
    payloads = (
        t["documents"]
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )

    def sample_frames(batches):
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_md5": []}
            for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
                n = len(raw) // 64  # STUB: pretend 64 bytes per frame
                for i in range(n):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame_md5"].append(
                        hashlib.md5(raw + b"|" + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(rows)

    out = payloads.mapInPandas(
        sample_frames, schema="doc_id long, frame_idx long, frame_md5 string"
    )
    return out.orderBy("doc_id", "frame_idx")


# ---------------------------------------------------------------------------
# Multimodal audio analog: overlapped-window chunking (frame/hop), the
# standard audio feature framing.  Decode/resample is STUBBED (codec
# libs absent) but the Spark path is real: binary column in, Arrow
# batches through mapInPandas, typed per-chunk rows out.  Window 256 /
# hop 192 bytes ~ 75% frame overlap.
@register(
    "multimodal_audio_chunks",
    oracle="""
SELECT doc_id,
       unnest(range((strlen(text) - 256) // 192 + 1)) AS chunk_idx,
       CAST(unnest(range((strlen(text) - 256) // 192 + 1)) * 192 AS BIGINT) AS start_byte,
       CAST(unnest(range((strlen(text) - 256) // 192 + 1)) * 192 * 1000 / 32000 AS BIGINT)
         AS start_ms,
       md5(text || '@' || CAST(unnest(range((strlen(text) - 256) // 192 + 1)) AS VARCHAR))
         AS chunk_md5
FROM documents
WHERE doc_id < 100 AND strlen(text) >= 256
ORDER BY doc_id, chunk_idx
""",
    doc="audio framing stub: overlapped windows (256/192) -> per-chunk rows + timeline",
)
def multimodal_audio_chunks(spark, sf_dir):
    import hashlib

    import pandas as pd

    WIN, HOP, BYTES_PER_MS = 256, 192, 32  # stub 16 kHz * 16-bit mono
    t = load_tables(spark, sf_dir)
    payloads = (
        t["documents"]
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )

    def chunk_batches(batches):
        for pdf in batches:
            rows = {"doc_id": [], "chunk_idx": [], "start_byte": [], "start_ms": [], "chunk_md5": []}
            for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
                if len(raw) < WIN:
                    continue
                n = (len(raw) - WIN) // HOP + 1
                for i in range(n):
                    rows["doc_id"].append(doc_id)
                    rows["chunk_idx"].append(i)
                    rows["start_byte"].append(i * HOP)
                    rows["start_ms"].append(i * HOP * 1000 // (BYTES_PER_MS * 1000))
                    rows["chunk_md5"].append(
                        hashlib.md5(raw + b"@" + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(rows)

    out = payloads.mapInPandas(
        chunk_batches,
        schema="doc_id long, chunk_idx long, start_byte long, start_ms long, chunk_md5 string",
    )
    return out.orderBy("doc_id", "chunk_idx")


# ---------------------------------------------------------------------------
# Event-stream batch analog: hourly windowed aggregation (SURVEY §2.10 —
# the reference has only an ingest pipeline).
@register(
    "events_time_window",
    oracle="""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS total_value
FROM events
GROUP BY hour_start, event_type
ORDER BY hour_start, event_type
""",
    doc="hourly tumbling-window event aggregation (streaming-equivalent plan)",
)
def events_time_window(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    e = t["events"]
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .orderBy("hour_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (operators/sampling.py): the same
# doc lands in the same split on any engine/partitioning — rand()-based
# splits are partitioning-dependent and unreproducible at re-run.
@register(
    "pipeline_train_split",
    oracle="""
WITH b AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 10000 AS bucket
  FROM documents
),
s AS (
  SELECT lang,
         CASE WHEN bucket < 8000 THEN 'train'
              WHEN bucket < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT lang, split, COUNT(*) AS n
FROM s GROUP BY lang, split
ORDER BY lang, split
""",
    doc="deterministic md5-hash train/val/test split (80/10/10), per-lang counts",
)
def pipeline_train_split(spark, sf_dir):
    from stonedb_spark.operators.sampling import split_assign

    d = load_tables(spark, sf_dir)["documents"]
    return (
        d.select("lang", split_assign("doc_id").alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "split")
    )


# ---------------------------------------------------------------------------
# Gopher/C4-style repetition & diversity filters (Rae et al. 2021 §A1.1;
# Raffel et al. 2020 §2.2): type-token ratio, most-common-token fraction,
# top-bigram fraction, mean word length, and the combined keep verdict.
# All higher-order array expressions — row-local, map-only at scale.
@register(
    "text_gopher_filters",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM documents
), m AS (
  SELECT doc_id, toks,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_types,
         list_sum([strlen(x) for x in toks]) AS char_sum,
         list_max([len([y for y in toks if y = x])
                   for x in list_distinct(toks)]) AS top_tok,
         [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS bg
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(n_types AS DOUBLE) / n_tokens, 9)  AS ttr,
       ROUND(CAST(char_sum AS DOUBLE) / n_tokens, 9) AS mean_wlen,
       ROUND(CAST(top_tok AS DOUBLE) / n_tokens, 9)  AS top_token_frac,
       ROUND(CAST(list_max([len([y for y in bg if y = x])
                            for x in list_distinct(bg)]) AS DOUBLE)
             / len(bg), 9)                           AS top_bigram_frac,
       (n_tokens BETWEEN 50 AND 100000
        AND CAST(char_sum AS DOUBLE) / n_tokens BETWEEN 3.0 AND 10.0
        AND CAST(n_types AS DOUBLE) / n_tokens > 0.3
        AND CAST(top_tok AS DOUBLE) / n_tokens < 0.15) AS keep
FROM m ORDER BY doc_id
""",
    doc="Gopher/C4 repetition filters: TTR, top-token/bigram fraction, keep verdict",
)
def text_gopher_filters(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    d = t["documents"]
    toks = T.tokens(F.col("text"))
    bg = T.bigrams(toks)
    n_tokens = F.size(toks).cast("long")
    ttr = T.type_token_ratio(toks)
    mean_wlen = T.mean_word_length(toks)
    top_frac = T.top_token_fraction(toks)
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(ttr, 9).alias("ttr"),
        F.round(mean_wlen, 9).alias("mean_wlen"),
        F.round(top_frac, 9).alias("top_token_frac"),
        F.round(T.top_token_fraction(bg), 9).alias("top_bigram_frac"),
        T.gopher_keep(n_tokens, mean_wlen, ttr, top_frac).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Near-dup clustering: Jaccard pairs → connected components (iterative
# min-label propagation) → canonical keeper per cluster.  The oracle
# computes the same fixpoint with a recursive CTE (min reachable id).
_CC_SQL = f"""
WITH RECURSIVE pairs AS ({_JACCARD_SQL.replace("ORDER BY d1, d2", "")}),
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, comp) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
),
lab AS (SELECT node AS doc_id, MIN(comp) AS component FROM reach GROUP BY node)
SELECT doc_id, component,
       COUNT(*) OVER (PARTITION BY component) AS cluster_size,
       (doc_id = component) AS is_keeper
FROM lab ORDER BY component, doc_id
"""


@register(
    "dedup_clusters",
    oracle=_CC_SQL,
    doc="near-dup clusters: pairs -> connected components -> keeper per cluster",
)
def dedup_clusters(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        D.dedup_clusters(t["documents"], threshold=0.5, max_df=100)
        .orderBy("component", "doc_id")
    )


# ---------------------------------------------------------------------------
# PII redaction (C4 §2.2 / RefinedWeb-style cleaning).  The corpus is
# synthetic word soup with no PII, so deterministic PII is injected
# from doc_id (identical on both engines), then scrubbed — the query
# verifies the redaction regexes themselves, not the generator.
_NOISY_SQL = """
  text || ' contact user' || CAST(doc_id AS VARCHAR)
       || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com or +1-555-'
       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from '
       || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
       || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) || '.' || CAST((doc_id * 29) % 256 AS VARCHAR)
"""


@register(
    "text_pii_scrub",
    oracle=f"""
WITH t AS (SELECT doc_id, {_NOISY_SQL} AS noisy FROM documents)
SELECT doc_id,
       len(regexp_extract_all(noisy, '{T.EMAIL_RE}'))          AS n_email,
       len(regexp_extract_all(noisy, '{T.PHONE_RE}'))          AS n_phone,
       len(regexp_extract_all(noisy, '{T.IPV4_RE}'))           AS n_ip,
       md5(regexp_replace(regexp_replace(regexp_replace(noisy,
              '{T.EMAIL_RE}', '<EMAIL>', 'g'),
              '{T.PHONE_RE}', '<PHONE>', 'g'),
              '{T.IPV4_RE}', '<IP>', 'g'))                     AS scrubbed_md5,
       regexp_matches(regexp_replace(regexp_replace(regexp_replace(noisy,
              '{T.EMAIL_RE}', '<EMAIL>', 'g'),
              '{T.PHONE_RE}', '<PHONE>', 'g'),
              '{T.IPV4_RE}', '<IP>', 'g'),
              '[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+|@')           AS leak
FROM t ORDER BY doc_id
""",
    doc="PII redaction: email/phone/IPv4 regexes + leak check, injected noise",
)
def text_pii_scrub(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    d = t["documents"]
    k = F.col("doc_id")
    noisy = F.concat(
        F.col("text"),
        F.lit(" contact user"), k.cast("string"),
        F.lit("@mail"), (k % 7).cast("string"), F.lit(".com or +1-555-"),
        F.lpad((k % 10000).cast("string"), 4, "0"), F.lit(" from "),
        (k % 256).cast("string"), F.lit("."),
        ((k * 7) % 256).cast("string"), F.lit("."),
        ((k * 13) % 256).cast("string"), F.lit("."),
        ((k * 29) % 256).cast("string"),
    )
    n_email, n_phone, n_ip = T.pii_counts(noisy)
    scrubbed = T.scrub_pii(noisy)
    return d.select(
        "doc_id",
        n_email.cast("long").alias("n_email"),
        n_phone.cast("long").alias("n_phone"),
        n_ip.cast("long").alias("n_ip"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        scrubbed.rlike(r"[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+|@").alias("leak"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# As-of (point-in-time) join: each click paired with the user's most
# recent prior view.  DuckDB's native ASOF LEFT JOIN is the oracle;
# Spark side is operators/asofjoin.py (union + keyed-window, one
# shuffle, no range cross-join).
@register(
    "join_asof_backward",
    oracle="""
SELECT c.event_id, c.user_id,
       c.ts AS click_ts,
       v.ts AS view_ts,
       v.value AS view_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND v.ts <= c.ts
ORDER BY c.event_id
""",
    doc="backward as-of join clicks->latest prior view per user (ASOF oracle)",
)
def join_asof_backward(spark, sf_dir):
    from stonedb_spark.operators.asofjoin import asof_join

    e = load_tables(spark, sf_dir)["events"]
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    return (
        asof_join(clicks, views, on="user_id", ts="ts", payload=["value"])
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("r_ts").alias("view_ts"),
            F.col("r_value").alias("view_value"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Stratified per-source sampling: rebalance over-represented sources
# with deterministic per-stratum keep rates (operators/sampling.py).
_STRATA_CASE = """CASE source WHEN 'src1' THEN 10000 WHEN 'src2' THEN 5000
              WHEN 'src3' THEN 2500 ELSE 1000 END"""


@register(
    "pipeline_stratified_sample",
    oracle=f"""
WITH b AS (
  SELECT source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 10000 AS bucket
  FROM documents
)
SELECT source, COUNT(*) AS n_kept
FROM b
WHERE bucket < {_STRATA_CASE}
GROUP BY source
ORDER BY source
""",
    doc="deterministic stratified sampling: per-source keep rates via hash bucket",
)
def pipeline_stratified_sample(spark, sf_dir):
    from stonedb_spark.operators.sampling import stratified_sample

    d = load_tables(spark, sf_dir)["documents"]
    kept = stratified_sample(
        d,
        strata="source",
        key="doc_id",
        fractions={"src1": 1.0, "src2": 0.5, "src3": 0.25},
        default=0.1,
    )
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Length-distribution analysis for normalization: per-source NTILE
# decile buckets (doc_id tiebreak makes the total order deterministic).
# The window is PARTITIONED BY source — a global NTILE would sort the
# whole corpus on one executor; per-stratum deciles keep the sort
# partition-parallel, which is also the grain normalization wants.
@register(
    "pipeline_length_buckets",
    oracle="""
WITH t AS (
  SELECT source, doc_id, n_chars,
         ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS decile
  FROM documents
)
SELECT source, decile,
       COUNT(*) AS n,
       MIN(n_chars) AS lo,
       MAX(n_chars) AS hi
FROM t GROUP BY source, decile ORDER BY source, decile
""",
    doc="per-source NTILE(10) length deciles, partition-parallel window",
)
def pipeline_length_buckets(spark, sf_dir):
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"]
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    return (
        d.select("source", "doc_id", "n_chars", F.ntile(10).over(w).cast("long").alias("decile"))
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .orderBy("source", "decile")
    )


# ---------------------------------------------------------------------------
# Exact interpolated percentiles (the non-approx twin of
# agg_approx_rough): per-type p25/p50/p90 of event value.  Spark
# percentile() and DuckDB quantile_cont share linear interpolation.
@register(
    "agg_exact_percentiles",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 9) AS p25,
       ROUND(quantile_cont(value, 0.50), 9) AS p50,
       ROUND(quantile_cont(value, 0.90), 9) AS p90
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="exact interpolated percentiles per group (percentile vs quantile_cont)",
)
def agg_exact_percentiles(spark, sf_dir):
    e = load_tables(spark, sf_dir)["events"]
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.25)), 9).alias("p25"),
            F.round(F.percentile("value", F.lit(0.50)), 9).alias("p50"),
            F.round(F.percentile("value", F.lit(0.90)), 9).alias("p90"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Embedding covariance matrix (the statistic PCA eigendecomposes) —
# upper triangle in long form, via the DECIMAL(38,10) exact-sum device
# (each term truncates identically on both engines, decimal addition is
# exact and order-independent; see agg_stats).  The final combine runs
# in DOUBLE with the same expression shape on both sides — IEEE ops on
# identical inputs are bit-deterministic, so no ROUND (which is itself
# the half-way trap) is needed.
@register(
    "emb_pca_covariance",
    oracle="""
SELECT i.i AS i, j.j AS j,
       (CAST(SUM(CAST(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[j.j] AS DOUBLE) AS DECIMAL(38,10))) AS DOUBLE)
        - (CAST(SUM(CAST(CAST(e.embedding[i.i] AS DOUBLE) AS DECIMAL(38,10))) AS DOUBLE)
           * CAST(SUM(CAST(CAST(e.embedding[j.j] AS DOUBLE) AS DECIMAL(38,10))) AS DOUBLE))
          / CAST(COUNT(*) AS DOUBLE))
       / CAST(COUNT(*) AS DOUBLE) AS cov
FROM embeddings e, range(1, 65) i(i), range(1, 65) j(j)
WHERE j.j >= i.i
GROUP BY i.i, j.j
ORDER BY i, j
""",
    doc="embedding covariance (upper triangle), decimal-exact cross-moments",
)
def emb_pca_covariance(spark, sf_dir):
    DEC = "decimal(38,10)"
    e = load_tables(spark, sf_dir)["embeddings"]
    a = e.select("vec_id", "embedding", F.posexplode("embedding").alias("i0", "xi"))
    b = a.select(
        "vec_id", "i0", "xi", F.posexplode("embedding").alias("j0", "xj")
    ).filter(F.col("j0") >= F.col("i0"))
    n = F.count(F.lit(1)).cast("double")
    sxi = F.sum(F.col("xi").cast("double").cast(DEC)).cast("double")
    sxj = F.sum(F.col("xj").cast("double").cast(DEC)).cast("double")
    sxx = F.sum((F.col("xi").cast("double") * F.col("xj").cast("double")).cast(DEC)).cast("double")
    return (
        b.groupBy(
            (F.col("i0") + 1).cast("long").alias("i"), (F.col("j0") + 1).cast("long").alias("j")
        )
        .agg(((sxx - (sxi * sxj) / n) / n).alias("cov"))
        .orderBy("i", "j")
    )


# ---------------------------------------------------------------------------
# Forward as-of: each view paired with the user's NEXT click at or
# after it (time-to-conversion shape).
@register(
    "join_asof_forward",
    oracle="""
SELECT v.event_id, v.user_id,
       v.ts AS view_ts,
       c.ts AS click_ts,
       c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id AND c.ts >= v.ts
ORDER BY v.event_id
""",
    doc="forward as-of join views->next click per user (ASOF >= oracle)",
)
def join_asof_forward(spark, sf_dir):
    from stonedb_spark.operators.asofjoin import asof_join

    e = load_tables(spark, sf_dir)["events"]
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return (
        asof_join(
            views, clicks, on="user_id", ts="ts",
            payload=["value"], direction="forward",
        )
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("view_ts"),
            F.col("r_ts").alias("click_ts"),
            F.col("r_value").alias("click_value"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# TF-IDF top-k terms per document (feature extraction / keyword
# summarization).  One explode pass; document frequency is derived
# from the (doc,term) TF aggregate — not a second scan; idf join
# shuffles on term (bounded by vocabulary, not corpus); final top-k is
# a per-doc window.  At 100 TB: explode is map-local, both aggs have
# map-side combine, and the term-keyed join is the only re-shuffle.
@register(
    "text_tfidf_topk",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
ranked AS (
  SELECT t.doc_id, t.term,
         t.tf * ln(CAST((SELECT n FROM n) AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY t.tf * ln(CAST((SELECT n FROM n) AS DOUBLE) / CAST(df.df AS DOUBLE)) DESC,
                    t.term
         ) AS rk
  FROM tf t JOIN df USING (term)
)
SELECT doc_id, term, ROUND(tfidf, 9) AS tfidf, rk
FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk
""",
    doc="TF-IDF top-3 terms per doc: one explode, DF from the TF agg, term-keyed idf join",
)
def text_tfidf_topk(spark, sf_dir):
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log(F.col("n").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", F.round("tfidf", 9).alias("tfidf"), "rk")
        .orderBy("doc_id", "rk")
    )


# ---------------------------------------------------------------------------
# GLOBAL deciles at scale: instead of one global NTILE sort (single
# executor), compute the 9 interior percentile_disc cut points (actual
# data values — cross-engine exact, no interpolation float), broadcast
# them, and range-bucket by comparison: map-only over the corpus.
# Ties at a cut point land in the lower bucket on both engines.
@register(
    "pipeline_global_deciles",
    oracle="""
WITH c AS (
  SELECT quantile_disc(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts
  FROM documents
)
SELECT 1 + len([x for x in c.cuts if x < d.n_chars]) AS bucket,
       COUNT(*) AS n,
       MIN(n_chars) AS lo,
       MAX(n_chars) AS hi
FROM documents d, c
GROUP BY bucket ORDER BY bucket
""",
    doc="global deciles via broadcast percentile_disc cut points (no global sort)",
)
def pipeline_global_deciles(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    cuts = d.agg(
        *[
            F.expr(
                f"CAST(percentile_disc({q / 10}) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)"
            ).alias(f"c{q}")
            for q in range(1, 10)
        ]
    )
    bucket = F.lit(1)
    for q in range(1, 10):
        bucket = bucket + F.when(F.col(f"c{q}") < F.col("n_chars"), 1).otherwise(0)
    return (
        d.crossJoin(F.broadcast(cuts))
        .select(bucket.cast("long").alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Quality-weighted sampling: survival probability proportional to doc
# length (clamped) — the "sample good docs more" pipeline step, fully
# deterministic via the shared md5 bucket.
@register(
    "pipeline_weighted_sample",
    oracle="""
WITH b AS (
  SELECT source, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 10000 AS bucket
  FROM documents
)
SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS chars_kept
FROM b
WHERE bucket < CAST(LEAST(GREATEST(CAST(n_chars AS DOUBLE) / 400.0, 0.0), 1.0) * 10000 AS BIGINT)
GROUP BY source
ORDER BY source
""",
    doc="deterministic weighted sampling: keep probability ∝ clamped doc length",
)
def pipeline_weighted_sample(spark, sf_dir):
    from stonedb_spark.operators.sampling import weighted_sample

    d = load_tables(spark, sf_dir)["documents"]
    kept = weighted_sample(
        d, key="doc_id", weight=F.col("n_chars").cast("double") / 400.0
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# As-of with tolerance: the prior view only counts if within 2 hours
# of the click (merge_asof tolerance semantics).
@register(
    "join_asof_tolerance",
    oracle="""
SELECT c.event_id, c.user_id,
       c.ts AS click_ts,
       CASE WHEN v.ts >= c.ts - INTERVAL '2 hours' THEN v.ts END    AS view_ts,
       CASE WHEN v.ts >= c.ts - INTERVAL '2 hours' THEN v.value END AS view_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND v.ts <= c.ts
ORDER BY c.event_id
""",
    doc="backward as-of with 2h tolerance window (merge_asof semantics)",
)
def join_asof_tolerance(spark, sf_dir):
    from stonedb_spark.operators.asofjoin import asof_join

    e = load_tables(spark, sf_dir)["events"]
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    return (
        asof_join(
            clicks, views, on="user_id", ts="ts",
            payload=["value"], tolerance="2 hours",
        )
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("r_ts").alias("view_ts"),
            F.col("r_value").alias("view_value"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# End-to-end corpus cleanse — the flagship training-data composition:
# keep a document iff (a) it passes the Gopher quality verdict and
# (b) it is not a non-canonical member of a near-dup cluster.  Emits
# per-source surviving doc/token counts.  Every stage reuses an
# already-oracled building block; at scale the flow is: map-only
# quality metrics → LSH-bounded pair join → O(rounds) label
# propagation → one anti-join → final agg.
@register(
    "pipeline_corpus_cleanse",
    oracle=f"""
WITH RECURSIVE pairs AS ({_JACCARD_SQL.replace("ORDER BY d1, d2", "")}),
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, comp) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
),
lab AS (SELECT node AS doc_id, MIN(comp) AS component FROM reach GROUP BY node),
dupes AS (SELECT doc_id FROM lab WHERE doc_id <> component),
m AS (
  SELECT doc_id, source, toks,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_types,
         list_sum([strlen(x) for x in toks]) AS char_sum,
         list_max([len([y for y in toks if y = x])
                   for x in list_distinct(toks)]) AS top_tok
  FROM (SELECT doc_id, source,
               string_split_regex(lower(text), '\\s+') AS toks
        FROM documents) s
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM m
WHERE doc_id NOT IN (SELECT doc_id FROM dupes)
  AND n_tokens BETWEEN 50 AND 100000
  AND CAST(char_sum AS DOUBLE) / n_tokens BETWEEN 3.0 AND 10.0
  AND CAST(n_types AS DOUBLE) / n_tokens > 0.3
  AND CAST(top_tok AS DOUBLE) / n_tokens < 0.15
GROUP BY source
ORDER BY source
""",
    doc="flagship cleanse: Gopher verdict ∧ dedup keeper → per-source survivors",
)
def pipeline_corpus_cleanse(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    cc = D.connected_components(
        D.jaccard_pairs(d, threshold=0.5, max_df=100)
    )
    dupes = cc.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    toks = T.tokens(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    scored = d.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        T.gopher_keep(
            n_tokens,
            T.mean_word_length(toks),
            T.type_token_ratio(toks),
            T.top_token_fraction(toks),
        ).alias("keep"),
    )
    return (
        scored.join(dupes, "doc_id", "left_anti")
        .filter(F.col("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Interval-overlap join: per-user view windows [ts, ts+30min) against
# error windows [ts, ts+10min) — binned to 10-minute epoch buckets so
# the plan is a shuffled equi-join on (user, bucket), never a range
# cross join (operators/thetajoin.py interval_overlap_join).
@register(
    "join_interval_overlap",
    oracle="""
WITH v AS (SELECT event_id AS v_id, user_id,
                  epoch(ts) AS v_lo, epoch(ts) + 1800 AS v_hi
           FROM events WHERE event_type = 'view'),
e AS (SELECT event_id AS e_id, user_id,
             epoch(ts) AS e_lo, epoch(ts) + 600 AS e_hi
      FROM events WHERE event_type = 'error')
SELECT v.v_id, e.e_id, v.user_id
FROM v JOIN e ON v.user_id = e.user_id
               AND v.v_lo < e.e_hi AND e.e_lo < v.v_hi
ORDER BY v_id, e_id
""",
    doc="binned interval-overlap join (views x error windows per user)",
)
def join_interval_overlap(spark, sf_dir):
    from stonedb_spark.operators.thetajoin import interval_overlap_join

    ev = load_tables(spark, sf_dir)["events"]
    sec = F.col("ts").cast("double")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), "user_id",
        sec.alias("v_lo"), (sec + 1800).alias("v_hi"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), "user_id",
        sec.alias("e_lo"), (sec + 600).alias("e_hi"),
    )
    return (
        interval_overlap_join(
            v, e, key="user_id",
            a_lo="v_lo", a_hi="v_hi", b_lo="e_lo", b_hi="e_hi",
            bin_width=600.0,
        )
        .select("v_id", "e_id", "user_id")
        .orderBy("v_id", "e_id")
    )


# ---------------------------------------------------------------------------
# Funnel analysis: view → click (≤ 2h later) → purchase (≤ 24h after
# the click), per user, counted per stage.  Each stage is a keyed min
# aggregation + one equi-join — no windows over the whole corpus, no
# self-join explosion; at scale all three shuffles are on user_id.
@register(
    "events_funnel",
    oracle="""
WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts >= v.v_ts AND e.ts <= v.v_ts + INTERVAL '2 hours'
      GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts >= c.c_ts AND e.ts <= c.c_ts + INTERVAL '24 hours'
      GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click,
       (SELECT COUNT(*) FROM p) AS n_purchase
""",
    doc="3-stage funnel with per-stage time bounds, keyed min-agg chain",
)
def events_funnel(spark, sf_dir):
    e = load_tables(spark, sf_dir)["events"]

    def stage(df, etype, prev=None, prev_col=None, within_h=None):
        s = df.filter(F.col("event_type") == etype)
        if prev is not None:
            s = s.join(prev, "user_id").filter(
                (F.col("ts") >= F.col(prev_col))
                & (F.col("ts") <= F.col(prev_col) + F.expr(f"INTERVAL {within_h} hours"))
            )
        return s.groupBy("user_id").agg(F.min("ts").alias(f"{etype}_ts"))

    v = stage(e, "view")
    c = stage(e, "click", v, "view_ts", 2)
    p = stage(e, "purchase", c, "click_ts", 24)
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase")))
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity week, distinct
# active users per (cohort, week-offset).  Both aggregations key on
# user/cohort — the matrix is |cohorts × offsets|, independent of
# event volume.
@register(
    "events_cohort_retention",
    oracle="""
WITH first_seen AS (
  SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         DATE_DIFF('day', f.cohort_week, DATE_TRUNC('week', e.ts)) / 7 AS week_offset
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
)
SELECT CAST(cohort_week AS DATE) AS cohort_week,
       CAST(week_offset AS INT) AS week_offset,
       COUNT(*) AS n_users
FROM activity
GROUP BY 1, 2
ORDER BY 1, 2
""",
    doc="weekly cohort retention matrix: first-seen week x active-week offset",
)
def events_cohort_retention(spark, sf_dir):
    e = load_tables(spark, sf_dir)["events"]
    wk = F.date_trunc("week", F.col("ts"))
    first = e.groupBy("user_id").agg(F.min(wk).alias("cohort_ts"))
    act = (
        e.join(first, "user_id")
        .select(
            "user_id",
            F.col("cohort_ts"),
            (F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_ts")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        act.groupBy(
            F.col("cohort_ts").cast("date").alias("cohort_week"), "week_offset"
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# ViT-style patch extraction: each (stub-decoded) image explodes into
# its 64×64 patch grid rows via mapInPandas — the batch-in/rows-out
# shape a vision preprocessing pipeline needs (patch count varies per
# image; Arrow batches amortize the Python hop).  Patch signature is
# hash-deterministic so the oracle rebuilds the grid in SQL (lateral
# range over the same stub dims).
@register(
    "multimodal_image_patches",
    oracle="""
SELECT d.doc_id,
       pr.pr AS patch_row,
       pc.pc AS patch_col,
       md5(d.text || '|' || CAST(pr.pr AS VARCHAR) || '|' || CAST(pc.pc AS VARCHAR)) AS patch_sig
FROM documents d,
     range(0, 8) pr(pr),
     range(0, 11) pc(pc)
WHERE pr.pr <= ((strlen(d.text) % 480 + 16) // 64) - 1
  AND pc.pc <= ((strlen(d.text) % 640 + 16) // 64) - 1
ORDER BY doc_id, patch_row, patch_col
""",
    doc="ViT patch grid: mapInPandas row-explode, hash-deterministic stub",
)
def multimodal_image_patches(spark, sf_dir):
    import hashlib

    import pandas as pd

    t = load_tables(spark, sf_dir)
    payloads = t["documents"].select("doc_id", "text")

    def patches(batches):
        for pdf in batches:
            out = {"doc_id": [], "patch_row": [], "patch_col": [], "patch_sig": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # STUB decode (same dims rule as multimodal_image_meta):
                # real code would crop pixel blocks here
                w = len(text) % 640 + 16
                h = len(text) % 480 + 16
                for pr in range(h // 64):
                    for pc in range(w // 64):
                        sig = hashlib.md5(
                            f"{text}|{pr}|{pc}".encode()
                        ).hexdigest()
                        out["doc_id"].append(doc_id)
                        out["patch_row"].append(pr)
                        out["patch_col"].append(pc)
                        out["patch_sig"].append(sig)
            yield pd.DataFrame(out)

    return (
        payloads.mapInPandas(
            patches,
            "doc_id long, patch_row long, patch_col long, patch_sig string",
        )
        .orderBy("doc_id", "patch_row", "patch_col")
    )


# ---------------------------------------------------------------------------
# Corpus n-gram statistics: global bigram counts, top-20 with
# deterministic tie-break — the LM-data analysis staple.  Explode is
# map-local; the count agg combines map-side; top-k is
# TakeOrderedAndProject, so nothing materializes the full sorted
# vocabulary.
@register(
    "text_bigram_counts",
    oracle="""
WITH t AS (
  SELECT string_split_regex(lower(text), '\\s+') AS toks FROM documents
),
bg AS (
  SELECT unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS bigram
  FROM t
)
SELECT bigram, COUNT(*) AS n
FROM bg GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""",
    doc="global bigram top-20 (map-side-combined count, top-k sort)",
)
def text_bigram_counts(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    bg = d.select(F.explode(T.bigrams(T.tokens(F.col("text")))).alias("bigram"))
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Heavy hitters: tokens with frequency > n/k via two-pass Misra-Gries
# (operators/heavyhitters.py) — identical output to the exact groupBy
# (superset guarantee + exact recount), so the oracle is plain SQL
# HAVING; only |partitions|×k candidate rows shuffle in pass 1.
@register(
    "text_heavy_hitters",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS item FROM documents
),
tot AS (SELECT COUNT(*) AS n FROM toks)
SELECT item, COUNT(*) AS n
FROM toks
GROUP BY item
HAVING COUNT(*) > (SELECT n FROM tot) / 40.0
ORDER BY item
""",
    doc="Misra-Gries 2-pass heavy hitters == exact groupBy answer (k=40)",
)
def text_heavy_hitters(spark, sf_dir):
    from stonedb_spark.operators.heavyhitters import heavy_hitters

    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    return heavy_hitters(toks, "tok", k=40).orderBy("item")


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., SIGMOD'03): window-min
# shingle hashes — the partial-overlap dedup unit (a shared ≥6-word
# run guarantees a shared fingerprint at k=3, w=4).  Map-only over the
# corpus; per-doc summary checked against the DuckDB rebuild.
@register(
    "dedup_winnow_fingerprints",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM documents WHERE doc_id < 200
),
h AS (
  SELECT doc_id,
         [CAST(('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15)) AS BIGINT)
          for i in range(1, len(toks) - 1)] AS hs
  FROM t WHERE len(toks) >= 3
),
w AS (
  SELECT doc_id,
         list_distinct([list_min(hs[i:i+3]) for i in range(1, len(hs) - 2)]) AS fps
  FROM h WHERE len(hs) >= 4
)
SELECT doc_id, len(fps) AS n_fp, list_min(fps) AS min_fp, list_max(fps) AS max_fp
FROM w ORDER BY doc_id
""",
    doc="winnowing window-min fingerprints, per-doc summary (k=3, w=4)",
)
def dedup_winnow_fingerprints(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    fps = T.winnow_fingerprints(F.col("text"))
    return (
        d.filter(F.col("doc_id") < 200)  # bounded slice: the DuckDB
        # oracle's per-row md5 comprehension is minutes at full sf0.01,
        # a gate-budget hazard; 200 docs exercise identical semantics
        .select("doc_id", fps.alias("fps"))
        .filter(F.size("fps") > 0)
        .select(
            "doc_id",
            F.size("fps").cast("long").alias("n_fp"),
            F.array_min("fps").alias("min_fp"),
            F.array_max("fps").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk): assign documents to fixed
# token-budget training sequences.  The packer is the streaming
# "concatenate in order, cut every BUDGET tokens" discipline (the
# common pretraining packer): pack_id = floor(preceding-cumulative /
# BUDGET) per source.  Window is PARTITION BY source — per-stratum
# packing is both what training wants (no cross-source sequences) and
# what keeps the running sum partition-parallel at 100 TB; a global
# ORDER BY would funnel the corpus through one task.  Everything is one
# window over one shuffle; token counts reuse the whitespace tokenizer.
_PACK_BUDGET = 512


@register(
    "pipeline_sequence_pack",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         len(string_split_regex(lower(text), '\\s+')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
  FROM t
)
SELECT source,
       CAST(FLOOR(tok_before / ({_PACK_BUDGET} * 1.0)) AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c
GROUP BY source, pack_id
ORDER BY source, pack_id
""",
    doc=f"sequence packing: concat-and-chunk docs into {_PACK_BUDGET}-token training bins per source",
)
def pipeline_sequence_pack(spark, sf_dir):
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"]
    n_tokens = F.size(T.tokens(F.col("text")))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select("doc_id", "source", n_tokens.alias("n_tokens")).withColumn(
        "tok_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        c.groupBy(
            "source",
            F.floor(F.col("tok_before") / _PACK_BUDGET).alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "pack_id")
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization (symmetric, per-vector scale) — the
# storage-compression step before an ANN index ships to disk: 4×
# smaller vectors, one map-only pass, everything in Catalyst
# higher-order functions (no UDF).  The quantizer is floor(x/s + 0.5)
# (identical IEEE ops on any engine — ROUND-on-double is the
# cross-engine half-way trap), s = max|x|/127.  Output is the per-
# vector audit row: scale, integer checksum of the quantized codes,
# and max reconstruction error — array columns themselves are not
# driver-hashable.
@register(
    "emb_quantize_int8",
    oracle="""
WITH b AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
  FROM embeddings
), s AS (
  SELECT vec_id, xd,
         list_max(list_transform(xd, x -> ABS(x))) / 127.0 AS sc
  FROM b
)
SELECT vec_id,
       FLOOR(sc * 1e9 + 0.5) / 1e9 AS scale_r,
       CAST(list_sum(list_transform(xd, x -> FLOOR(x / NULLIF(sc, 0) + 0.5))) AS BIGINT) AS checksum,
       FLOOR(list_max(list_transform(xd,
             x -> ABS(FLOOR(x / NULLIF(sc, 0) + 0.5) * sc - x))) * 1e9 + 0.5) / 1e9 AS max_err
FROM s
ORDER BY vec_id
""",
    doc="symmetric per-vector int8 quantization: scale, code checksum, max reconstruction error",
)
def emb_quantize_int8(spark, sf_dir):
    e = load_tables(spark, sf_dir)["embeddings"]
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    b = e.select("vec_id", xd.alias("xd"))
    sc = F.array_max(F.transform(F.col("xd"), lambda x: F.abs(x))) / F.lit(127.0)
    s = b.withColumn("sc", sc)
    scn = F.nullif(F.col("sc"), F.lit(0.0))
    quant = lambda x: F.floor(x / scn + F.lit(0.5))  # noqa: E731
    fix9 = lambda c: F.floor(c * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)  # noqa: E731
    return s.select(
        "vec_id",
        fix9(F.col("sc")).alias("scale_r"),
        F.aggregate(
            F.transform(F.col("xd"), quant), F.lit(0.0), lambda acc, x: acc + x
        ).cast("long").alias("checksum"),
        fix9(
            F.array_max(
                F.transform(F.col("xd"), lambda x: F.abs(quant(x) * F.col("sc") - x))
            )
        ).alias("max_err"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Benchmark decontamination (GPT-3 appendix C / PaLM practice): training
# docs sharing any distinct 5-word shingle with a held-out eval slice
# are flagged.  Eval slice here = doc_id % 17 == 0 (a stand-in for a
# benchmark corpus); at 100 TB the eval shingle set stays benchmark-
# sized → broadcast, and the training side is map-only + one count agg.
@register(
    "text_decontaminate",
    oracle="""
WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
           FROM documents),
sh AS (SELECT doc_id, unnest(list_distinct(
         [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
          for i in range(1, len(w) - 3)])) AS shingle
       FROM w),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
hits AS (SELECT s.doc_id, COUNT(*) AS n_overlap
         FROM sh s JOIN ev USING (shingle)
         WHERE s.doc_id % 17 <> 0 GROUP BY s.doc_id),
tr AS (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0)
SELECT t.doc_id,
       COALESCE(h.n_overlap, 0) AS n_overlap,
       COALESCE(h.n_overlap, 0) >= 1 AS contaminated
FROM tr t LEFT JOIN hits h USING (doc_id)
ORDER BY doc_id
""",
    doc="eval-set 5-gram overlap flags (broadcast eval shingles, map-only corpus side)",
)
def text_decontaminate(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    ev = d.filter(F.col("doc_id") % 17 == 0)
    tr = d.filter(F.col("doc_id") % 17 != 0)
    return D.contamination_report(tr, ev, k=5).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Hashed-bag-of-words linear quality classifier (fastText-style scorer
# with the feature hashing trick).  Weights are a deterministic function
# of the bucket id (md5-derived integers in [-1000, 1000]), so BOTH
# engines materialize the identical model without shipping a weights
# table, and the doc score numerator is an INTEGER sum — exact,
# order-independent, no float-accumulation drift across engines or
# partitionings.  Map-only + one groupBy(doc) at any corpus size; a real
# deployment swaps the md5 weight for a broadcast-joined trained vector
# with the same plan shape.
@register(
    "text_quality_classifier",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
  FROM documents
),
weighted AS (
  SELECT doc_id,
         (CAST(('0x' || substr(md5('w' || CAST(
             CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 64
           AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000 AS wint
  FROM toks
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(wint) AS BIGINT) AS score_raw,
       ROUND(CAST(SUM(wint) AS DOUBLE) / (1000.0 * COUNT(*)), 9) AS score,
       SUM(wint) > 0 AS keep
FROM weighted GROUP BY doc_id ORDER BY doc_id
""",
    doc="hashed linear quality scorer: 64 md5-derived int weights, exact integer sum",
)
def text_quality_classifier(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    bucket = F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long") % 64
    wint = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w"), bucket.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2001
        - 1000
    )
    return (
        toks.select("doc_id", wint.alias("wint"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("wint").alias("score_raw"))
        .select(
            "doc_id",
            "n_tokens",
            "score_raw",
            F.round(
                F.col("score_raw").cast("double") / (1000.0 * F.col("n_tokens")), 9
            ).alias("score"),
            (F.col("score_raw") > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (Robertson k1=1.2, b=0.75) for a fixed term query —
# the corpus-side ranking a training pipeline runs for eval-retrieval or
# data-curation ("find docs about X").  DF table and corpus stats are
# query-term-sized / single-row → broadcast; the only corpus shuffle is
# the per-doc tf groupBy.  Per-term scores are quantized to integer
# micro-units (floor(x·1e6+0.5) — the engine-portable quantizer, no
# ROUND-on-double trap) so the per-doc sum is exact integer arithmetic
# on both engines; avgdl is exact-int sum / count, one deterministic
# division.
@register(
    "text_bm25_search",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
  FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n FROM dl),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
       WHERE term IN ('hash', 'stream', 'filter') GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         CAST(FLOOR(
           ln(((s.n - d.df + 0.5) / (d.df + 0.5)) + 1.0)
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl)))
           * 1000000 + 0.5) AS BIGINT) AS si
  FROM tf t JOIN df d USING (term) JOIN dl ON t.doc_id = dl.doc_id, stats s
)
SELECT doc_id,
       CAST(SUM(si) AS BIGINT) AS score_micro,
       CAST(SUM(si) AS DOUBLE) / 1000000.0 AS bm25
FROM scored GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT 20
""",
    doc="BM25 top-20 for a 3-term query; integer-micro quantized, broadcast df/stats",
)
def text_bm25_search(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n"),
    )
    tf = (
        toks.filter(F.col("term").isin("hash", "stream", "filter"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)) + 1.0)
    tfn = (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(idf * tfn * 1000000 + 0.5).cast("long").alias("si"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("si").alias("score_micro"))
        .select(
            "doc_id",
            "score_micro",
            (F.col("score_micro").cast("double") / 1000000.0).alias("bm25"),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# RAG-style overlapping chunker: 40-word windows, stride 32 (20%
# overlap), token-aligned — the retrieval-corpus preparation step
# between cleaning and embedding.  Pure Catalyst (sequence of starts →
# posexplode → array slice): map-only, no shuffle, output rows ≈
# corpus_words/32 regardless of partitioning.  Distinct from the
# byte-window audio chunker (multimodal_audio_chunks): token-aligned
# windows with a deterministic short tail.
@register(
    "text_chunk_overlap",
    oracle="""
WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
           FROM documents),
st AS (SELECT doc_id, w, unnest(range(1, greatest(len(w), 1) + 1, 32)) AS start
       FROM w)
SELECT doc_id,
       CAST((start - 1) / 32 AS BIGINT) AS chunk_idx,
       CAST(start AS BIGINT) AS start_word,
       CAST(len(w[start:start+39]) AS BIGINT) AS n_words,
       md5(array_to_string(w[start:start+39], ' ')) AS chunk_md5
FROM st
ORDER BY doc_id, chunk_idx
""",
    doc="40-word/stride-32 overlap chunker, token-aligned, map-only (RAG corpus prep)",
)
def text_chunk_overlap(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    w = T.tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)), F.lit(32))
    st = d.select(
        "doc_id", w.alias("w"), F.posexplode(starts).alias("chunk_idx", "start")
    )
    chunk = F.slice(F.col("w"), F.col("start"), 40)
    return st.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_word"),
        F.size(chunk).cast("long").alias("n_words"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


# ---------------------------------------------------------------------------
# C4/CCNet-style corpus-level line dedup: any "sentence" (deterministic
# 10-word window; the fixture text has no newlines, so windows stand in
# for lines) that appears in MORE THAN ONE document is removed from ALL
# documents.  Shape: map-only sentence explode -> one groupBy(sentence)
# for corpus counts -> join back on sentence (reuses the hash
# partitioning) -> one groupBy(doc_id) to reassemble.  No cartesian, no
# driver state; at 100 TB the sentence agg is the only corpus-wide
# shuffle and it combines map-side.  The cleaned text is verified by
# md5 over the order-preserving reassembly (array_sort on (pos, ...)
# structs), not just by counts.
@register(
    "text_line_dedup",
    oracle="""
WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
s0 AS (SELECT doc_id,
              [{'pos': i, 'sentence': array_to_string(w[(i*10+1):(i*10+10)], ' ')}
               for i in range(0, CAST(ceil(len(w)/10.0) AS BIGINT))] AS cs
       FROM w),
s AS (SELECT doc_id, unnest(cs, recursive := true) FROM s0),
c AS (SELECT sentence, COUNT(DISTINCT doc_id) AS n_docs FROM s GROUP BY sentence)
SELECT s.doc_id AS doc_id,
       COUNT(*) AS n_sent,
       CAST(SUM(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       md5(coalesce(string_agg(CASE WHEN c.n_docs = 1 THEN s.sentence END,
                               ' ' ORDER BY s.pos), '')) AS clean_hash
FROM s JOIN c USING (sentence)
GROUP BY s.doc_id
ORDER BY doc_id
""",
    doc="C4-style corpus line dedup: drop 10-word windows seen in >1 doc, md5-verified reassembly",
)
def text_line_dedup(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    w = T.tokens(F.col("text"))
    n_chunks = F.ceil(F.size("w") / F.lit(10.0)).cast("int")
    sent = d.select("doc_id", w.alias("w")).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice(F.col("w"), i * 10 + 1, 10), " "),
            )
        ).alias("pos", "sentence"),
    )
    counts = sent.groupBy("sentence").agg(F.countDistinct("doc_id").alias("n_docs"))
    kept_struct = F.when(F.col("n_docs") == 1, F.struct("pos", "sentence"))
    return (
        sent.join(counts, "sentence")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sent"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("n_shared"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["sentence"],
                    ),
                    " ",
                )
            ).alias("clean_hash"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Contrastive hard-negative mining: for each anchor vector, the top-5
# most-similar vectors with a DIFFERENT label — the standard negative-
# sampling step for training embedding models.  Anchors are a bounded
# batch (broadcast); candidate scoring is map-only codegen.  The top-k
# is TWO-PHASE: first a window over (anchor, input partition) keeps <=5
# per partition, then the global window ranks only <=5*n_partitions
# survivors per anchor — so no single reducer ever sees the full
# candidate stream (the naive per-anchor window funnels ALL scored rows
# into n_anchor reducers, a guaranteed skew at corpus scale).  At 100 TB
# the candidate stream itself would first be pruned by the IVF cell
# probe (knn_ivf_probe); this operator is the scoring+selection tail.
@register(
    "emb_hard_negatives",
    oracle=f"""
WITH a AS (SELECT vec_id AS anchor_id, embedding AS av, label AS anchor_label
           FROM embeddings WHERE vec_id < 5),
s AS (SELECT a.anchor_id, e.vec_id,
             list_sum(list_transform(list_zip(e.embedding, a.av),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / ({_NORM.format(t='e')}
                  * sqrt(list_sum(list_transform(a.av,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_raw
      FROM embeddings e CROSS JOIN a
      WHERE e.label <> a.anchor_label),
r AS (SELECT anchor_id, vec_id, cos_raw,
             CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY cos_raw DESC, vec_id) AS INT) AS rnk
      FROM s)
SELECT anchor_id, rnk, vec_id, ROUND(cos_raw, 9) AS cos_sim
FROM r WHERE rnk <= 5
ORDER BY anchor_id, rnk
""",
    doc="hard-negative mining: per-anchor top-5 nearest cross-label vectors, two-phase top-k",
)
def emb_hard_negatives(spark, sf_dir):
    from pyspark.sql import Window

    e = load_tables(spark, sf_dir)["embeddings"]
    anchors = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("av"),
        F.col("label").alias("anchor_label"),
    )
    scored = (
        e.join(F.broadcast(anchors), F.col("label") != F.col("anchor_label"))
        .withColumn("cos_raw", S.cosine(F.col("embedding"), F.col("av")))
        .select("anchor_id", "vec_id", "cos_raw", F.spark_partition_id().alias("pid"))
    )
    w_local = Window.partitionBy("anchor_id", "pid").orderBy(
        F.desc("cos_raw"), F.asc("vec_id")
    )
    w_global = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_raw"), F.asc("vec_id")
    )
    return (
        scored.withColumn("lr", F.row_number().over(w_local))
        .filter(F.col("lr") <= 5)
        .withColumn("rnk", F.row_number().over(w_global))
        .filter(F.col("rnk") <= 5)
        .select("anchor_id", "rnk", "vec_id", F.round("cos_raw", 9).alias("cos_sim"))
        .orderBy("anchor_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Domain-mixture rebalancing: compute per-source token budgets for a
# UNIFORM target mixture — the sampling-rate table a pretraining data
# pipeline feeds into its per-domain downsampler (the rate feeds the
# same md5 hash-bucket filter as pipeline_stratified_sample).  All
# arithmetic is integer (ppm rates via DIV), so the result is exact on
# any engine.  Two tiny aggs; the per-source token count combines
# map-side, and the min() is a 1-row broadcast — nothing scales with
# corpus size except the first scan.
@register(
    "pipeline_domain_mix",
    oracle="""
WITH per AS (SELECT source, COUNT(*) AS n_docs,
                    CAST(SUM(len(string_split_regex(lower(text), '\\s+'))) AS BIGINT)
                      AS n_tokens
             FROM documents GROUP BY source),
mn AS (SELECT MIN(n_tokens) AS min_tok FROM per)
SELECT source, n_docs, n_tokens,
       min_tok * 1000000 // n_tokens AS rate_ppm,
       n_tokens * (min_tok * 1000000 // n_tokens) // 1000000 AS expected_tokens
FROM per CROSS JOIN mn
ORDER BY source
""",
    doc="uniform domain-mixture rebalancing: per-source ppm sampling rates, integer-exact",
)
def pipeline_domain_mix(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    per = (
        d.select("source", F.size(T.tokens(F.col("text"))).cast("long").alias("tok"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("n_tokens"))
    )
    mn = per.agg(F.min("n_tokens").alias("min_tok"))
    rate = F.expr("min_tok * 1000000 DIV n_tokens")
    return (
        per.crossJoin(F.broadcast(mn))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            rate.alias("rate_ppm"),
            F.expr("n_tokens * (min_tok * 1000000 DIV n_tokens) DIV 1000000").alias(
                "expected_tokens"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# BPE vocabulary induction, pair-counting step: adjacent-symbol pair
# frequencies weighted by word-type frequency — the inner statistic of
# byte-pair-encoding tokenizer training.  The classic scale trick is
# built in: the corpus collapses to WORD TYPES first (one map-side-
# combined groupBy, output bounded by vocabulary size not corpus size),
# and the pair explosion runs over types only — at 100 TB the pair agg
# input is |vocab| × avg_word_len rows regardless of corpus row count.
@register(
    "text_bpe_pairs",
    oracle="""
WITH w AS (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
           FROM documents),
wf AS (SELECT w, COUNT(*) AS freq FROM w GROUP BY w),
p AS (SELECT unnest([w[i:i+1] for i in range(1, len(w))]) AS pair, freq
      FROM wf)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
FROM p GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 30
""",
    doc="BPE tokenizer training: adjacent-pair counts over word types, frequency-weighted",
)
def text_bpe_pairs(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    wf = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = wf.select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN "
                "transform(sequence(1, length(w)-1), i -> substring(w, i, 2)) "
                "ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Vocabulary-coverage diagnostic: per-source out-of-vocabulary token
# rate against the corpus top-100 vocabulary — the check run before
# committing a tokenizer/vocab to a training mix.  The vocab is a
# bounded top-k (broadcastable at any corpus scale); the corpus side is
# one explode + broadcast join + per-source agg; the ppm rate is
# integer DIV, so exact on any engine.
@register(
    "text_oov_rate",
    oracle="""
WITH tok AS (SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS w
             FROM documents),
vocab AS (SELECT w FROM (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
                         ORDER BY cnt DESC, w LIMIT 100) v),
j AS (SELECT t.source, t.w, (vocab.w IS NOT NULL) AS in_vocab
      FROM tok t LEFT JOIN vocab ON t.w = vocab.w)
SELECT source,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) * 1000000
         // COUNT(*) AS oov_ppm
FROM j GROUP BY source
ORDER BY source
""",
    doc="per-source OOV rate vs corpus top-100 vocab (ppm, integer-exact)",
)
def text_oov_rate(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    tok = d.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(100)
        .select(F.col("w").alias("vw"))
    )
    j = tok.join(F.broadcast(vocab), tok["w"] == F.col("vw"), "left")
    oov = F.sum(F.when(F.col("vw").isNull(), 1).otherwise(0))
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            oov.alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 1000000 DIV n_tokens").alias("oov_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Time-series gap filling: densify each user's hourly activity series
# (missing hours appear with n_events=0) and forward-fill the last
# observed per-hour max value — the telemetry/feature-store
# normalization step before sequence models.  Shape: one groupBy to the
# per-(user,hour) grid, one tiny per-user span agg, a map-only
# sequence() explode for the dense axis, a co-partitioned left join
# back, and a per-user window for the carry — output bounded by
# users × active-span hours, never by raw event count.  The carried
# value uses max() per bucket (order-independent) so the double
# compares exactly cross-engine.
@register(
    "events_gap_fill",
    oracle="""
WITH e AS (SELECT user_id, date_trunc('hour', ts) AS h, value
           FROM events WHERE user_id < 50),
per AS (SELECT user_id, h, COUNT(*) AS cnt, MAX(value) AS mv
        FROM e GROUP BY user_id, h),
span AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM per GROUP BY user_id),
grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM span)
SELECT g.user_id AS user_id, g.h AS h,
       COALESCE(p.cnt, 0) AS n_events,
       LAST_VALUE(p.mv IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_value
FROM grid g LEFT JOIN per p ON g.user_id = p.user_id AND g.h = p.h
ORDER BY user_id, h
""",
    doc="hourly gap fill + forward carry per user (dense grid via sequence explode)",
)
def events_gap_fill(spark, sf_dir):
    from pyspark.sql import Window

    e = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("user_id") < 50)
        .select("user_id", F.date_trunc("hour", "ts").alias("h"), "value")
    )
    per = e.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("value").alias("mv")
    )
    grid = (
        per.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per, ["user_id", "h"], "left")
        .select(
            "user_id",
            "h",
            F.coalesce("cnt", F.lit(0)).alias("n_events"),
            F.last("mv", ignorenulls=True).over(w).alias("carried_value"),
        )
        .orderBy("user_id", "h")
    )


# ---------------------------------------------------------------------------
# SCD2 dimension build from a change log: collapse each user's event
# stream to state-change intervals (valid_from/valid_to, open-ended
# NULL tail) — how a warehouse derives a slowly-changing dimension from
# an append-only log.  Two windows over the SAME (user, ts, event_id)
# ordering: a lag() to drop rows whose state equals the previous row's,
# then a lead() over the survivors for the interval close — both
# partition-parallel on user_id; ties on ts are broken by event_id so
# the result is deterministic on any engine.
@register(
    "events_scd2_intervals",
    oracle="""
WITH s AS (SELECT user_id, ts, event_id, event_type,
                  LAG(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev_type
           FROM events WHERE user_id < 30),
c AS (SELECT user_id, ts, event_id, event_type FROM s
      WHERE prev_type IS NULL OR prev_type <> event_type)
SELECT user_id, event_type, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
FROM c
ORDER BY user_id, valid_from, event_id
""",
    doc="SCD2 intervals from an event change log (lag-dedupe + lead-close per user)",
)
def events_scd2_intervals(spark, sf_dir):
    from pyspark.sql import Window

    e = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("user_id") < 30)
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .drop("prev_type")
    )
    return (
        changes.select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            "event_id",
        )
        .orderBy("user_id", "valid_from", "event_id")
        .drop("event_id")
    )


# ---------------------------------------------------------------------------
# Data-quality constraint audit (Deequ-style): completeness, bounds,
# key-uniqueness and referential-integrity checks computed as a single
# report — the validation gate a pipeline runs before promoting a batch.
# Per-table metrics fold into ONE aggregate scan each (count/nulls/
# bounds/distinct in the same partial-agg pass); the FK checks are
# left-anti probes that AQE turns into broadcast/shuffle joins by size.
# Everything lands as (check, observed, ok) with integer observables —
# exact on any engine, no float drift in a pass/fail gate.
@register(
    "pipeline_data_quality",
    oracle="""
WITH l AS (SELECT COUNT(*) AS n_rows,
                  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS qty_nulls,
                  CAST(SUM(CASE WHEN l_quantity < 0 OR l_quantity > 100
                                THEN 1 ELSE 0 END) AS BIGINT) AS qty_oob,
                  COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
                    AS line_dupes
           FROM lineitem),
o AS (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) AS key_dupes FROM orders),
lo AS (SELECT COUNT(*) AS orphans FROM lineitem
       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
oc AS (SELECT COUNT(*) AS orphans FROM orders
       WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
SELECT * FROM (
  SELECT 'lineitem_nonempty' AS chk, n_rows AS observed, n_rows > 0 AS ok FROM l
  UNION ALL SELECT 'lineitem_qty_complete', qty_nulls, qty_nulls = 0 FROM l
  UNION ALL SELECT 'lineitem_qty_bounds', qty_oob, qty_oob = 0 FROM l
  UNION ALL SELECT 'lineitem_pk_unique', line_dupes, line_dupes = 0 FROM l
  UNION ALL SELECT 'orders_pk_unique', key_dupes, key_dupes = 0 FROM o
  UNION ALL SELECT 'lineitem_fk_orders', orphans, orphans = 0 FROM lo
  UNION ALL SELECT 'orders_fk_customer', orphans, orphans = 0 FROM oc
) ORDER BY chk
""",
    doc="Deequ-style one-pass quality audit: completeness, bounds, PK/FK integrity",
)
def pipeline_data_quality(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l, o, c = t["lineitem"], t["orders"], t["customer"]  # noqa: E741

    def row(chk, observed_col, df):
        return df.select(
            F.lit(chk).alias("chk"),
            F.col(observed_col).cast("long").alias("observed"),
            (F.col(observed_col) == 0 if chk != "lineitem_nonempty"
             else F.col(observed_col) > 0).alias("ok"),
        )

    lm = l.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias("qty_nulls"),
        F.sum(
            F.when((F.col("l_quantity") < 0) | (F.col("l_quantity") > 100), 1).otherwise(0)
        ).alias("qty_oob"),
        (F.count(F.lit(1)) - F.countDistinct("l_orderkey", "l_linenumber")).alias(
            "line_dupes"
        ),
    )
    om = o.agg((F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("key_dupes"))
    lo = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    oc = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    out = (
        row("lineitem_nonempty", "n_rows", lm)
        .unionByName(row("lineitem_qty_complete", "qty_nulls", lm))
        .unionByName(row("lineitem_qty_bounds", "qty_oob", lm))
        .unionByName(row("lineitem_pk_unique", "line_dupes", lm))
        .unionByName(row("orders_pk_unique", "key_dupes", om))
        .unionByName(row("lineitem_fk_orders", "orphans", lo))
        .unionByName(row("orders_fk_customer", "orphans", oc))
    )
    return out.orderBy("chk")


# ---------------------------------------------------------------------------
# CDC snapshot diff: classify every key of two table snapshots as
# insert / delete / update / unchanged — the change-data-capture step
# between periodic full loads, and the input a MERGE consumes.  The
# "new" snapshot is derived deterministically from orders (drop %97
# keys, bump %13 prices, add %101 re-keyed inserts) so both engines
# build the identical pair.  One full-outer join on the PK; change
# detection is direct column equality (no row-hash stringification —
# cross-engine float formatting is exactly the trap to avoid).  Output
# is the per-class count + an exact DECIMAL net-amount delta.
@register(
    "pipeline_snapshot_diff",
    oracle="""
WITH old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 101 = 0
),
d AS (SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS k,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN n.o_totalprice <> o.o_totalprice
                       OR n.o_orderstatus <> o.o_orderstatus THEN 'update'
                  ELSE 'unchanged' END AS change,
             COALESCE(CAST(n.o_totalprice AS DECIMAL(38,10)), 0)
               - COALESCE(CAST(o.o_totalprice AS DECIMAL(38,10)), 0) AS delta
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
SELECT change, COUNT(*) AS n_keys,
       CAST(SUM(delta) AS DOUBLE) AS net_amount_delta
FROM d GROUP BY change ORDER BY change
""",
    doc="CDC snapshot diff: insert/delete/update/unchanged classes via one full-outer join",
)
def pipeline_snapshot_diff(spark, sf_dir):
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    old_a = o.select(
        F.col("o_orderkey").alias("ok_old"),
        F.col("o_orderstatus").alias("st_old"),
        F.col("o_totalprice").alias("tp_old"),
    )
    new_a = new.select(
        F.col("o_orderkey").alias("ok_new"),
        F.col("o_orderstatus").alias("st_new"),
        F.col("o_totalprice").alias("tp_new"),
    )
    d = old_a.join(new_a, F.col("ok_old") == F.col("ok_new"), "full_outer").select(
        F.when(F.col("ok_old").isNull(), "insert")
        .when(F.col("ok_new").isNull(), "delete")
        .when(
            (F.col("tp_new") != F.col("tp_old"))
            | (F.col("st_new") != F.col("st_old")),
            "update",
        )
        .otherwise("unchanged")
        .alias("change"),
        (
            F.coalesce(F.col("tp_new").cast(DEC), F.lit(0).cast(DEC))
            - F.coalesce(F.col("tp_old").cast(DEC), F.lit(0).cast(DEC))
        ).alias("delta"),
    )
    return (
        d.groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("delta").cast("double").alias("net_amount_delta"),
        )
        .orderBy("change")
    )


# ---------------------------------------------------------------------------
# Entity-resolution fuzzy match: near-identical NAME pairs by edit
# distance, with the two standard scale moves composed: (1) collapse
# the corpus to name TYPES first (one map-side-combined groupBy —
# the quadratic step never sees row counts), (2) block candidates by a
# cheap key (3-char prefix) so the levenshtein residual runs only
# within blocks, never all-pairs.  At 100 TB: type count ~ entity
# vocabulary (bounded), blocks keep the candidate equi-join linear in
# type count — the same blocking shape record-linkage systems use.
@register(
    "dedup_fuzzy_names",
    oracle="""
WITH t AS (SELECT lower(p_name) AS nm, COUNT(*) AS freq FROM part GROUP BY nm),
p AS (SELECT a.nm AS n1, b.nm AS n2,
             CAST(levenshtein(a.nm, b.nm) AS INT) AS dist,
             a.freq + b.freq AS n_rows_covered
      FROM t a JOIN t b
        ON substr(a.nm, 1, 3) = substr(b.nm, 1, 3) AND a.nm < b.nm)
SELECT n1, n2, dist, n_rows_covered
FROM p WHERE dist > 0 AND dist <= 4
ORDER BY n1, n2
""",
    doc="fuzzy name-pair matching: type-level blocking + levenshtein residual (ER)",
)
def dedup_fuzzy_names(spark, sf_dir):
    p = load_tables(spark, sf_dir)["part"]
    t = (
        p.select(F.lower(F.col("p_name")).alias("nm"))
        .groupBy("nm")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    a = t.select(
        F.col("nm").alias("n1"),
        F.col("freq").alias("f1"),
        F.substring("nm", 1, 3).alias("bk"),
    )
    b = t.select(
        F.col("nm").alias("n2"),
        F.col("freq").alias("f2"),
        F.substring("nm", 1, 3).alias("bk"),
    )
    return (
        a.join(b, ["bk"])
        .filter(F.col("n1") < F.col("n2"))
        .select(
            "n1",
            "n2",
            F.levenshtein("n1", "n2").alias("dist"),
            (F.col("f1") + F.col("f2")).alias("n_rows_covered"),
        )
        .filter((F.col("dist") > 0) & (F.col("dist") <= 4))
        .orderBy("n1", "n2")
    )


# ---------------------------------------------------------------------------
# Balanced per-class sampling: exactly k docs per source, chosen by
# md5-hash rank — the deterministic, partitioning-independent version of
# per-class reservoir sampling used to build balanced eval/calibration
# sets.  Same two-phase top-k as emb_hard_negatives: a per-input-
# partition window prunes to ≤k rows per (source, partition) before the
# global per-source rank, so no reducer sees a full class even when one
# source dominates the corpus (the usual skew in web crawls).
@register(
    "pipeline_balanced_sample",
    oracle="""
WITH r AS (SELECT doc_id, source,
                  ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                    AS rk
           FROM documents)
SELECT source, CAST(rk AS INT) AS rk, doc_id
FROM r WHERE rk <= 5
ORDER BY source, rk
""",
    doc="balanced per-source k=5 sample via md5-hash rank, two-phase top-k",
)
def pipeline_balanced_sample(spark, sf_dir):
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("hk"),
        F.spark_partition_id().alias("pid"),
    )
    w_local = Window.partitionBy("source", "pid").orderBy("hk", "doc_id")
    w_global = Window.partitionBy("source").orderBy("hk", "doc_id")
    return (
        d.withColumn("lr", F.row_number().over(w_local))
        .filter(F.col("lr") <= 5)
        .withColumn("rk", F.row_number().over(w_global))
        .filter(F.col("rk") <= 5)
        .select("source", "rk", "doc_id")
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# Winsorization: clip per-source outliers at the global [p5, p95]
# length band — the robust-statistics normalization applied before
# computing corpus statistics that a few giant documents would
# otherwise dominate.  Cut points come from percentile_disc (SELECTION,
# not interpolation — the chosen values are actual data values, so the
# clip thresholds are engine-exact doubles); they broadcast as one row
# and the clip itself is a map-only least/greatest.  Integer token
# counts keep the clipped sums exact cross-engine.
@register(
    "pipeline_winsorize_lengths",
    oracle="""
WITH tok AS (SELECT source,
                    CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tok
             FROM documents),
cuts AS (SELECT quantile_disc(n_tok, 0.05) AS lo, quantile_disc(n_tok, 0.95) AS hi
         FROM tok)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_tok < lo OR n_tok > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped,
       CAST(SUM(GREATEST(LEAST(n_tok, hi), lo)) AS BIGINT) AS winsorized_tokens,
       CAST(SUM(n_tok) AS BIGINT) AS raw_tokens
FROM tok CROSS JOIN cuts
GROUP BY source
ORDER BY source
""",
    doc="winsorize doc lengths at global [p5,p95] via broadcast percentile_disc cut points",
)
def pipeline_winsorize_lengths(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    tok = d.select(
        "source", F.size(T.tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    cuts = tok.agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY n_tok)").alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_tok)").alias("hi"),
    )
    return (
        tok.crossJoin(F.broadcast(cuts))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("n_tok") < F.col("lo")) | (F.col("n_tok") > F.col("hi")), 1
                ).otherwise(0)
            ).alias("n_clipped"),
            F.sum(F.greatest(F.least("n_tok", "hi"), F.col("lo")))
            .cast("long")
            .alias("winsorized_tokens"),
            F.sum("n_tok").alias("raw_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Bigram language-model scoring (perplexity-proxy filtering): train
# add-one-smoothed bigram probabilities on the corpus itself, score
# every document by its mean token log-probability — the KenLM-style
# quality signal used to filter pretraining data, here with the corpus
# as its own LM.  Scale shape: the LM tables are VOCAB-bounded (unigram
# + bigram counts — broadcastable at any corpus size), the per-doc
# bigram stream is map-only, and the per-token log-probs quantize to
# integer micro-units before the per-doc sum (floor(x·1e6+0.5), the
# same engine-portable quantizer as text_bm25_search) so the aggregate
# is exact cross-engine.
@register(
    "text_bigram_lm_score",
    oracle="""
WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
bg AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
       FROM w),
uni AS (SELECT unnest(w) AS term FROM w),
uc AS (SELECT term, COUNT(*) AS c1 FROM uni GROUP BY term),
vocab AS (SELECT COUNT(*) AS v FROM uc),
bc AS (SELECT bigram, COUNT(*) AS c2 FROM bg GROUP BY bigram),
scored AS (
  SELECT b.doc_id,
         CAST(FLOOR(ln((bc.c2 + 1.0) / (uc.c1 + vocab.v))
                    * 1000000 + 0.5) AS BIGINT) AS lp_micro
  FROM bg b
  JOIN bc ON b.bigram = bc.bigram
  JOIN uc ON string_split(b.bigram, ' ')[1] = uc.term
  CROSS JOIN vocab)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(lp_micro) AS BIGINT) AS logprob_micro,
       CAST(SUM(lp_micro) // COUNT(*) AS BIGINT) AS avg_lp_micro
FROM scored GROUP BY doc_id
ORDER BY doc_id
""",
    doc="bigram-LM perplexity proxy: add-one smoothing, vocab-bounded LM, micro-int exact sums",
)
def text_bigram_lm_score(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    w = d.select("doc_id", T.tokens(F.col("text")).alias("w"))
    bg = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN "
                "transform(sequence(1, size(w)-1), i -> concat(w[i-1], ' ', w[i])) "
                "ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("bigram"),
    )
    uc = (
        w.select(F.explode("w").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uc.agg(F.count(F.lit(1)).alias("v"))
    bc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        bg.join(F.broadcast(bc), "bigram")
        .join(
            F.broadcast(uc),
            F.split(F.col("bigram"), " ")[0] == F.col("term"),
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(
                F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))) * 1000000
                + 0.5
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").alias("logprob_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "logprob_micro",
            F.expr("logprob_micro DIV n_bigrams").alias("avg_lp_micro"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# OHLC time bars: per (event_type, hour) open/high/low/close/volume —
# the financial-style rollup a metrics warehouse derives from tick
# streams.  First/last are selected by row_number over the SAME
# (ts, event_id) ordering on both engines (min_by/arg_min tie-break
# arbitrarily; a window with an explicit total order does not), so the
# result is deterministic.  Windows partition by (type, hour) —
# partition-parallel — and the final agg is map-side combinable.
@register(
    "events_ohlc_bars",
    oracle="""
WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h, ts, event_id, value
           FROM events),
r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type, h
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, h
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e)
SELECT event_type, h,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_ticks
FROM r GROUP BY event_type, h
ORDER BY event_type, h
""",
    doc="OHLC hourly bars per event type; open/close via total-order windows (deterministic)",
)
def events_ohlc_bars(spark, sf_dir):
    from pyspark.sql import Window

    e = load_tables(spark, sf_dir)["events"].select(
        "event_type", F.date_trunc("hour", "ts").alias("h"), "ts", "event_id", "value"
    )
    wa = Window.partitionBy("event_type", "h").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "h").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    r = e.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return (
        r.groupBy("event_type", "h")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("event_type", "h")
    )


# ---------------------------------------------------------------------------
# Class prototypes: the per-label mean embedding (centroid), the seed
# for nearest-class-mean classifiers and IVF-style coarse quantizers.
# Float element sums are order-dependent in IEEE; here each element
# quantizes to integer micro-units first (floor(x·1e6+0.5) of the
# float→double-exact value), the per-(label, dim) sums are exact
# BIGINTs, and the centroid is an integer DIV — bit-identical on any
# engine and any partitioning.  Long format (label, dim, value):
# labels × dims rows, the explode is map-only, one agg.
@register(
    "emb_class_centroids",
    oracle="""
WITH x0 AS (SELECT label,
                   [{'dim': i - 1,
                     'v_micro': CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000
                                           + 0.5) AS BIGINT)}
                    for i in range(1, len(embedding) + 1)] AS es
            FROM embeddings),
x AS (SELECT label, unnest(es, recursive := true) FROM x0)
SELECT label, CAST(dim AS INT) AS dim,
       COUNT(*) AS n,
       CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
       CAST(SUM(v_micro) AS BIGINT) // COUNT(*) AS centroid_micro
FROM x GROUP BY label, dim
ORDER BY label, dim
""",
    doc="per-label embedding centroids via micro-int exact element sums (long format)",
)
def emb_class_centroids(spark, sf_dir):
    e = load_tables(spark, sf_dir)["embeddings"]
    x = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        "dim",
        F.floor(F.col("v").cast("double") * 1000000 + 0.5).cast("long").alias("v_micro"),
    )
    return (
        x.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_micro").alias("sum_micro"),
        )
        .select(
            "label",
            "dim",
            "n",
            "sum_micro",
            F.expr("sum_micro DIV n").alias("centroid_micro"),
        )
        .orderBy("label", "dim")
    )


# ---------------------------------------------------------------------------
# Nearest-class-mean evaluation: classify every vector by its nearest
# label centroid and report per-class accuracy — the standard cheap
# probe of embedding quality (and of the centroids that seed IVF).
# Composes emb_class_centroids' exact micro-int prototypes: centroids
# reconstruct exactly (ints < 2^53 → double), the squared-distance
# expression is identical on both engines, and the argmin is a
# row_number over the explicit (dist, label) order — no arg_min
# tie-break nondeterminism.  Centroids are labels×dims (broadcast);
# scoring is map-only; one final agg.
@register(
    "emb_nearest_centroid_eval",
    oracle="""
WITH x0 AS (SELECT vec_id, label,
                   [{'dim': i - 1,
                     'v': CAST(embedding[i] AS DOUBLE)}
                    for i in range(1, len(embedding) + 1)] AS es
            FROM embeddings),
x AS (SELECT vec_id, label, unnest(es, recursive := true) FROM x0),
cent AS (SELECT label AS c_label, dim,
                CAST(SUM(CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                  // COUNT(*) AS c_micro
         FROM x GROUP BY label, dim),
dist AS (SELECT x.vec_id, x.label, c.c_label,
                SUM((CAST(FLOOR(x.v * 1000000 + 0.5) AS BIGINT) - c.c_micro)
                    * (CAST(FLOOR(x.v * 1000000 + 0.5) AS BIGINT) - c.c_micro))
                  AS d2
         FROM x JOIN cent c ON x.dim = c.dim
         GROUP BY x.vec_id, x.label, c.c_label),
best AS (SELECT vec_id, label, c_label,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY d2, c_label) AS rn
         FROM dist)
SELECT label,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS BIGINT)
         * 1000000 // COUNT(*) AS acc_ppm
FROM best WHERE rn = 1
GROUP BY label ORDER BY label
""",
    doc="nearest-class-mean accuracy per label; exact centroids, deterministic argmin",
)
def emb_nearest_centroid_eval(spark, sf_dir):
    from pyspark.sql import Window

    e = load_tables(spark, sf_dir)["embeddings"]
    x = e.select("vec_id", "label", F.posexplode("embedding").alias("dim", "vf")).select(
        "vec_id", "label", "dim", F.col("vf").cast("double").alias("v")
    )
    cent = (
        x.groupBy(F.col("label").alias("c_label"), "dim")
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT)) DIV COUNT(*)"
            ).alias("c_micro")
        )
    )
    # distances in exact integer micro-units: the per-(vec, centroid)
    # sum is order-independent, so the argmin can never be flipped by
    # float summation order across partitionings
    vm = F.floor(F.col("v") * 1000000 + 0.5).cast("long")
    diff = vm - F.col("c_micro")
    dist = (
        x.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    # argmin per vector as a map-side-combinable aggregate: the
    # lexicographic struct min on (d2, c_label) is exactly
    # ROW_NUMBER() ORDER BY d2, c_label rn=1 — same deterministic
    # tie-break, no per-partition window sort (guide §2.3).  label is a
    # trailing carry-along field ((d2, c_label) is unique per group, so
    # it can never influence the min).
    best = (
        dist.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "c_label", "label")).alias("m"))
        .select(
            "vec_id",
            F.col("m.label").alias("label"),
            F.col("m.c_label").alias("c_label"),
        )
    )
    correct = F.sum(F.when(F.col("c_label") == F.col("label"), 1).otherwise(0))
    return (
        best.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), correct.alias("n_correct"))
        .select(
            "label",
            "n",
            "n_correct",
            F.expr("n_correct * 1000000 DIV n").alias("acc_ppm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Volume-anomaly detection: flag (event_type, hour) buckets whose event
# count deviates > 2σ from that type's hourly mean — the monitoring
# query a pipeline runs over its own ingest volumes.  The z-score
# inputs are exact integer counts and integer moment sums (Σc, Σc²),
# so mean/std/z compute as one deterministic double expression; no
# float aggregation order anywhere.  Two tiny aggs (hour grid, per-type
# moments broadcast back) — nothing scales beyond the bucket count.
@register(
    "events_anomaly_zscore",
    oracle="""
WITH b AS (SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
           FROM events GROUP BY event_type, h),
m AS (SELECT event_type, COUNT(*) AS n,
             CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(c * c) AS BIGINT) AS scc
      FROM b GROUP BY event_type
      HAVING COUNT(*) > 1
         AND CAST(SUM(c * c) AS BIGINT) * COUNT(*)
             > CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT))
SELECT b.event_type AS event_type, b.h AS h, b.c AS c,
       (b.c - CAST(m.sc AS DOUBLE) / m.n)
         / sqrt((CAST(m.scc AS DOUBLE) - CAST(m.sc AS DOUBLE) * m.sc / m.n)
                / (m.n - 1)) AS z
FROM b JOIN m ON b.event_type = m.event_type
WHERE ABS((b.c - CAST(m.sc AS DOUBLE) / m.n)
          / sqrt((CAST(m.scc AS DOUBLE) - CAST(m.sc AS DOUBLE) * m.sc / m.n)
                 / (m.n - 1))) > 2.0
ORDER BY event_type, h
""",
    doc="ingest-volume anomaly buckets (|z|>2) from exact integer hourly counts",
)
def events_anomaly_zscore(spark, sf_dir):
    e = load_tables(spark, sf_dir)["events"]
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    # n>1 and integer-exact var>0 guard (scc*n > sc*sc): a type with one
    # bucket or zero variance yields NaN/inf, which DuckDB keeps (NaN
    # sorts above everything, so ABS(z)>2 passes) but Spark's filter
    # drops — a cross-engine divergence unless excluded on both sides.
    m = (
        b.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sc"),
            F.sum(F.col("c") * F.col("c")).alias("scc"),
        )
        .filter(
            (F.col("n") > 1)
            & (
                F.col("scc").cast("decimal(38,0)") * F.col("n")
                > F.col("sc").cast("decimal(38,0)") * F.col("sc")
            )
        )
    )
    mean = F.col("sc").cast("double") / F.col("n")
    var = (
        F.col("scc").cast("double") - F.col("sc").cast("double") * F.col("sc") / F.col("n")
    ) / (F.col("n") - 1)
    z = (F.col("c") - mean) / F.sqrt(var)
    return (
        b.join(F.broadcast(m), "event_type")
        .select("event_type", "h", "c", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.0)
        .orderBy("event_type", "h")
    )


# ---------------------------------------------------------------------------
# k-NN: product-quantization (PQ) with asymmetric distance computation
# (ADC) — the memory-scale path beyond IVF: each 64-dim vector is
# encoded as m=8 four-bit codes (one per 8-dim subspace, ks=16
# centroids), and search scans CODES (4 bytes/vector instead of 256),
# summing per-block query->centroid distances from a 128-entry lookup
# table.  Codebooks here are deterministic md5-derived literals baked
# identically into both engines (a learned codebook changes recall, not
# the operator shape), and all distances run in integer micro-units so
# encode/search are bit-exact cross-engine.
# Scale shape: encode is map-only after a 128-row broadcast; the ADC
# table is 128 rows broadcast; search is one scan of the code table +
# top-k.  At 100 TB the codes table is ~250x smaller than the vectors.
def _pq_codebook() -> list[tuple[int, int, list[int]]]:
    """(block, centroid, 8 micro-unit components) x 128, from md5 —
    deterministic, embedded as literals in BOTH engines' plans."""
    import hashlib

    out = []
    for b in range(8):
        for c in range(16):
            comp = []
            for j in range(8):
                h = hashlib.md5(f"pq:{b}:{c}:{j}".encode()).hexdigest()
                comp.append((int(h[:8], 16) % 2001 - 1000) * 1000)  # micro units
            out.append((b, c, comp))
    return out


def _pq_oracle() -> str:
    cb_rows = ",\n".join(
        f"({b}, {c}, {comp})" for b, c, comp in _pq_codebook()
    )
    return f"""
WITH cb (b, c, cm) AS (VALUES
{cb_rows}
),
v AS (
  SELECT vec_id,
         [CAST(FLOOR(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT) for e in embedding] AS vm
  FROM embeddings
),
blk AS (
  SELECT vec_id, bs.b AS b, vm[bs.b * 8 + 1 : bs.b * 8 + 8] AS sub
  FROM v CROSS JOIN (SELECT UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS b) bs
),
dist AS (
  SELECT vec_id, blk.b AS b, cb.c AS c,
         CAST(list_sum([(sub[j + 1] - cm[j + 1]) * (sub[j + 1] - cm[j + 1])
                        for j in [0, 1, 2, 3, 4, 5, 6, 7]]) AS BIGINT) AS d2
  FROM blk JOIN cb ON cb.b = blk.b
),
code AS (
  SELECT vec_id, b, c, ROW_NUMBER() OVER (PARTITION BY vec_id, b ORDER BY d2, c) AS rn
  FROM dist
),
q AS (SELECT b, c, d2 AS qd2 FROM dist WHERE vec_id = 0)
SELECT code.vec_id AS vec_id,
       STRING_AGG(CAST(code.c AS VARCHAR), '-' ORDER BY code.b) AS codes,
       CAST(SUM(q.qd2) AS BIGINT) AS adc_dist
FROM code JOIN q ON q.b = code.b AND q.c = code.c
WHERE code.rn = 1 AND code.vec_id <> 0
GROUP BY code.vec_id
ORDER BY adc_dist, vec_id
LIMIT 20
"""


@register(
    "knn_pq_adc",
    oracle=_pq_oracle(),
    doc="product-quantization encode + asymmetric-distance top-20 (integer-exact)",
)
def knn_pq_adc(spark, sf_dir):
    # The per-(vector, block) nearest-centroid is a lexicographic struct
    # min on (d2, c): the identical argmin and tie-break of a
    # ROW_NUMBER() window over the n*8*16 scored rows, computed as a
    # map-side-combinable HashAggregate instead of Exchange + two Sorts
    # + WindowGroupLimit (guide SS2.3 "aggregate before you shuffle" --
    # the exchange carries per-task partial minima, not scored rows).
    #
    # An all-expression formulation (codebook literals inlined per
    # block, zero data shuffles) was tried first and REJECTED: 8 blocks
    # x 16 centroids x 8 dims lands a ~2000-node expression in ONE
    # whole-stage-codegen method, which fails Janino's 64KB method
    # limit ("Failed to compile the generated Java code", observed at
    # sf0.01) and drops the stage to interpreted eval -- the explode +
    # 128-row broadcast codebook join keeps every generated method
    # small and fully codegen'd.
    e = load_tables(spark, sf_dir)["embeddings"]
    vm = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5)).cast("long"),
    )
    blocks = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda b: F.struct(b.alias("b"), F.slice(vm, b * 8 + 1, 8).alias("sub")),
    )
    blk = e.select("vec_id", F.explode(blocks).alias("e")).select(
        "vec_id", F.col("e.b").alias("b"), F.col("e.sub").alias("sub")
    )
    spark_cb = spark.createDataFrame(
        _pq_codebook(), "cb_b int, c int, cm array<long>"
    )
    d2 = F.aggregate(
        F.zip_with("sub", "cm", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dist = blk.join(F.broadcast(spark_cb), F.col("cb_b") == blk["b"]).select(
        "vec_id", "b", "c", d2.alias("d2")
    )
    code = (
        dist.groupBy("vec_id", "b")
        .agg(F.min(F.struct("d2", "c")).alias("m"))
        .select("vec_id", "b", F.col("m.c").alias("c"))
    )
    q = dist.filter(F.col("vec_id") == 0).select(
        F.col("b").alias("qb"), F.col("c").alias("qc"), F.col("d2").alias("qd2")
    )
    return (
        code.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), (F.col("qb") == code["b"]) & (F.col("qc") == code["c"]))
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                "-",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("b", "c"))),
                    lambda s: s["c"].cast("string"),
                ),
            ).alias("codes"),
            F.sum("qd2").alias("adc_dist"),
        )
        .orderBy("adc_dist", "vec_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Distribution-drift monitor (PSI — population stability index), the
# gate a training pipeline runs between a reference corpus snapshot and
# the current one before retraining.  Reference = even doc_ids, current
# = odd (the fixture's stand-in for two time slices).  Length
# distribution over fixed bins; counts are exact integers, Laplace +1
# smoothed, and the only float math is one deterministic expression
# shape over exact ints on both engines (ln of a ratio of ints), so the
# per-bin PSI terms hash identically.  Two tiny aggs; map-only bucketing.
@register(
    "pipeline_psi_drift",
    oracle="""
WITH binned AS (
  SELECT CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
              WHEN n_chars < 800 THEN 2 WHEN n_chars < 1600 THEN 3 ELSE 4 END AS bin,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref
  FROM documents
),
c AS (
  SELECT bin,
         CAST(SUM(is_ref) + 1 AS BIGINT) AS n_ref,
         CAST(SUM(1 - is_ref) + 1 AS BIGINT) AS n_cur
  FROM binned GROUP BY bin
),
t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref, CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM c)
SELECT c.bin AS bin, c.n_ref AS n_ref, c.n_cur AS n_cur,
       (CAST(c.n_cur AS DOUBLE) / t.t_cur - CAST(c.n_ref AS DOUBLE) / t.t_ref)
         * ln((CAST(c.n_cur AS DOUBLE) / t.t_cur) / (CAST(c.n_ref AS DOUBLE) / t.t_ref))
         AS psi_term
FROM c CROSS JOIN t
ORDER BY bin
""",
    doc="PSI distribution-drift terms between corpus snapshots (exact counts)",
)
def pipeline_psi_drift(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    binned = d.select(
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 400, 1)
        .when(F.col("n_chars") < 800, 2)
        .when(F.col("n_chars") < 1600, 3)
        .otherwise(4)
        .alias("bin"),
        F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0).alias("is_ref"),
    )
    c = binned.groupBy("bin").agg(
        (F.sum("is_ref") + 1).alias("n_ref"),
        (F.sum(1 - F.col("is_ref")) + 1).alias("n_cur"),
    )
    t = c.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_cur = F.col("n_cur").cast("double") / F.col("t_cur")
    p_ref = F.col("n_ref").cast("double") / F.col("t_ref")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "bin", "n_ref", "n_cur",
            ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi_term"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Contiguous row-id assignment over a total order WITHOUT a global
# sort: range-repartition + per-partition offsets (operators/ids.py) —
# the sharding primitive every training-data export needs (stable
# example ids, resumable shards).  The oracle is the single-node
# definition (ROW_NUMBER over the global order); the Spark side must
# reproduce it exactly from the distributed recipe.
@register(
    "pipeline_contiguous_ids",
    oracle="""
SELECT doc_id, source,
       ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS row_id
FROM documents
ORDER BY row_id
""",
    doc="dense 0..n-1 ids over (source, doc_id) via range-partition + offsets",
)
def pipeline_contiguous_ids(spark, sf_dir):
    from stonedb_spark.operators.ids import assign_contiguous_ids

    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "source")
    return assign_contiguous_ids(d, ["source", "doc_id"]).orderBy("row_id")


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key — the multi-column pruning layout
# (operators/zorder.py; the Spark-side analog of the reference's
# Knowledge Grid pack pruning, which only bites when the row order
# clusters the filtered columns).  The key itself is registered so the
# bit-interleave math is oracle-checked; the physical claim (z-sorted
# row groups prune 2-D boxes that a 1-D sort cannot) is pinned by
# tests/test_plans.py::test_zorder_layout_prunes_2d_boxes.
def _zorder_oracle() -> str:
    terms = []
    for i in range(16):
        terms.append(f"(((l_partkey % 65536) >> {i}) & 1) << {2 * i}")
        terms.append(f"(((l_suppkey % 65536) >> {i}) & 1) << {2 * i + 1}")
    z = " + ".join(f"({t})" for t in terms)
    return f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       CAST({z} AS BIGINT) AS zkey
FROM lineitem
WHERE l_orderkey <= 200
ORDER BY zkey, l_orderkey, l_linenumber
"""


@register(
    "pipeline_zorder_key",
    oracle=_zorder_oracle(),
    doc="Morton bit-interleave clustering key (codegen bit ops, no UDF)",
)
def pipeline_zorder_key(spark, sf_dir):
    from stonedb_spark.operators.zorder import zvalue

    l = load_tables(spark, sf_dir)["lineitem"]  # noqa: E741
    return (
        l.filter(F.col("l_orderkey") <= 200)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            zvalue([F.col("l_partkey") % 65536, F.col("l_suppkey") % 65536], 16).alias(
                "zkey"
            ),
        )
        .orderBy("zkey", "l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# k-NN GRAPH construction (every node's top-3 neighbors at once) — the
# building block above single-query search: NN-descent, HNSW layers,
# and graph-based dedup all start from this.  Candidates come from the
# same random-hyperplane buckets as knn_lsh_bucketed (inlined literals
# on both engines), so the join is bucket-equi — NEVER all-pairs — and
# per-node selection is a partition-parallel window over the bucket.
# Ranking uses the 9-decimal-rounded cosine (same cross-engine float
# discipline as knn_bruteforce) with vec_id tiebreak.
# 100 TB shape: bucket sizes ~n/2^bits; per-bucket self-join cost is
# sum(b_i^2) — the standard LSH graph-build bound; more bits flatten it.
def _knng_oracle() -> str:
    planes = S.lsh_hyperplanes()

    def plane_sql(tbl: str, p: list[float]) -> str:
        lits = ", ".join(repr(v) for v in p)
        return (
            f"CASE WHEN list_sum(list_transform(list_zip({tbl}.embedding, [{lits}]), "
            "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) >= 0 "
            "THEN '1' ELSE '0' END"
        )

    ba = " || ".join(plane_sql("a", p) for p in planes)
    bb = " || ".join(plane_sql("b", p) for p in planes)
    return f"""
WITH scored AS (
  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         ROUND({_COS_AB} / ({_NORM.format(t='a')} * {_NORM.format(t='b')}), 9) AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON a.vec_id <> b.vec_id AND ({ba}) = ({bb})
),
ranked AS (
  SELECT src_id, nbr_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, nbr_id) AS rnk
  FROM scored
)
SELECT src_id, rnk, nbr_id, cos_sim FROM ranked
WHERE rnk <= 3
ORDER BY src_id, rnk
"""


@register(
    "knn_graph_bucketed",
    oracle=_knng_oracle(),
    doc="all-nodes k-NN graph (top-3) via LSH bucket-equi self-join",
)
def knn_graph_bucketed(spark, sf_dir):
    from pyspark.sql import Window

    e = load_tables(spark, sf_dir)["embeddings"]
    planes = S.lsh_hyperplanes()
    b = e.select(
        "vec_id", "embedding", S.lsh_bucket(F.col("embedding"), planes).alias("bkt")
    )
    o = b.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("nbr_emb"),
        F.col("bkt").alias("nbr_bkt"),
    )
    scored = (
        b.join(o, (F.col("bkt") == F.col("nbr_bkt")) & (b["vec_id"] != F.col("nbr_id")))
        .select(
            F.col("vec_id").alias("src_id"),
            "nbr_id",
            F.round(S.cosine(F.col("embedding"), F.col("nbr_emb")), 9).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("cos_sim"), "nbr_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("src_id", "rnk", "nbr_id", "cos_sim")
        .orderBy("src_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment pairs: |shingles(A) ∩ shingles(B)| / |shingles(A)|
# — catches a short doc quoted/embedded inside a long one, which
# symmetric Jaccard structurally misses (the union denominator drowns
# the small side).  Same inverted-index shape as dedup_ngram_jaccard:
# shingle equi-join (stop-shingle capped) + per-doc size join — linear
# in postings, never all-pairs.
@register(
    "text_containment_pairs",
    oracle=f"""
WITH sh0 AS ({_SQL_SHINGLES}),
df_ok AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 100),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN df_ok USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d_small, b.doc_id AS d_big, COUNT(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.d_small, i.d_big, i.n_common,
       sa.n_sh AS n_small,
       CAST(i.n_common * 1000000 AS BIGINT) // sa.n_sh AS containment_ppm
FROM inter i JOIN sizes sa ON sa.doc_id = i.d_small
WHERE i.n_common * 1000000 >= 300000 * sa.n_sh
ORDER BY d_small, d_big
""",
    doc="asymmetric shingle containment (quote/partial-copy detection), ppm exact",
)
def text_containment_pairs(spark, sf_dir):
    from stonedb_spark.functions.text import with_shingles

    d = load_tables(spark, sf_dir)["documents"]
    sh0 = with_shingles(d)
    ok = sh0.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 100
    )
    sh = sh0.join(ok.select("shingle"), "shingle")
    sizes = sh.groupBy(F.col("doc_id").alias("sd")).agg(
        F.count(F.lit(1)).alias("n_sh")
    )
    o = sh.select(F.col("doc_id").alias("d_big"), "shingle")
    inter = (
        sh.join(o, "shingle")
        .filter(F.col("doc_id") != F.col("d_big"))
        .groupBy(F.col("doc_id").alias("d_small"), "d_big")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes, F.col("sd") == F.col("d_small"))
        .filter(F.col("n_common") * 1000000 >= 300000 * F.col("n_sh"))
        .select(
            "d_small",
            "d_big",
            "n_common",
            F.col("n_sh").alias("n_small"),
            F.expr("n_common * 1000000 DIV n_sh").alias("containment_ppm"),
        )
        .orderBy("d_small", "d_big")
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation fidelity: how well do the first d'∈{16,32}
# dims of each embedding preserve the full-64-dim cosine to the query?
# The audit run before shipping truncated embeddings to a cheaper
# index.  All dot products in integer milli-units (same discipline as
# knn_pq_adc) so ranks and errors are engine-exact.  Global ranks are
# computed DISTRIBUTED: each of the three orderings goes through the
# range-repartition + per-partition-offset recipe of operators/ids.py —
# one range shuffle and a #partitions-row driver agg per ordering,
# never a partition-less window dragging the corpus into one task.
@register(
    "emb_truncation_fidelity",
    oracle="""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
m AS (
  SELECT a.vec_id,
         [CAST(FLOOR(CAST(e AS DOUBLE) * 1000 + 0.5) AS BIGINT) for e in a.embedding] AS vm,
         [CAST(FLOOR(CAST(e AS DOUBLE) * 1000 + 0.5) AS BIGINT) for e in q.qv] AS qm
  FROM embeddings a CROSS JOIN q WHERE a.vec_id <> 0
),
dots AS (
  SELECT vec_id,
         CAST(list_sum([vm[i+1] * qm[i+1] for i in range(64)]) AS BIGINT) AS dot_full,
         CAST(list_sum([vm[i+1] * qm[i+1] for i in range(32)]) AS BIGINT) AS dot_32,
         CAST(list_sum([vm[i+1] * qm[i+1] for i in range(16)]) AS BIGINT) AS dot_16
  FROM m
),
ranked AS (
  SELECT vec_id,
         ROW_NUMBER() OVER (ORDER BY dot_full DESC, vec_id) AS r_full,
         ROW_NUMBER() OVER (ORDER BY dot_32 DESC, vec_id) AS r_32,
         ROW_NUMBER() OVER (ORDER BY dot_16 DESC, vec_id) AS r_16
  FROM dots
)
SELECT CAST(COUNT(*) FILTER (WHERE r_full <= 20 AND r_32 <= 20) AS BIGINT) AS top20_kept_32,
       CAST(COUNT(*) FILTER (WHERE r_full <= 20 AND r_16 <= 20) AS BIGINT) AS top20_kept_16,
       CAST(SUM(ABS(r_full - r_32)) AS BIGINT) AS rank_shift_32,
       CAST(SUM(ABS(r_full - r_16)) AS BIGINT) AS rank_shift_16
FROM ranked
""",
    doc="embedding truncation audit: top-20 retention + rank shift at 32/16 dims",
)
def emb_truncation_fidelity(spark, sf_dir):
    from stonedb_spark.operators.ids import assign_contiguous_ids

    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    milli = lambda col: F.transform(  # noqa: E731
        col, lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long")
    )
    m = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", milli(F.col("embedding")).alias("vm"), milli(F.col("qv")).alias("qm"))
    )

    def dot_prefix(n):
        return F.aggregate(
            F.zip_with(F.slice("vm", 1, n), F.slice("qm", 1, n), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # read by the three rank frames
    dots = materialize(
        m.select(
            "vec_id",
            dot_prefix(64).alias("dot_full"),
            dot_prefix(32).alias("dot_32"),
            dot_prefix(16).alias("dot_16"),
        )
    )
    # ROW_NUMBER() OVER (ORDER BY dot DESC, vec_id) without the
    # single-partition window: ascending key (-dot, vec_id) is the
    # identical total order (dots are exact integer milli-units, so
    # negation is lossless), and assign_contiguous_ids turns it into
    # one range shuffle + a #partitions-row offset agg per ordering.
    rank_frames = []
    for suffix in ("full", "32", "16"):
        r = (
            assign_contiguous_ids(
                dots.select(
                    "vec_id", (-F.col(f"dot_{suffix}")).alias("_nd")
                ),
                ["_nd", "vec_id"],
                "_rid",
            )
            .select(
                "vec_id",
                (F.col("_rid") + 1).cast("int").alias(f"r_{suffix}"),
            )
        )
        rank_frames.append(r)
    ranked = (
        rank_frames[0]
        .join(rank_frames[1], "vec_id")
        .join(rank_frames[2], "vec_id")
    )
    return ranked.agg(
        F.count_if((F.col("r_full") <= 20) & (F.col("r_32") <= 20)).alias("top20_kept_32"),
        F.count_if((F.col("r_full") <= 20) & (F.col("r_16") <= 20)).alias("top20_kept_16"),
        F.sum(F.abs(F.col("r_full") - F.col("r_32"))).alias("rank_shift_32"),
        F.sum(F.abs(F.col("r_full") - F.col("r_16"))).alias("rank_shift_16"),
    )


# ---------------------------------------------------------------------------
# IVF+PQ composite (the FAISS-IVFPQ shape): coarse quantizer prunes to
# nprobe cells, PQ-ADC ranks WITHIN the probed cells — the full
# memory-scale ANN stack with both levers in one plan.  Reuses the
# hash-seeded IVF centroids (engine-reproducible) and the md5-literal
# PQ codebooks; every distance in integer micro-units.  At 100 TB:
# cells are partition-pruned at rest (the IVF layout test), codes are
# ~250x smaller than vectors, and the scan touches nprobe/nlist of
# the codes table.
def _ivfpq_oracle(nlist: int, nprobe: int) -> str:
    cos = (
        "(list_sum(list_transform(list_zip({a}.embedding, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform({a}.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform({b}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"
    )
    cb_rows = ",\n".join(f"({b}, {c}, {comp})" for b, c, comp in _pq_codebook())
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {nlist}),
a AS (SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {cos.format(a='e', b='c.cvec')} DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN c)
      WHERE rn = 1),
probe AS (SELECT cid FROM (
        SELECT c.cid,
               ROW_NUMBER() OVER (
                   ORDER BY {cos.format(a='q2', b='c.cvec')} DESC, c.cid ASC) AS rn
        FROM (SELECT qv AS embedding FROM q) q2 CROSS JOIN c)
      WHERE rn <= {nprobe}),
cb (b, c, cm) AS (VALUES
{cb_rows}
),
cand AS (
  SELECT e.vec_id, e.embedding, a.cid
  FROM embeddings e JOIN a ON e.vec_id = a.vec_id
  JOIN probe ON a.cid = probe.cid
  WHERE e.vec_id <> 0
),
v AS (
  SELECT vec_id, cid,
         [CAST(FLOOR(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT) for e in embedding] AS vm
  FROM cand
),
qv AS (
  SELECT [CAST(FLOOR(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT) for e in qv] AS vm
  FROM q
),
blk AS (
  SELECT vec_id, cid, bs.b AS b, vm[bs.b * 8 + 1 : bs.b * 8 + 8] AS sub
  FROM v CROSS JOIN (SELECT UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS b) bs
),
qblk AS (
  SELECT bs.b AS b, vm[bs.b * 8 + 1 : bs.b * 8 + 8] AS sub
  FROM qv CROSS JOIN (SELECT UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS b) bs
),
dist AS (
  SELECT vec_id, cid, blk.b AS b, cb.c AS c,
         CAST(list_sum([(sub[j + 1] - cm[j + 1]) * (sub[j + 1] - cm[j + 1])
                        for j in [0, 1, 2, 3, 4, 5, 6, 7]]) AS BIGINT) AS d2
  FROM blk JOIN cb ON cb.b = blk.b
),
qdist AS (
  SELECT qblk.b AS b, cb.c AS c,
         CAST(list_sum([(sub[j + 1] - cm[j + 1]) * (sub[j + 1] - cm[j + 1])
                        for j in [0, 1, 2, 3, 4, 5, 6, 7]]) AS BIGINT) AS qd2
  FROM qblk JOIN cb ON cb.b = qblk.b
),
code AS (
  SELECT vec_id, cid, b, c,
         ROW_NUMBER() OVER (PARTITION BY vec_id, b ORDER BY d2, c) AS rn
  FROM dist
)
SELECT code.vec_id AS vec_id, ANY_VALUE(code.cid) AS cell,
       CAST(SUM(q2.qd2) AS BIGINT) AS adc_dist
FROM code JOIN qdist q2 ON q2.b = code.b AND q2.c = code.c
WHERE code.rn = 1
GROUP BY code.vec_id
ORDER BY adc_dist, vec_id
LIMIT 10
"""


@register(
    "knn_ivfpq_probe",
    oracle=_ivfpq_oracle(S.IVF_NLIST, S.IVF_NPROBE),
    doc="IVF coarse prune + PQ-ADC rank within probed cells (FAISS-IVFPQ shape)",
)
def knn_ivfpq_probe(spark, sf_dir):
    from pyspark.sql import Window

    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    c, assign = S.ivf_index(e)
    probe = (
        c.crossJoin(F.broadcast(q))
        .select("cid", S.cosine(F.col("cvec"), F.col("qv")).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("cid"))
        .limit(S.IVF_NPROBE)
        .select("cid")
    )
    cand = (
        e.join(assign, "vec_id")
        .join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != 0)
    )

    micro = lambda col: F.transform(  # noqa: E731
        col, lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5)).cast("long")
    )
    blocks = lambda vmcol: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.lit(7)),
        lambda b: F.struct(b.alias("b"), F.slice(vmcol, b * 8 + 1, 8).alias("sub")),
    )
    blk = cand.select(
        "vec_id", "cid", F.explode(blocks(micro(F.col("embedding")))).alias("e")
    ).select("vec_id", "cid", F.col("e.b").alias("b"), F.col("e.sub").alias("sub"))
    qblk = q.select(F.explode(blocks(micro(F.col("qv")))).alias("e")).select(
        F.col("e.b").alias("qb"), F.col("e.sub").alias("sub")
    )
    spark_cb = spark.createDataFrame(_pq_codebook(), "cb_b int, c int, cm array<long>")
    d2 = F.aggregate(
        F.zip_with("sub", "cm", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dist = blk.join(F.broadcast(spark_cb), F.col("cb_b") == blk["b"]).select(
        "vec_id", "cid", "b", "c", d2.alias("d2")
    )
    qdist = qblk.join(F.broadcast(spark_cb), F.col("cb_b") == F.col("qb")).select(
        F.col("qb"), F.col("c").alias("qc"), d2.alias("qd2")
    )
    # argmin per (vector, block) as a map-side-combinable aggregate
    # (same shape as emb_nearest_centroid_eval): struct min on
    # (d2, c) == ROW_NUMBER() ORDER BY d2, c rn=1; cid is a constant
    # carry-along per vec_id (guide §2.3).
    code = (
        dist.groupBy("vec_id", "b")
        .agg(F.min(F.struct("d2", "c", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"), "b", F.col("m.c").alias("c"))
    )
    return (
        code.join(F.broadcast(qdist), (F.col("qb") == code["b"]) & (F.col("qc") == code["c"]))
        .groupBy("vec_id")
        .agg(
            F.any_value(F.col("cid")).alias("cell"),
            F.sum("qd2").alias("adc_dist"),
        )
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# REAL multimodal codecs: WAV and BMP need only the standard
# library + numpy, so unlike the stub entries above, the decode step
# here is genuine byte-level parsing (operators/codecs.py — encoder and
# decoder are independent implementations of each spec).  The oracle
# recomputes the audio/pixel statistics from the deterministic sample
# generator, so the driver hash arbitrates the full
# generate -> encode -> decode -> aggregate chain: any byte-layout bug
# on either side changes the stats.
@register(
    "multimodal_wav_decode",
    oracle="""
WITH d AS (SELECT doc_id FROM documents),
g AS (SELECT i FROM generate_series(0, 299) s(i))
SELECT d.doc_id,
       CAST(8000 + (d.doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(ABS(((d.doc_id * 31 + g.i * 7919) % 65536) - 32768)) AS BIGINT)
         AS sum_abs,
       CAST(MAX(((d.doc_id * 31 + g.i * 7919) % 65536) - 32768) AS BIGINT)
         AS max_amp,
       CAST(SUM(((d.doc_id * 31 + g.i * 7919) % 65536) - 32768) AS BIGINT)
         AS sum_raw
FROM d CROSS JOIN g
WHERE g.i < 200 + d.doc_id % 57
GROUP BY d.doc_id
ORDER BY d.doc_id
""",
    doc="REAL WAV codec: hand-rolled RIFF encode -> stdlib wave decode -> exact stats",
)
def multimodal_wav_decode(spark, sf_dir):
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].select("doc_id")

    def synth_and_roundtrip(batches):
        import numpy as np

        from stonedb_spark.operators.codecs import decode_wav, encode_wav

        for pdf in batches:
            out = {
                "doc_id": [], "sample_rate": [], "n_samples": [],
                "sum_abs": [], "max_amp": [], "sum_raw": [],
            }
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 200 + doc_id % 57
                rate = 8000 + (doc_id % 3) * 4000
                i = np.arange(n, dtype=np.int64)
                samples = ((doc_id * 31 + i * 7919) % 65536 - 32768).astype(
                    np.int16
                )
                payload = encode_wav(samples, rate)  # hand-rolled RIFF
                got_rate, got = decode_wav(payload)  # stdlib wave parse
                s64 = got.astype(np.int64)
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(got_rate)
                out["n_samples"].append(len(got))
                out["sum_abs"].append(int(np.abs(s64).sum()))
                out["max_amp"].append(int(s64.max()))
                out["sum_raw"].append(int(s64.sum()))
            yield pd.DataFrame(out)

    return d.mapInPandas(
        synth_and_roundtrip,
        schema=(
            "doc_id long, sample_rate long, n_samples long, "
            "sum_abs long, max_amp long, sum_raw long"
        ),
    ).orderBy("doc_id")


@register(
    "multimodal_bmp_decode",
    oracle="""
WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
           FROM documents),
gx AS (SELECT i AS x FROM generate_series(0, 16) s(i)),
gy AS (SELECT i AS y FROM generate_series(0, 14) s(i))
SELECT d.doc_id,
       CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
       CAST(SUM((d.doc_id + 3 * gx.x + 5 * gy.y) % 256) AS BIGINT) AS r_sum,
       CAST(SUM((d.doc_id + 3 * gx.x + 5 * gy.y + 7) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((d.doc_id + 3 * gx.x + 5 * gy.y + 14) % 256) AS BIGINT) AS b_sum
FROM d CROSS JOIN gx CROSS JOIN gy
WHERE gx.x < d.w AND gy.y < d.h
GROUP BY d.doc_id, d.w, d.h
ORDER BY d.doc_id
""",
    doc="REAL BMP codec: struct-packed 24-bit encode -> header-parsing numpy decode -> channel sums",
)
def multimodal_bmp_decode(spark, sf_dir):
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].select("doc_id")

    def synth_and_roundtrip(batches):
        import numpy as np

        from stonedb_spark.operators.codecs import decode_bmp, encode_bmp

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "r_sum": [], "g_sum": [], "b_sum": [],
            }
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 8 + doc_id % 9, 8 + doc_id % 7
                yy, xx, cc = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                pixels = ((doc_id + 3 * xx + 5 * yy + 7 * cc) % 256).astype(
                    np.uint8
                )
                payload = encode_bmp(pixels)
                got = decode_bmp(payload).astype(np.int64)
                out["doc_id"].append(doc_id)
                out["width"].append(got.shape[1])
                out["height"].append(got.shape[0])
                out["r_sum"].append(int(got[:, :, 0].sum()))
                out["g_sum"].append(int(got[:, :, 1].sum()))
                out["b_sum"].append(int(got[:, :, 2].sum()))
            yield pd.DataFrame(out)

    return d.mapInPandas(
        synth_and_roundtrip,
        schema=(
            "doc_id long, width long, height long, "
            "r_sum long, g_sum long, b_sum long"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Incremental dedup: a NEW batch probed against an EXISTING corpus LSH
# index — the production pattern (dedupe tonight's crawl against the
# 100-TB corpus without touching corpus pair space; index built once,
# probe cost scales with the batch).  Split: batch = doc_id % 5 = 0.
def _incremental_lsh_oracle() -> str:
    p = D.MERSENNE_P
    sig_cols = ", ".join(
        f"MIN(({a} * base + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(D.HASH_AB)
    )
    n_bands = D.N_HASHES // D.BAND_ROWS
    band_arms = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, {cat} AS band_key FROM sig".format(
            b=b,
            cat=" || '|' || ".join(
                f"CAST(h{b * D.BAND_ROWS + r} AS VARCHAR)"
                for r in range(D.BAND_ROWS)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH sh AS ({_SQL_SHINGLES}),
based AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {p} AS base
          FROM sh),
sig AS (SELECT doc_id, {sig_cols} FROM based GROUP BY doc_id),
bk AS ({band_arms}),
cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
         FROM bk b JOIN bk c ON b.band = c.band AND b.band_key = c.band_key
         WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 != 0),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT cand.batch_id, cand.corpus_id, COUNT(*) AS i
          FROM cand
          JOIN sh a ON a.doc_id = cand.batch_id
          JOIN sh b ON b.doc_id = cand.corpus_id AND b.shingle = a.shingle
          GROUP BY 1, 2),
ver AS (SELECT batch_id, corpus_id,
               CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes s1 ON batch_id = s1.doc_id
        JOIN sizes s2 ON corpus_id = s2.doc_id
        WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) > 0.5),
best AS (SELECT batch_id, corpus_id AS best_match, ROUND(jaccard, 9) AS best_jaccard
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY batch_id
                    ORDER BY jaccard DESC, corpus_id ASC) AS rn FROM ver)
         WHERE rn = 1)
SELECT d.doc_id AS batch_id,
       CAST(CASE WHEN best.best_match IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS is_dup,
       best.best_match AS best_match,
       best.best_jaccard AS best_jaccard
FROM documents d LEFT JOIN best ON best.batch_id = d.doc_id
WHERE d.doc_id % 5 = 0
ORDER BY batch_id
"""


@register(
    "dedup_incremental_lsh",
    oracle=_incremental_lsh_oracle(),
    doc="incremental batch-vs-corpus LSH dedup: index probe + bounded Jaccard verify",
)
def dedup_incremental_lsh(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    return D.incremental_lsh_dedup(corpus, batch, threshold=0.5).orderBy(
        "batch_id"
    )


# ---------------------------------------------------------------------------
# SemDeDup-shaped semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
# IVF cells bound the pair space; within a cell, greedy keep-smallest-id
# for pairs with cosine >= tau.  One coarse quantizer serves both ANN
# search and dedup.
@register(
    "dedup_semantic_ivf",
    oracle="""
WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
a AS (SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY (list_sum(list_transform(list_zip(e.embedding, c.cvec),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(c.cvec,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) DESC,
                   c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN c)
      WHERE rn = 1),
dup AS (SELECT DISTINCT a2.vec_id
        FROM a a1 JOIN a a2 ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
        JOIN embeddings e1 ON e1.vec_id = a1.vec_id
        JOIN embeddings e2 ON e2.vec_id = a2.vec_id
        WHERE (list_sum(list_transform(list_zip(e1.embedding, e2.embedding),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e1.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(e2.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) >= 0.35)
SELECT a.vec_id AS vec_id, CAST(a.cid AS BIGINT) AS cid,
       CAST(CASE WHEN dup.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup
FROM a LEFT JOIN dup ON dup.vec_id = a.vec_id
ORDER BY vec_id
""",
    doc="SemDeDup: IVF-cell-bounded cosine pairs, greedy keep-smallest-id",
)
def dedup_semantic_ivf(spark, sf_dir):
    from stonedb_spark.operators.similarity import semantic_dedup

    e = load_tables(spark, sf_dir)["embeddings"]
    return (
        semantic_dedup(e, tau=0.35)
        .select("vec_id", F.col("cid").cast("long").alias("cid"), "is_dup")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Exact ROC-AUC via rank sums (Mann-Whitney U): the eval metric every
# quality-classifier pipeline reports, computed EXACTLY — average ranks
# handle score ties, the U statistic stays integral (x2 to absorb the
# half-ranks), and AUC is one terminal division.  One window pass + one
# aggregate; no sampling, no sklearn.
@register(
    "pipeline_auc_rank",
    oracle="""
WITH scored AS (
  SELECT doc_id,
         CAST(n_chars % 977 AS BIGINT) AS score,
         CAST((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 100) < 40 + (n_chars % 977) / 25 AS INT) AS label
  FROM documents
),
ranked AS (
  SELECT label, score,
         RANK() OVER (ORDER BY score) AS rmin,
         COUNT(*) OVER (PARTITION BY score) AS nties
  FROM scored
),
agg AS (
  SELECT CAST(SUM(CASE WHEN label = 1
                       THEN 2 * rmin + nties - 1 ELSE 0 END) AS BIGINT)
           AS sum2_rank_pos,
         CAST(SUM(label) AS BIGINT) AS n_pos,
         CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_neg
  FROM ranked
)
SELECT n_pos, n_neg,
       CAST(sum2_rank_pos - n_pos * (n_pos + 1) AS BIGINT) AS u2,
       CAST(CAST(sum2_rank_pos - n_pos * (n_pos + 1) AS DOUBLE)
            / CAST(2 * n_pos * n_neg AS DOUBLE) AS DOUBLE) AS auc
FROM agg
""",
    doc="exact ROC-AUC by Mann-Whitney rank sums (tie-averaged, integer-exact U)",
)
def pipeline_auc_rank(spark, sf_dir):
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"]
    score = (F.col("n_chars") % 977).cast("long")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    label = (bucket < 40 + (F.col("n_chars") % 977) / 25).cast("int")
    scored = d.select(score.alias("score"), label.alias("label"))
    # Scale shape: a GLOBAL rank window would drag the whole corpus into
    # one partition.  Instead aggregate a per-score histogram (bounded
    # by the score cardinality, here < 977 rows at ANY corpus size) and
    # derive the tie-averaged rank sums from cumulative counts over that
    # tiny frame: 2*avg_rank(s) = 2*cum_before(s) + n(s) + 1.
    hist = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("label").cast("long").alias("npos_s"),
    )
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "score",
        "n_s",
        "npos_s",
        (F.sum("n_s").over(w) - F.col("n_s")).alias("cum_before"),
    )
    agg = cum.agg(
        F.sum(
            F.col("npos_s") * (2 * F.col("cum_before") + F.col("n_s") + 1)
        )
        .cast("long")
        .alias("sum2_rank_pos"),
        F.sum("npos_s").cast("long").alias("n_pos"),
        (F.sum("n_s") - F.sum("npos_s")).cast("long").alias("n_neg"),
    )
    u2 = F.col("sum2_rank_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    return agg.select(
        "n_pos",
        "n_neg",
        u2.cast("long").alias("u2"),
        (
            u2.cast("double") / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# RAG / context-window chunking: split each document into OVERLAPPING
# token windows (64-token window, 48-token stride) carrying token
# offsets and a content hash — the standard retrieval-corpus and
# packing prep.  Pure map-side fan-out (sequence + explode, everything
# whole-stage codegen): no shuffle, and the row multiplier is bounded
# by window/stride (~1.33x) regardless of corpus size, so the plan is
# scan-shaped at 100 TB.  Short docs produce exactly one chunk.
_CHUNK_WIN, _CHUNK_HOP = 64, 48

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id < 1500
), n AS (
  SELECT doc_id, toks, len(toks) AS n_tok,
         CASE WHEN len(toks) <= {_CHUNK_WIN} THEN 1
              ELSE CAST(CEIL((len(toks) - {_CHUNK_WIN}) / {_CHUNK_HOP}.0) AS BIGINT) + 1
         END AS n_chunks
  FROM t
)
SELECT doc_id,
       CAST(i AS BIGINT)                                   AS chunk_id,
       CAST(i * {_CHUNK_HOP} AS BIGINT)                    AS tok_start,
       CAST(LEAST(n_tok - i * {_CHUNK_HOP}, {_CHUNK_WIN}) AS BIGINT) AS n_tok_chunk,
       md5(array_to_string(
             toks[i * {_CHUNK_HOP} + 1 :
                  i * {_CHUNK_HOP} + LEAST(n_tok - i * {_CHUNK_HOP}, {_CHUNK_WIN})],
             ' '))                                         AS chunk_md5
FROM n, UNNEST(range(n_chunks)) AS u(i)
ORDER BY doc_id, chunk_id
"""


@register(
    "text_chunk_windows",
    oracle=_CHUNK_ORACLE,
    doc="overlapping token-window chunking (64/48) with offsets + content hash; "
    "map-only sequence+explode, bounded ~1.33x fan-out",
)
def text_chunk_windows(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    win, hop = _CHUNK_WIN, _CHUNK_HOP
    docs = (
        t["documents"]
        .filter(F.col("doc_id") < 1500)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .withColumn("n_tok", F.size("toks"))
        .withColumn(
            "n_chunks",
            F.when(F.col("n_tok") <= win, F.lit(1)).otherwise(
                F.ceil((F.col("n_tok") - win) / float(hop)) + 1
            ),
        )
    )
    chunks = docs.select(
        "doc_id",
        "toks",
        "n_tok",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("i"),
    )
    n_in_chunk = F.least(F.col("n_tok") - F.col("i") * hop, F.lit(win))
    return (
        chunks.select(
            "doc_id",
            F.col("i").cast("long").alias("chunk_id"),
            (F.col("i") * hop).cast("long").alias("tok_start"),
            n_in_chunk.cast("long").alias("n_tok_chunk"),
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("toks"), F.col("i") * hop + 1, n_in_chunk)
                ).cast("binary")
            ).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# Seeded epoch shuffle: the deterministic pseudo-random training order.
# Each epoch's permutation is the total order of md5(seed || doc_id) —
# stable across runs and cluster layouts, different per seed — and the
# position assignment reuses assign_contiguous_ids, so the "global
# shuffle" costs one range-repartition + a bounded per-partition
# offset pull, never a single-task global sort.  At 100 TB this is
# exactly how epoch ordering should be materialized: the hash key is
# uniform, so the range partitioner's sampled split points stay
# balanced no matter how skewed the input ids are.
@register(
    "pipeline_epoch_shuffle",
    oracle="""
SELECT doc_id,
       md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       ROW_NUMBER() OVER (ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR)))
         - 1 AS pos
FROM documents
ORDER BY pos
""",
    doc="seeded deterministic epoch shuffle: pos = rank of md5(seed||doc_id); "
    "range-repartition ids, no single-task sort",
)
def pipeline_epoch_shuffle(spark, sf_dir):
    from stonedb_spark.operators.ids import assign_contiguous_ids

    d = (
        load_tables(spark, sf_dir)["documents"]
        .select("doc_id")
        .withColumn(
            "shuffle_key",
            F.md5(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string"))),
        )
    )
    return (
        assign_contiguous_ids(d, ["shuffle_key"], id_col="pos")
        .select("doc_id", "shuffle_key", "pos")
        .orderBy("pos")
    )


# PNG joins WAV/BMP in the REAL-codec tier (stdlib zlib only): encode
# rotates the scanline filter (None/Sub/Up/Average/Paeth, y % 5) and
# decode walks the CRC-checked chunk stream + unfilters per-row, so the
# hash arbitrates the whole deflate/filter spec, not a single path.
@register(
    "multimodal_png_decode",
    oracle="""
WITH d AS (SELECT doc_id, 6 + doc_id % 8 AS w, 5 + doc_id % 6 AS h
           FROM documents WHERE doc_id < 400),
gx AS (SELECT i AS x FROM generate_series(0, 13) s(i)),
gy AS (SELECT i AS y FROM generate_series(0, 10) s(i))
SELECT d.doc_id,
       CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
       CAST(SUM((d.doc_id * 7 + 3 * gx.x + 11 * gy.y) % 256) AS BIGINT) AS r_sum,
       CAST(SUM((d.doc_id * 7 + 3 * gx.x + 11 * gy.y + 5) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((d.doc_id * 7 + 3 * gx.x + 11 * gy.y + 10) % 256) AS BIGINT) AS b_sum
FROM d CROSS JOIN gx CROSS JOIN gy
WHERE gx.x < d.w AND gy.y < d.h
GROUP BY d.doc_id, d.w, d.h
ORDER BY d.doc_id
""",
    doc="REAL PNG codec: zlib-deflated all-filter encode -> CRC-checked chunk parse "
    "+ per-row unfilter -> channel sums",
)
def multimodal_png_decode(spark, sf_dir):
    import pandas as pd

    d = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.col("doc_id") < 400)
        .select("doc_id")
    )

    def synth_and_roundtrip(batches):
        import numpy as np

        from stonedb_spark.operators.codecs import decode_png, encode_png

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "r_sum": [], "g_sum": [], "b_sum": [],
            }
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 6 + doc_id % 8, 5 + doc_id % 6
                yy, xx, cc = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                pixels = ((doc_id * 7 + 3 * xx + 11 * yy + 5 * cc) % 256).astype(
                    np.uint8
                )
                got = decode_png(encode_png(pixels)).astype(np.int64)
                out["doc_id"].append(doc_id)
                out["width"].append(got.shape[1])
                out["height"].append(got.shape[0])
                out["r_sum"].append(int(got[:, :, 0].sum()))
                out["g_sum"].append(int(got[:, :, 1].sum()))
                out["b_sum"].append(int(got[:, :, 2].sum()))
            yield pd.DataFrame(out)

    return d.mapInPandas(
        synth_and_roundtrip,
        schema=(
            "doc_id long, width long, height long, "
            "r_sum long, g_sum long, b_sum long"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Delta-join IVM parity (operators/ivm.py): the maintained join
# view after 5 interleaved delta batches (3 orders splits, 2 customer
# splits) must equal the plain join — the oracle IS that plain join.
# Each batch's contribution is J += ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB with the
# delta side broadcast; at corpus scale per-batch cost is delta-sized
# broadcasts against key-pruned state scans, and the view only appends.
@register(
    "pipeline_ivm_join_parity",
    oracle="""
SELECT c.c_custkey AS custkey, o.o_orderkey,
       CAST(o.o_totalprice AS DOUBLE) AS totalprice, c.c_name
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey <= 2500
ORDER BY o_orderkey
""",
    doc="incremental join-view maintenance: 5 interleaved append deltas, "
    "view == full join (delta-broadcast algebra, append-only state)",
)
def pipeline_ivm_join_parity(spark, sf_dir):
    from stonedb_spark.operators.ivm import delta_join

    t = load_tables(spark, sf_dir)
    orders = (
        t["orders"]
        .filter(F.col("o_orderkey") <= 2500)
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
        )
    )
    cust = t["customer"].select(F.col("c_custkey").alias("custkey"), "c_name")
    a_parts = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    b_parts = [cust.filter(F.col("custkey") % 2 == i) for i in range(2)]
    steps = [
        (a_parts[0], None),
        (None, b_parts[0]),
        (a_parts[1], None),
        (None, b_parts[1]),
        (a_parts[2], None),
    ]
    a_state, b_state, view = None, None, None
    for da, db in steps:
        nj = delta_join(a_state, b_state, da, db, "custkey")
        if nj is not None:
            view = nj if view is None else view.unionByName(nj)
        if da is not None:
            a_state = da if a_state is None else a_state.unionByName(da)
        if db is not None:
            b_state = db if b_state is None else b_state.unionByName(db)
    return view.select("custkey", "o_orderkey", "totalprice", "c_name").orderBy(
        "o_orderkey"
    )


# Retraction (DML) form of the IVM view: inserts on both sides, then a
# weighted delete of every 7th order — the consolidated view must be
# the join of the net states, which is exactly what the oracle spells.
@register(
    "pipeline_ivm_join_retract",
    oracle="""
SELECT c.c_custkey AS custkey, o.o_orderkey, c.c_name
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey <= 2500 AND o.o_orderkey % 7 <> 0
ORDER BY o_orderkey
""",
    doc="weighted (retraction) IVM: delete deltas cancel their join pairs; "
    "consolidated view == join of net states",
)
def pipeline_ivm_join_retract(spark, sf_dir):
    from stonedb_spark.operators.ivm import consolidate, delta_join_weighted

    t = load_tables(spark, sf_dir)
    orders = (
        t["orders"]
        .filter(F.col("o_orderkey") <= 2500)
        .select("o_orderkey", F.col("o_custkey").alias("custkey"))
    )
    cust = t["customer"].select(F.col("c_custkey").alias("custkey"), "c_name")
    steps = [
        (orders.withColumn("_w", F.lit(1)), None),
        (None, cust.withColumn("_w", F.lit(1))),
        (
            orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
                "_w", F.lit(-1)
            ),
            None,
        ),
    ]
    a_state, b_state, view = None, None, None
    for da, db in steps:
        nj = delta_join_weighted(a_state, b_state, da, db, "custkey")
        if nj is not None:
            view = nj if view is None else view.unionByName(nj)
        if da is not None:
            a_state = da if a_state is None else a_state.unionByName(da)
        if db is not None:
            b_state = db if b_state is None else b_state.unionByName(db)
    return (
        consolidate(view)
        .select("custkey", "o_orderkey", "c_name")
        .orderBy("o_orderkey")
    )


# Retraction form of the aggregate matview (operators/ivm.py
# fold_weighted_agg): inserts then w=-1 deletes of every 3rd event —
# the maintained (count, exact-sum) view must equal the aggregate of
# the surviving rows, which is what the oracle computes directly.
@register(
    "pipeline_ivm_agg_retract",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS total
FROM events
WHERE event_id <= 3000 AND event_id % 3 <> 0
GROUP BY event_type
ORDER BY event_type
""",
    doc="weighted aggregate IVM: COUNT/SUM folds with inverses; deletes subtract, "
    "net-zero groups vanish",
)
def pipeline_ivm_agg_retract(spark, sf_dir):
    from stonedb_spark.operators.ivm import fold_weighted_agg

    ev = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("event_id") <= 3000)
        .select("event_id", "event_type", "value")
    )
    batches = [
        ev.filter(F.col("event_id") % 2 == 0).withColumn("_w", F.lit(1)),
        ev.filter(F.col("event_id") % 2 == 1).withColumn("_w", F.lit(1)),
        ev.filter(F.col("event_id") % 3 == 0).withColumn("_w", F.lit(-1)),
    ]
    state = None
    for b in batches:
        state = fold_weighted_agg(state, b)
    return state.select(
        "event_type", F.col("n"), F.col("total").cast("double").alias("total")
    ).orderBy("event_type")


# MIN/MAX IVM: not invertible, so deletes at a group's extremum mark
# the group dirty and trigger a per-group rescan of the base (semi-join
# bounded by the dirty-key set) — operators/ivm.fold_minmax_agg.
# The %3 deletes hit many per-group extrema, so both the clean fold and
# the rescan path execute; the oracle is the direct recomputation over
# the surviving rows.
@register(
    "pipeline_ivm_minmax",
    oracle="""
SELECT event_type,
       MIN(value) AS mn,
       MAX(value) AS mx,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
WHERE event_id <= 3000 AND event_id % 3 <> 0
GROUP BY event_type
ORDER BY event_type
""",
    doc="MIN/MAX IVM with delete-extremum rescan trigger: inserts fold "
    "monotonically, deletes of a group's min/max repair via bounded rescan",
)
def pipeline_ivm_minmax(spark, sf_dir):
    from stonedb_spark.operators.ivm import fold_minmax_agg

    ev = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("event_id") <= 3000)
        .select("event_id", "event_type", "value")
    )
    evens = ev.filter(F.col("event_id") % 2 == 0)
    odds = ev.filter(F.col("event_id") % 2 == 1)
    dead = ev.filter(F.col("event_id") % 3 == 0)
    live = ev.filter(F.col("event_id") % 3 != 0)
    steps = [  # (delta batch, post-batch live base rows)
        (evens.withColumn("_w", F.lit(1)), evens),
        (odds.withColumn("_w", F.lit(1)), ev),
        (dead.withColumn("_w", F.lit(-1)), live),
    ]
    state = None
    for batch, base in steps:
        state = fold_minmax_agg(state, batch, base)
    return state.orderBy("event_type")


# LEFT-join view over the maintained pieces: the oracle is the direct
# LEFT JOIN of the net states (right side = even custkeys minus the
# retracted %6 ones), the Spark side reads it from inner-view +
# anti-join null-extension (operators/ivm.left_view).
@register(
    "pipeline_ivm_left_join",
    oracle="""
WITH b AS (
  SELECT c_custkey AS custkey, c_name FROM customer
  WHERE c_custkey % 2 = 0 AND c_custkey % 6 <> 0
)
SELECT o.o_custkey AS custkey, o.o_orderkey, b.c_name
FROM orders o LEFT JOIN b ON o.o_custkey = b.custkey
WHERE o.o_orderkey <= 2500
ORDER BY o_orderkey
""",
    doc="LEFT-join IVM view: inner view + anti-join null-extension; retracted "
    "right rows flip their matches back to unmatched",
)
def pipeline_ivm_left_join(spark, sf_dir):
    from stonedb_spark.operators.ivm import delta_join_weighted, left_view

    t = load_tables(spark, sf_dir)
    orders = (
        t["orders"]
        .filter(F.col("o_orderkey") <= 2500)
        .select("o_orderkey", F.col("o_custkey").alias("custkey"))
    )
    cust = (
        t["customer"]
        .filter(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("custkey"), "c_name")
    )
    a_state = orders.withColumn("_w", F.lit(1))
    ins_b = cust.withColumn("_w", F.lit(1))
    del_b = cust.filter(F.col("custkey") % 6 == 0).withColumn("_w", F.lit(-1))
    b_state, view = None, None
    for db in (ins_b, del_b):
        nj = delta_join_weighted(a_state, b_state, None, db, "custkey")
        if nj is not None:
            view = nj if view is None else view.unionByName(nj)
        b_state = db if b_state is None else b_state.unionByName(db)
    return (
        left_view(a_state, view, "custkey", ["c_name"])
        .select("custkey", "o_orderkey", "c_name")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split: every exact-duplicate CLUSTER
# lands on one side — the split key is the hash of the cluster
# REPRESENTATIVE (min doc_id), not the row — so duplicated text can
# never straddle train and test (the contamination the plain row-hash
# split permits).  Two shuffles at any scale: groupBy(content hash)
# for the representative, then the key-join back; the near-dup version
# swaps md5 clusters for dedup_clusters output, same shape.
@register(
    "pipeline_leakage_safe_split",
    oracle="""
WITH c AS (
  SELECT doc_id, md5(text) AS cl FROM documents
), r AS (
  SELECT cl, MIN(doc_id) AS rep FROM c GROUP BY cl
), s AS (
  SELECT cl,
         CASE WHEN bucket < 8000 THEN 'train'
              WHEN bucket < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT cl,
           CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT)
             % 10000 AS bucket
    FROM r
  ) t
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT c.cl) AS BIGINT) AS n_clusters
FROM c JOIN s ON c.cl = s.cl
GROUP BY split
ORDER BY split
""",
    doc="dedup-aware split: cluster representative's hash decides the side, "
    "so duplicate text never straddles train/test",
)
def pipeline_leakage_safe_split(spark, sf_dir):
    from stonedb_spark.operators.sampling import split_assign

    d = load_tables(spark, sf_dir)["documents"]
    c = d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("cl"))
    reps = c.groupBy("cl").agg(F.min("doc_id").alias("rep"))
    s = reps.select("cl", split_assign("rep").alias("split"))
    return (
        c.join(s, "cl")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("cl").cast("long").alias("n_clusters"),
        )
        .orderBy("split")
    )
