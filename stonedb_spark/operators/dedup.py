"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (it has no text/dedup operators); these
are first-class engine components designed for 100 TB corpora:

* exact_dedup      — content-hash groupBy (one shuffle on the hash)
* jaccard_pairs    — n-gram (word-shingle) Jaccard via token-inverted
                     index self-join: |A∩B| from a shingle-key equi-join,
                     |A∪B| = |A|+|B|−|A∩B|.  NO cross join anywhere; the
                     shuffle key is the shingle, hot shingles are dropped
                     by a document-frequency cap (standard practice —
                     stop-shingles carry no dedup signal but quadratic
                     join cost).
* minhash_signatures / minhash_lsh_pairs
                   — MinHash (Broder 1997) with md5-string hashes (the
                     minimum is taken in lexicographic order, so any
                     engine computing md5 agrees bit-for-bit), banded LSH
                     (Leskovec/Rajaraman/Ullman, "Mining of Massive
                     Datasets" ch.3) to generate candidates with one
                     equi-join on band keys, then exact-Jaccard verify.
* simhash          — 32-bit SimHash (Charikar 2002) computed entirely in
                     Catalyst expressions from md5 hex nibbles.

Every operator is a pure DataFrame plan: shuffles only on
shingle/band/hash keys, aggregation is map-side-combinable, and the
only growth factor at 1000× data is the number of candidate pairs —
which LSH keeps near-linear.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stonedb_spark.functions.text import shingles
from stonedb_spark.reuse import materialize

# MinHash configuration shared with the DuckDB oracle SQL (pipeline.py).
N_HASHES = 12
BAND_ROWS = 3  # 4 bands × 3 rows

# Universal-hash family over a Mersenne-prime field: ONE md5 per shingle
# yields a 60-bit base integer; each of the 12 hash functions is a cheap
# modular permutation h_i = (a_i·base + b_i) mod P.  ~10× cheaper than 12
# md5 calls per shingle, and the signature/shuffle rows carry 12 longs
# instead of 12×32-char strings.  a_i·base < P² < 2^62 — no int64
# overflow, bit-identical on any engine (the DuckDB oracle inlines the
# same constants).
MERSENNE_P = (1 << 31) - 1
HASH_AB = [
    (
        (1103515245 * (i + 1) + 12345) % MERSENNE_P or 1,
        (214013 * (i + 1) + 2531011) % MERSENNE_P,
    )
    for i in range(N_HASHES)
]


def _spread(docs: DataFrame) -> DataFrame:
    """Ensure the corpus is at least core-count partitions wide before
    per-document heavy compute (shingle explode, hashing).

    A small corpus arrives as one parquet split → the whole shingle/
    minhash stage runs on ONE core (measured 2.5s single-task at sf0.1).
    At real scale input splits ≫ cores and this is a no-op; the
    repartition only fires when upstream parallelism is starved, and it
    shuffles raw docs — far cheaper than the 10-100× larger exploded
    shingle stream it unblocks.
    """
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= target:
        return docs
    return docs.repartition(target, "doc_id")


def _shingle_rows(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    # Materialize the token array as a projected column FIRST: if the
    # split expression is inlined into the shingle lambda, Catalyst
    # re-evaluates split(lower(text)) per element_at call → O(len²)
    # per document (measured 10× slowdown at sf0.1).
    w = _spread(docs).select(
        "doc_id", F.split(F.lower(F.col(text_col)), r"\s+").alias("w")
    )
    sh = F.transform(
        F.sequence(F.lit(1), F.size("w") - F.lit(k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("w"), i + F.lit(j)) for j in range(k)]
        ),
    )
    empty = F.array().cast("array<string>")
    return w.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.when(F.size("w") >= k, sh).otherwise(empty))
        ).alias("shingle"),
    )


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5(content) → (hash, n_dups, keeper id)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_dups") > 1)
    )


def _jaccard_from_shingles(sh: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, shingle) rows → (d1, d2, jaccard) pairs above threshold.

    |A∩B| from the shingle-key equi-join, |A∪B| = |A|+|B|−|A∩B|.

    ``sh`` is referenced three times (sizes + both join sides);
    materialize it so the upstream shingle explode runs once.  The
    stream is linear in corpus size (~10-100× doc count); one spilled
    copy beats three recomputes of the explode + the scans feeding it.

    ``sizes`` is materialized too: the two size joins (d1 and d2)
    otherwise each re-aggregate the whole stream — ReuseExchange does
    not fold the two identical HashAggregate+Exchange subtrees."""
    sh = materialize(sh)
    sizes = materialize(sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")))
    a = sh.select(F.col("doc_id").alias("d1"), "shingle")
    b = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn(
            "jaccard",
            F.col("i").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("i")).cast("double"),
        )
        .filter(F.col("jaccard") > threshold)
        .select("d1", "d2", "jaccard")
    )


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """All doc pairs with shingle-Jaccard > threshold.

    max_df drops shingles present in more than that many docs (document
    frequency cap): they explode the inverted-index join quadratically
    while contributing no discriminative signal.

    The cap is a COUNT() window over the stream partitioned by
    shingle — the window's required hashpartitioning(shingle) is the
    stream's only exchange — instead of a second full shingle explode
    feeding a groupBy(shingle) aggregate, then an equi-join of the two
    streams (2 explodes + 3 exchanges).  Identical semantics: the window counts
    exactly what the aggregate counted, and rows with count > max_df
    are dropped either way.  Skew note: a hot stop-shingle lands in one
    window group, but it did the same on the join/aggregate path; the
    window buffer spills (UnsafeExternalSorter), and the cap then drops
    the group before the quadratic self-join — measured at sf0.1:
    0.92 s → 0.73 s for the capped stream (noop sink, min-of-5
    interleaved)."""
    sh = _shingle_rows(docs, text_col, k)
    w = Window.partitionBy("shingle")
    capped = (
        sh.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    return _jaccard_from_shingles(capped, threshold)


def _minhash_col(seed: int) -> Column:
    a, b = HASH_AB[seed]
    return F.min((F.lit(a) * F.col("base") + F.lit(b)) % F.lit(MERSENNE_P)).alias(
        f"h{seed}"
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """(doc_id, h0..h{N-1}): integer MinHash signature per document."""
    sh = _shingle_rows(docs, text_col, k)
    based = sh.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
            % F.lit(MERSENNE_P)
        ).alias("base"),
    )
    return based.groupBy("doc_id").agg(*[_minhash_col(i) for i in range(N_HASHES)])


def band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) — the band's row hashes joined as a key."""
    bands = []
    for b in range(N_HASHES // BAND_ROWS):
        cols = [F.col(f"h{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("|", *cols).alias("band_key"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs from banded LSH, verified with exact Jaccard.

    The verification join re-uses the inverted-index intersection but
    only over LSH candidates (left-semi pushdown), so the quadratic
    verify cost is bounded by the candidate count, not n².
    """
    # Materialize both plan-reused intermediates, sized to stay linear:
    # sig is n_docs × 12 longs, cand is the (by-construction small) LSH
    # candidate pair set.  Without this, Catalyst recomputes the full
    # shingle→hash→aggregate pipeline once PER REFERENCE — the self-join
    # plus the two cand consumers made the un-reused plan ~12× slower
    # at sf0.1, and the multiplier is constant in data size so the same
    # waste ships to the 100 TB run.
    sig = materialize(minhash_signatures(docs, text_col, k))
    bk = band_keys(sig)
    cand = materialize(
        bk.alias("x")
        .join(bk.alias("y"), ["band", "band_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    # Verify ONLY over docs that appear in some candidate pair: the
    # left-semi prune bounds the quadratic intersection join by the LSH
    # candidate count, not n² — this is what makes the operator
    # near-linear at corpus scale.
    cand_ids = (
        cand.select(F.col("d1").alias("doc_id"))
        .union(cand.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    sh_cand = _shingle_rows(docs, text_col, k).join(
        F.broadcast(cand_ids), "doc_id", "left_semi"
    )
    verified = _jaccard_from_shingles(sh_cand, threshold)
    return cand.join(verified, ["d1", "d2"]).select("d1", "d2", "jaccard")


def simhash32(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — 32-bit SimHash over distinct tokens as a
    '0'/'1' string (bit 0 first).  Uses the first 8 hex nibbles of
    md5(token); per-bit vote = +1/−1, fingerprint bit = (vote sum > 0).
    """
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
        ).alias("tok"),
    )
    hexv = "0123456789abcdef"
    votes = []
    for j in range(32):
        nib, bit = j // 4, j % 4
        d = F.instr(F.lit(hexv), F.substring(F.md5(F.col("tok")), nib + 1, 1)) - 1
        is_set = d.bitwiseAND(F.lit(1 << bit)) != 0
        votes.append(F.sum(F.when(is_set, 1).otherwise(-1)).alias(f"v{j}"))
    per_doc = toks.groupBy("doc_id").agg(*votes)
    bits = [F.when(F.col(f"v{j}") > 0, "1").otherwise("0") for j in range(32)]
    return per_doc.select("doc_id", F.concat(*bits).alias("simhash"))


def connected_components(
    pairs: DataFrame,
    left: str = "d1",
    right: str = "d2",
    max_iter: int = 25,
    check_every: int = 1,
) -> DataFrame:
    """Duplicate-cluster labels from near-dup pairs: (node, comp) where
    comp is the minimum doc_id reachable through the pair graph.

    Min-label propagation: each round every node takes the minimum of
    its own label and its neighbors' labels — one equi-join + one
    map-side-combinable min aggregation per round, both shuffling on
    node id only (never materializing paths).  Rounds needed = graph
    diameter; near-dup clusters are near-cliques (diameter ≲ 3), so
    this converges in a handful of rounds.  For adversarial
    long-chain graphs the large-star/small-star variant (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14)
    halves diameter per round; the propagation loop below is the
    simpler plan with identical output.

    Each round ends with ``materialize`` — an iterative DataFrame loop
    otherwise accretes one join per round into a plan Catalyst
    re-optimizes (and re-executes) from scratch.  The convergence test
    is an exact DECIMAL(38,0) label-sum aggregate over the frame each
    round materializes anyway (see ``_label_sum`` below).

    Round 1 is FOLDED into initialization: on identity labels the
    first propagation is exactly ``least(src, min(dst))`` per source —
    one map-side-combinable aggregation straight off the edge list,
    replacing the distinct-nodes pass AND the first join round (every
    node appears as ``src`` in the symmetrized edge list, so coverage
    is identical).  Near-clique graphs (the near-dup case) then
    converge after ONE confirming round: measured 2.81 s vs 4.27 s for
    the identity-init form on dedup_clusters at sf0.1 (interleaved
    min-of-4, OPTIMIZATION_r12.md).
    """
    # Symmetrize with ONE explode per pair row, not union(e, swap(e)):
    # the union duplicates the whole upstream pair-generation subtree
    # (for dedup_clusters that is the quadratic jaccard self-join), so
    # materializing the edge list would execute it twice.
    e = pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
    edges = materialize(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
    )
    labels = materialize(
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("comp"))
        .select(F.col("src").alias("node"), "comp")
    )

    def one_round(lbl):
        nbr_min = (
            edges.join(
                lbl.select(
                    F.col("node").alias("dst"), F.col("comp").alias("nbr_comp")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nbr_comp").alias("nbr_comp"))
        )
        return lbl.join(nbr_min, lbl["node"] == nbr_min["src"], "left").select(
            lbl["node"],
            F.least(
                lbl["comp"], F.coalesce(F.col("nbr_comp"), lbl["comp"])
            ).alias("comp"),
        )

    # Rounds run in BATCHES of `check_every` between convergence
    # checks; labels are monotone non-increasing, so "unchanged across
    # a batch" ⇒ converged at the batch's first round.  Default 1:
    # an interleaved min-of-4 A/B at sf0.1 measured check_every=1 at
    # 3.3 s vs 4.7 s for 3 — the extra lazy rounds a batch runs past
    # convergence cost more than the saved action round-trips on
    # near-clique graphs (diameter ≲ 2).  Raise it for long-chain
    # graphs where rounds ≫ and per-action latency dominates.
    #
    # Convergence test: labels are elementwise monotone NON-INCREASING,
    # so the label SUM is strictly decreasing until the fixed point —
    # "sum unchanged" ⇔ "no label changed".  One map-side-combinable
    # aggregate on the frame each round materializes anyway, with no
    # self-join of old vs new labels (an extra shuffle join per round).
    # DECIMAL(38,0) keeps the sum exact at any node-id magnitude/count.
    def _label_sum(lbl) -> int:
        row = lbl.agg(
            F.coalesce(
                F.sum(F.col("comp").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s")
        ).collect()
        return int(row[0]["s"])

    prev_sum = _label_sum(labels)
    done = 1  # the folded initialization IS round 1
    while done < max_iter:
        steps = min(check_every, max_iter - done)
        new_labels = labels
        for _ in range(steps):
            new_labels = materialize(one_round(new_labels))
        done += steps
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def dedup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Full near-dup clustering: Jaccard pairs → connected components →
    per-cluster size + canonical keeper (minimum doc_id), the verdict a
    training pipeline actually consumes (keep one doc per cluster)."""
    from pyspark.sql import Window

    pairs = jaccard_pairs(docs, text_col, k, threshold, max_df)
    cc = connected_components(pairs)
    w = Window.partitionBy("comp")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("is_keeper"),
    )


def connected_components_star(
    pairs: DataFrame,
    left: str = "d1",
    right: str = "d2",
    max_iter: int = 30,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the scale path for graphs whose diameter is NOT small: each round
    at least halves tree heights, so convergence is O(log n) rounds
    regardless of chain length, where plain min-label propagation
    (``connected_components``) needs diameter rounds.

    large-star: every node points its LARGER neighbors at the minimum
    of its closed neighborhood; small-star: its smaller-or-equal
    neighbors likewise.  Both are one groupBy-min + one join per round
    (shuffle on node id).  Stable edge set = star forest: every node
    holds an edge to its component's minimum id.

    Same output contract as connected_components: (node, comp).
    """
    e = materialize(
        pairs.select(
            F.least(F.col(left), F.col(right)).alias("a"),
            F.greatest(F.col(left), F.col(right)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        eager=True,
    )

    def _bidirect(edges):
        return edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    for _ in range(max_iter):
        bid = _bidirect(e)
        # large-star: (v, m) for v > u, m = min(N(u) ∪ {u})
        mins = bid.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        large = (
            _bidirect(e)
            .join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.least("v", "m").alias("a"), F.greatest("v", "m").alias("b"))
        )
        # small-star over directed edges v <= u: (v, m) plus (u, m)
        small_dir = bid.filter(F.col("v") <= F.col("u"))
        smins = small_dir.groupBy("u").agg(F.min("v").alias("mn"))
        smins = smins.select("u", F.least("mn", F.col("u")).alias("m"))
        sd = small_dir.join(smins, "u")
        small = (
            sd.select(F.col("v").alias("x"), F.col("m"))
            .union(sd.select(F.col("u").alias("x"), F.col("m")))
            .filter(F.col("x") != F.col("m"))
            .select(F.least("x", "m").alias("a"), F.greatest("x", "m").alias("b"))
        )
        new_e = materialize(large.union(small).distinct(), eager=True)
        changed = (
            new_e.exceptAll(e).limit(1).count() + e.exceptAll(new_e).limit(1).count()
        )
        e = new_e
        if changed == 0:
            break
    # stable star forest: b's component is a; roots map to themselves
    nodes = _bidirect(e).select(F.col("u").alias("node")).distinct()
    roots = e.groupBy(F.col("b").alias("node")).agg(F.min("a").alias("comp"))
    return nodes.join(roots, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )


# ---------------------------------------------------------------------------
def contamination_report(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    ≥ ``min_overlap`` distinct k-word shingles with a held-out eval set
    (the published GPT-3/PaLM-appendix practice of n-gram-overlap
    filtering of pretraining data against benchmark text).

    Scale shape: the eval side is a BENCHMARK corpus — megabytes, not
    terabytes — so its distinct shingle set is bounded and broadcast.
    The training side is one map-only explode + broadcast-hash-join +
    per-doc count: no shuffle of corpus text, no all-pairs comparison,
    linear in corpus size at any scale factor.

    Returns (id_col, n_overlap, contaminated) for every training doc.
    """
    ev = (
        eval_docs.select(F.explode(shingles(F.col(text_col), k)).alias("shingle"))
        .distinct()
    )
    tr_sh = train.select(
        id_col, F.explode(shingles(F.col(text_col), k)).alias("shingle")
    )
    hits = (
        tr_sh.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


class CorpusLSHIndex:
    """The build-once artifact for incremental dedup: the corpus's
    banded MinHash keys plus its shingle rows, both materialized so
    every subsequent batch probe is join-only work.
    In a deployment both frames are tables partitioned by band_key /
    bucketed by doc_id; here they are ``materialize``d, so dropping the
    index object releases them."""

    def __init__(self, bands: DataFrame, shingles: DataFrame, k: int):
        self.bands = bands  # (band, band_key, corpus_id)
        self.shingles = shingles  # (doc_id, shingle)
        self.k = k


def build_lsh_index(
    corpus: DataFrame, text_col: str = "text", k: int = 3
) -> CorpusLSHIndex:
    """Build the corpus LSH index ONCE (signatures → band keys, plus
    the shingle rows the Jaccard verifier needs).  Cost is one pass
    over the corpus; every later probe touches only (batch × matched
    candidates) of it via equi-/semi-joins."""
    bands = materialize(
        band_keys(minhash_signatures(corpus, text_col, k))
        .select("band", "band_key", F.col("doc_id").alias("corpus_id"))
    )
    shingles = materialize(_shingle_rows(corpus, text_col, k))
    bands.count()
    shingles.count()
    return CorpusLSHIndex(bands, shingles, k)


def probe_lsh_index(
    index: CorpusLSHIndex,
    batch: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Verdict a batch against a prebuilt corpus index.  All work is
    batch-sized: batch signatures/shingles are computed fresh; the
    corpus side is only touched through the materialized index frames
    (band-key equi-join, then candidate-bounded semi-join on shingles).
    """
    k = index.k
    sig_b = materialize(minhash_signatures(batch, text_col, k))
    bk_b = band_keys(sig_b).select(
        "band", "band_key", F.col("doc_id").alias("batch_id")
    )
    cand = materialize(
        bk_b.join(index.bands, ["band", "band_key"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    cand_corpus = cand.select(F.col("corpus_id").alias("doc_id")).distinct()
    cand_batch = cand.select(F.col("batch_id").alias("doc_id")).distinct()
    sh = index.shingles.join(
        F.broadcast(cand_corpus), "doc_id", "left_semi"
    ).unionByName(
        _shingle_rows(batch, text_col, k).join(
            F.broadcast(cand_batch), "doc_id", "left_semi"
        )
    )
    ver = _jaccard_from_shingles(sh, threshold)
    # candidate pairs ordered (d1 < d2) to meet the verifier's contract
    ordered = cand.select(
        F.least("batch_id", "corpus_id").alias("d1"),
        F.greatest("batch_id", "corpus_id").alias("d2"),
        "batch_id",
        "corpus_id",
    )
    hits = ordered.join(ver, ["d1", "d2"]).select(
        "batch_id", "corpus_id", "jaccard"
    )
    # argmax per batch doc as a map-side-combinable aggregate:
    # max(struct(jaccard, -corpus_id)) == the old ROW_NUMBER() OVER
    # (ORDER BY jaccard DESC, corpus_id ASC) rn=1, without the window's
    # extra sort (guide §2.3 "aggregate before you shuffle").
    best = (
        hits.groupBy("batch_id")
        .agg(
            F.max(
                F.struct(
                    F.col("jaccard").alias("j"),
                    (-F.col("corpus_id")).alias("nid"),
                )
            ).alias("m")
        )
        .select(
            "batch_id",
            (-F.col("m.nid")).alias("best_match"),
            F.round(F.col("m.j"), 9).alias("best_jaccard"),
        )
    )
    return (
        batch.select(F.col("doc_id").alias("batch_id"))
        .join(best, "batch_id", "left")
        .select(
            "batch_id",
            F.when(F.col("best_match").isNotNull(), 1)
            .otherwise(0)
            .alias("is_dup"),
            "best_match",
            "best_jaccard",
        )
    )


def incremental_lsh_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    index: CorpusLSHIndex | None = None,
) -> DataFrame:
    """Dedupe an INCREMENTAL batch against an existing corpus — the
    production shape: the corpus LSH index (minhash band keys) is built
    once (in a deployment: persisted as a table, partitioned by
    band_key), and each new batch probes it with an equi-join, so probe
    cost scales with the BATCH, never the corpus.  Candidates verify
    with exact Jaccard bounded by the candidate count (same discipline
    as minhash_lsh_pairs).

    Pass a prebuilt ``index`` (build_lsh_index) when verdicting many
    batches against the same frozen corpus — e.g. the streaming fold in
    streaming/dedup.py — so the corpus-sized work runs exactly once.

    Returns one row per batch doc: (batch_id, is_dup, best_match,
    best_jaccard) — is_dup=1 iff some corpus doc clears ``threshold``;
    best_match/best_jaccard identify the strongest collision (NULL for
    clean docs).  Requires doc_ids disjoint across the two frames.
    """
    if index is None:
        index = build_lsh_index(corpus, text_col, k)
    return probe_lsh_index(index, batch, text_col, threshold)
