"""Charset/collation semantics (different_charsets_a.test / _b.test).

The portable collation-key path is oracle-checked by
pred_collation_battery / agg_collation_group / pred_charset_matrix;
here we check that the four collation classes stay apart.
"""

from __future__ import annotations


def test_charset_matrix_classes_diverge(spark, sf_dir):
    """The four collation classes must produce strictly tightening
    group counts over the variant set: utf8_ci folds the most (case +
    accents + pad), latin1_ci keeps accents distinct, _bin keeps case,
    BINARY keeps trailing pads too."""
    from stonedb_spark.queries import all_queries

    rows = {
        r["coll"]: r.asDict()
        for r in all_queries()["pred_charset_matrix"].build(spark, sf_dir).collect()
    }
    n = {k: v["n_groups"] for k, v in rows.items()}
    assert n["utf8mb4_general_ci"] < n["latin1_general_ci"] < n["utf8mb4_bin"] < n["binary"]
    # PAD SPACE: bin folds the trailing-pad spelling, BINARY does not
    assert rows["binary"]["eq_pairs"] < rows["utf8mb4_bin"]["eq_pairs"]
