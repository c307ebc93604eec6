"""Semantic invariants for the quality/governance queries — properties
the oracle hash can't express (funnel conservation, MERGE row
accounting, rerank containment in the exact ranking).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_imgprocessing_spark.core.catalog import table
from bigdata_imgprocessing_spark.queries import QUERIES


def test_filter_funnel_conserves_rows(spark, sf_dir):
    rows = {r["stage"]: r for r in QUERIES["filter_funnel_stats"](spark, sf_dir).collect()}
    n_docs = table(spark, sf_dir, "documents").count()
    assert rows[1]["n_in"] == n_docs
    for s in (1, 2, 3):
        assert rows[s]["n_out"] == rows[s]["n_in"] - rows[s]["n_rejected"]
        assert 0 <= rows[s]["n_rejected"] <= rows[s]["n_in"]
    assert rows[2]["n_in"] == rows[1]["n_out"]
    assert rows[3]["n_in"] == rows[2]["n_out"]


def test_merge_into_accounts_every_target_row(spark, sf_dir):
    out = QUERIES["merge_into_orders"](spark, sf_dir).collect()
    o = table(spark, sf_dir, "orders")
    n_target = o.count()
    by_action: dict[str, int] = {}
    for r in out:
        by_action[r["action"]] = by_action.get(r["action"], 0) + r["n_rows"]
    # keep + update + delete partition the target exactly
    assert by_action["keep"] + by_action["update"] + by_action["delete"] == n_target
    assert by_action["insert"] == o.where(F.col("o_orderkey") % 11 == 5).count()
    # delete wins on update/delete overlap: updates never include %13==3 keys
    n_del_expected = o.where(F.col("o_orderkey") % 13 == 3).count()
    assert by_action["delete"] == n_del_expected


def test_mad_outliers_bounded(spark, sf_dir):
    for r in QUERIES["mad_event_outliers"](spark, sf_dir).collect():
        assert r["mad"] >= 0.0
        # MAD flags a minority by construction (threshold ≈ 4.45 scaled MADs)
        assert 0 <= r["n_outliers"] < r["n_events"] / 2


def test_unigram_flag_rate_is_quartile(spark, sf_dir):
    rows = QUERIES["unigram_logprob_filter"](spark, sf_dir).collect()
    n = sum(r["n_docs"] for r in rows)
    flagged = sum(r["n_flagged"] for r in rows)
    # strict > the 75th percentile flags at most 25% (ties fall below)
    assert flagged <= n * 0.25 + 1
    assert flagged >= n * 0.10  # and the tail is not degenerate


def test_mixture_drift_kl_nonnegative(spark, sf_dir):
    rows = QUERIES["source_mixture_drift"](spark, sf_dir).collect()
    assert abs(sum(r["p_a"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["p_b"] for r in rows) - 1.0) < 1e-3
    assert sum(r["kl_term"] for r in rows) >= -1e-8  # KL(A‖B) ≥ 0


def test_rerank_topk_contained_in_candidates_and_sorted(spark, sf_dir):
    out = QUERIES["ann_rerank_topk"](spark, sf_dir).collect()
    per_q: dict[int, list] = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {0, 1, 2}
    for q, rows in per_q.items():
        rows.sort(key=lambda r: r["rn"])
        assert [r["rn"] for r in rows] == [1, 2, 3, 4, 5]
        sims = [r["cos_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["vec_id"] != q for r in rows)


def test_dup_ngram_coverage_fraction_bounded(spark, sf_dir):
    rows = QUERIES["dup_ngram_coverage"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["sum_dup_frac"] <= r["n_docs"]
        assert 0 <= r["n_docs_with_dup"] <= r["n_docs"]
    # synthetic corpus repeats vocabulary heavily — some dup must exist
    assert sum(r["n_docs_with_dup"] for r in rows) > 0


def test_sliding_distinct_users_dominates_daily(spark, sf_dir):
    from bigdata_imgprocessing_spark.core.session import ensure_utc

    ensure_utc(spark)
    sliding = {
        r["day"]: r["n_users"]
        for r in QUERIES["sliding_distinct_users"](spark, sf_dir).collect()
    }
    e = table(spark, sf_dir, "events")
    daily = {
        r["day"]: r["n"]
        for r in e.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .distinct()
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total_users = e.select("user_id").distinct().count()
    assert set(daily) == set(sliding)
    for day, n in sliding.items():
        # a 7-day window can only add users over its last day
        assert n >= daily[day]
        assert n <= total_users


def test_cohort_retention_day0_is_full(spark, sf_dir):
    rows = QUERIES["cohort_retention"](spark, sf_dir).collect()
    assert rows
    by_cohort: dict[str, dict[int, float]] = {}
    for r in rows:
        assert 0.0 < r["retention"] <= 1.0
        by_cohort.setdefault(r["cohort_day"], {})[r["offset_d"]] = r["retention"]
    for day, offs in by_cohort.items():
        assert offs[0] == 1.0  # everyone is active on their first day


def test_split_leakage_pairs_partition_lsh_pairs(spark, sf_dir):
    audit = QUERIES["split_leakage_audit"](spark, sf_dir).collect()
    n_pairs_total = QUERIES["minhash_lsh_pairs"](spark, sf_dir).count()
    assert sum(r["n_pairs"] for r in audit) == n_pairs_total
    for r in audit:
        assert r["split_lo"] in {"train", "val", "test"}
        assert r["split_hi"] in {"train", "val", "test"}
        assert r["split_lo"] <= r["split_hi"]


def test_epoch_shuffle_order_deterministic_partition(spark, sf_dir):
    a = sorted(map(tuple, QUERIES["epoch_shuffle_order"](spark, sf_dir).collect()))
    b = sorted(map(tuple, QUERIES["epoch_shuffle_order"](spark, sf_dir).collect()))
    assert a == b  # byte-identical permutation on re-run
    assert [r[0] for r in a] == list(range(8))
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r[1] for r in a) == n_docs
    for r in a:
        assert len(r[2].split(",")) == min(3, r[1])


def test_dup_ngram_coverage_matches_python_bruteforce(spark, sf_dir):
    """Independent reference: the oracle runs the SAME islands
    algorithm in DuckDB, so a shared algorithmic bug would pass
    parity. This recomputes coverage from raw text in pure Python
    (set-of-covered-positions, no interval logic at all) and compares
    the per-lang aggregates exactly."""
    import collections

    import duckdb

    docs = duckdb.connect().execute(
        f"SELECT doc_id, lang, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    gram_docs: dict[tuple, set] = collections.defaultdict(set)
    words = {}
    for doc_id, lang, text in docs:
        w = text.split(" ")
        words[doc_id] = (lang, w)
        for i in range(len(w) - 4):
            gram_docs[tuple(w[i : i + 5])].add(doc_id)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    per_lang = collections.defaultdict(list)
    for doc_id, (lang, w) in words.items():
        covered: set[int] = set()
        for i in range(len(w) - 4):
            if tuple(w[i : i + 5]) in dup:
                covered.update(range(i, i + 5))
        per_lang[lang].append(len(covered) / len(w))
    rows = {r["lang"]: r for r in QUERIES["dup_ngram_coverage"](spark, sf_dir).collect()}
    assert set(rows) == set(per_lang)
    for lang, fracs in per_lang.items():
        assert rows[lang]["n_docs"] == len(fracs)
        assert rows[lang]["n_docs_with_dup"] == sum(1 for f in fracs if f > 0)
        assert abs(
            rows[lang]["sum_dup_frac"] - sum(round(f, 6) for f in fracs)
        ) <= 1e-5


def test_sliding_sketch_tracks_exact(spark, sf_dir):
    rows = QUERIES["sliding_users_sketch"](spark, sf_dir).collect()
    exact = {
        r["day"]: r["n_users"]
        for r in QUERIES["sliding_distinct_users"](spark, sf_dir).collect()
    }
    assert {r["day"] for r in rows} == set(exact)
    for r in rows:
        assert r["within_tol"] is True
        assert r["n_exact"] == exact[r["day"]]


def test_corpus_diff_partitions_both_versions(spark, sf_dir):
    rows = QUERIES["corpus_diff_stats"](spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    by_status: dict[str, int] = {}
    for r in rows:
        by_status[r["status"]] = by_status.get(r["status"], 0) + r["n_docs"]
    # v1 rows partition into removed/changed/unchanged; added is v2-only
    assert (
        by_status["removed"] + by_status["changed"] + by_status["unchanged"]
        == n_docs
    )
    assert by_status["added"] > 0 and by_status["changed"] > 0


def test_streaming_sketch_builds_multibatch_state(spark, sf_dir):
    rows = QUERIES["streaming_sketch_rollup"](spark, sf_dir).collect()
    from bigdata_imgprocessing_spark.core.fs import store_root
    from bigdata_imgprocessing_spark.streaming.ingest import batch_dirs

    # cross-batch merge must actually have been exercised
    state = store_root(spark, sf_dir, "bdip_skst3") + "/state"
    assert len(batch_dirs(spark, state, "sketch")) > 1
    assert all(r["within_tol"] for r in rows)
    # stream ≡ batch: exact counts agree with the batch twin
    batch = {
        r["day"]: r["n_exact"]
        for r in QUERIES["sliding_users_sketch"](spark, sf_dir).collect()
    }
    assert {r["day"]: r["n_exact"] for r in rows} == batch


def test_hard_negatives_exclude_anchor_label(spark, sf_dir):
    rows = QUERIES["hard_negative_mining"](spark, sf_dir).collect()
    e = {
        r["vec_id"]: r["label"]
        for r in table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    for r in rows:
        assert r["neg_label"] == e[r["vec_id"]]
        assert r["neg_label"] != e[r["query_id"]]
        assert 1 <= r["rn"] <= 5


def test_bloom_prefilter_guarantees(spark, sf_dir):
    rows = QUERIES["bloom_prefilter_stats"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["no_false_negatives"] is True
        assert r["fp_rate_within_bound"] is True
    # falsifiability: the member cohort must be a PROPER subset, else
    # the fp gate is vacuous (zero non-member rows to misclassify)
    assert sum(r["n_events"] for r in rows) > sum(
        r["n_member_exact"] for r in rows
    )


def test_ab_test_consistent_counts(spark, sf_dir):
    r = QUERIES["ab_test_zscore"](spark, sf_dir).collect()
    assert len(r) == 1
    row = r[0]
    n_users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert row["n_a"] + row["n_b"] == n_users
    assert 0 <= row["c_a"] <= row["n_a"] and 0 <= row["c_b"] <= row["n_b"]
    assert isinstance(row["significant_95"], bool)


def test_triangle_census_bounds(spark, sf_dir):
    r = QUERIES["neardup_triangle_stats"](spark, sf_dir).collect()[0]
    assert r["n_triangles"] <= r["n_wedges"]
    assert 0.0 <= r["wedge_closure"] <= 1.0
    # every triangle needs at least 3 edges
    if r["n_triangles"] > 0:
        assert r["n_edges"] >= 3


def test_ndcg_bounded_and_consistent(spark, sf_dir):
    r = QUERIES["bm25_ndcg_eval"](spark, sf_dir).collect()[0]
    assert r["n_retrieved"] == 10
    assert 0.0 < r["ndcg"] <= 1.0
    assert r["dcg"] <= r["idcg"]


def test_calibration_bins_partition_corpus(spark, sf_dir):
    rows = QUERIES["score_calibration_bins"](spark, sf_dir).collect()
    n_vec = table(spark, sf_dir, "embeddings").count()
    assert sum(r["n"] for r in rows) == n_vec
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0 <= r["n_pos"] <= r["n"]
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert 0.0 <= r["gap"] <= 1.0


def test_gopher_rules_are_non_degenerate(spark, sf_dir):
    """Every rule must have BOTH passes and failures somewhere in the
    corpus — a rule that never fires (or always fires) would make the
    driver hash trivially green while testing nothing. Pins the
    threshold tuning against corpus regeneration."""
    rows = QUERIES["gopher_quality_rules"](spark, sf_dir).collect()
    n_docs = sum(r["n_docs"] for r in rows)
    tot_pass = sum(r["n_pass_all"] for r in rows)
    assert 0 < tot_pass < n_docs
    for rule in ("n_fail_words", "n_fail_wordlen", "n_fail_stopword",
                 "n_fail_repetition"):
        fails = sum(r[rule] for r in rows)
        assert 0 < fails < n_docs, f"{rule} degenerate: {fails}/{n_docs}"
    for r in rows:
        assert 0.0 < r["avg_top_word_frac"] < 1.0


def test_stats_pipeline_letter_key_groups_several_names(spark, sf_dir):
    """The first-letter key of ``stats_pipeline_e2e`` must split the
    images into several groups, or its oracle check cannot tell a wrong
    key from a right one. Region initials give A (AFRICA, AMERICA and
    ASIA collapse into it), E and M."""
    rows = QUERIES["stats_pipeline_e2e"](spark, sf_dir).collect()
    assert len(rows) >= 2
    assert {r["letter"] for r in rows} == {"A", "E", "M"}
    assert sum(r["files"] for r in rows) == 200


def test_psi_terms_bounded_and_nonzero(spark, sf_dir):
    """PSI terms are each >= 0 ((p-q)ln(p/q) is nonnegative), the bins
    partition the corpus, and SOME bin must show nonzero drift between
    the even/odd releases (identical distributions would make the
    monitor vacuous)."""
    rows = QUERIES["psi_release_drift"](spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r["n_a"] + r["n_b"] for r in rows) == n_docs
    assert all(r["psi_term"] >= 0.0 for r in rows)
    assert sum(r["psi_term"] for r in rows) > 0.0
    assert {r["bin"] for r in rows} <= set(range(6))


def test_sorted_neighbor_lcp_fixture(spark, tmp_path):
    """Pinned corpus for the sorted-neighborhood LCP scan: an exact
    dup pair, a full-prefix (truncation) pair, a one-word-overlap
    pair, and a singleton block. Sorted within the 'a' block the
    neighbor pairs are (dup, dup) lcp=3 exact and (dup, longer)
    lcp=3 full-prefix; the 'b' block contributes one lcp=1 pair; the
    singleton contributes nothing."""
    import duckdb

    from bigdata_imgprocessing_spark.queries import QUERIES

    texts = [
        "a b c",
        "a b c",
        "a b c d e f",
        "b x y",
        "b z w",
        "c only",
    ]
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
            SELECT CAST(i AS BIGINT) AS doc_id, t.t AS text, 'en' AS lang,
                   'src0' AS source, CAST(len(t.t) AS BIGINT) AS n_chars
            FROM (SELECT unnest({texts!r}) AS t,
                         unnest(range({len(texts)})) AS i) t
        ) TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)
        """
    )
    rows = {
        r.lcp_bucket: (r.n_pairs, r.n_full_prefix, r.n_exact_dup)
        for r in QUERIES["sorted_neighbor_lcp"](spark, str(tmp_path)).collect()
    }
    assert rows == {"3": (2, 2, 1), "1": (1, 0, 0)}


def test_lsh_pairs_store_matches_fresh(spark, sf_dir):
    """The materialized pair-graph store must be row-identical to the
    fresh pipeline (md5-derived determinism), must not recompute on a
    second call (same fingerprint -> same files), and must key on the
    corpus fingerprint so a regenerated corpus cannot read stale
    pairs."""
    import os

    from bigdata_imgprocessing_spark.queries.dedup import (
        _lsh_pairs_store,
        _lsh_verified_pairs,
    )
    from bigdata_imgprocessing_spark.core.fs import store_root

    fresh = sorted(
        tuple(r) for r in _lsh_verified_pairs(spark, sf_dir).collect()
    )
    stored = sorted(tuple(r) for r in _lsh_pairs_store(spark, sf_dir).collect())
    assert stored == fresh and len(fresh) > 0
    # second call reads the same materialization (no rewrite): _SUCCESS
    # mtime unchanged
    marker = store_root(spark, sf_dir, "bdip_pairs_pairs-v5") + "/_SUCCESS"
    m0 = os.stat(marker).st_mtime_ns
    again = sorted(tuple(r) for r in _lsh_pairs_store(spark, sf_dir).collect())
    assert again == fresh
    assert os.stat(marker).st_mtime_ns == m0


def test_ngram_postings_store_matches_fresh(spark, sf_dir):
    """The materialized posting-list store must be row-identical to the
    fresh pipeline (sort_array-pinned list order) and key on the corpus
    fingerprint so a regenerated corpus cannot read stale postings."""
    import os

    from bigdata_imgprocessing_spark.queries.dedup import (
        _ngram_posting_lists,
        _ngram_postings_store,
    )
    from bigdata_imgprocessing_spark.core.fs import store_root

    fresh = sorted(
        (r.s, tuple(r.ds))
        for r in _ngram_posting_lists(spark, sf_dir).collect()
    )
    stored = sorted(
        (r.s, tuple(r.ds)) for r in _ngram_postings_store(spark, sf_dir).collect()
    )
    assert stored == fresh and len(fresh) > 0
    marker = store_root(spark, sf_dir, "bdip_postings_postings-v4") + "/_SUCCESS"
    m0 = os.stat(marker).st_mtime_ns
    again = sorted(
        (r.s, tuple(r.ds)) for r in _ngram_postings_store(spark, sf_dir).collect()
    )
    assert again == fresh
    assert os.stat(marker).st_mtime_ns == m0  # no rewrite on re-read


def test_wordgram_store_matches_fresh(spark, sf_dir):
    """Word-gram store: row-identical to the fresh extraction,
    fingerprint-keyed, no rewrite on a second read."""
    import os

    from bigdata_imgprocessing_spark.queries.dedup import (
        _wordgram_occurrences,
        _wordgram_store,
    )
    from bigdata_imgprocessing_spark.core.fs import store_root

    fresh = sorted(
        tuple(r) for r in _wordgram_occurrences(spark, sf_dir).collect()
    )
    stored = sorted(tuple(r) for r in _wordgram_store(spark, sf_dir).collect())
    assert stored == fresh and len(fresh) > 0
    marker = store_root(spark, sf_dir, "bdip_wordgrams_wordgrams-v4") + "/_SUCCESS"
    m0 = os.stat(marker).st_mtime_ns
    again = sorted(tuple(r) for r in _wordgram_store(spark, sf_dir).collect())
    assert again == fresh
    assert os.stat(marker).st_mtime_ns == m0


# ---------------------------------------------------------------------------
# Planted-ground-truth checks for the round-11 statistics queries: the
# oracle gate proves cross-engine agreement; these prove the STATISTIC
# itself is right on inputs whose answer is known in closed form.
# ---------------------------------------------------------------------------


def _doubled_rank_auc(scores, labels):
    """Brute-force probabilistic AUC: P(s_pos > s_neg) + 0.5 P(=)."""
    pos = [s for s, y in zip(scores, labels) if y]
    neg = [s for s, y in zip(scores, labels) if not y]
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    return wins / (len(pos) * len(neg))


def test_roc_auc_rank_sum_identity_matches_bruteforce(spark):
    """The doubled-rank AUC formula used by roc_auc_eval equals the
    pairwise definition, including half-credit ties, on a small planted
    set — plus the separable / inverted / all-tied closed forms."""
    import itertools

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def auc_via_query_formula(scores, labels):
        df = spark.createDataFrame(
            list(zip(scores, [int(x) for x in labels])), "score DOUBLE, pos INT"
        )
        r = df.select(
            "pos",
            (
                2 * F.rank().over(Window.orderBy("score"))
                + F.count("*").over(Window.partitionBy("score"))
                - 1
            ).alias("dr"),
        )
        a = r.agg(
            F.sum(F.when(F.col("pos") == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("pos") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("pos") == 1, F.col("dr"))).alias("s2"),
        ).collect()[0]
        return (a["s2"] - a["n1"] * (a["n1"] + 1)) / (2 * a["n1"] * a["n0"])

    # separable, inverted, all-tied closed forms
    assert auc_via_query_formula([1.0, 2.0, 3.0, 4.0], [0, 0, 1, 1]) == 1.0
    assert auc_via_query_formula([1.0, 2.0, 3.0, 4.0], [1, 1, 0, 0]) == 0.0
    assert auc_via_query_formula([5.0, 5.0, 5.0, 5.0], [1, 0, 1, 0]) == 0.5
    # tie-heavy random-ish fixed set vs the pairwise definition
    scores = [1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 4.0, 1.0]
    for labels in itertools.combinations(range(8), 3):
        lab = [1 if i in labels else 0 for i in range(8)]
        got = auc_via_query_formula(scores, lab)
        want = _doubled_rank_auc(scores, lab)
        assert abs(got - want) < 1e-12, (lab, got, want)


@pytest.mark.parametrize("threshold", [2 << 30, 0], ids=["window", "prefix"])
def test_roc_auc_null_label_matches_oracle(spark, tmp_path, monkeypatch, threshold):
    """roc_auc_eval counts a NULL label as negative in both rank forms,
    as its oracle's CASE WHEN label < 5 THEN 1 ELSE 0 does; both forms
    used to drop the row from n_neg."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_imgprocessing_spark.operators import ranks
    from bigdata_imgprocessing_spark.queries import ORACLES

    emb = [[0.1, 0.2], [0.3, 0.1], [0.5, 0.5], [0.2, 0.2], [0.9, 0.1], [0.4, 0.4]]
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(6), pa.int64()),
            "label": pa.array([1, 7, None, 2, 9, 3], pa.int32()),
            "embedding": pa.array(emb, pa.list_(pa.float32())),
        }),
        tmp_path / "embeddings.parquet",
    )
    monkeypatch.setattr(ranks, "PREFIX_BYTES", threshold)
    got = [tuple(r) for r in QUERIES["roc_auc_eval"](spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'")
    assert got == con.execute(ORACLES["roc_auc_eval"]).fetchall() == [
        (3, 3, 0.111111, -0.777778)
    ]


def test_dbscan_classification_matches_bruteforce(spark, sf_dir):
    """Grid-cell candidate generation loses no eps-pair: the query's
    core/border/noise COUNTS match a pure-Python quadratic scan."""
    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.queries import QUERIES

    pts = [
        (int(r["vec_id"]), float(r["embedding"][0]), float(r["embedding"][1]))
        for r in table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    ]
    eps2 = 0.05 * 0.05
    nb = {
        i: sum(
            1
            for _j, x2, y2 in pts
            if (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2) <= eps2
        )
        for i, x1, y1 in pts
    }
    core = {i for i, c in nb.items() if c >= 8}
    border = {
        i
        for i, x1, y1 in pts
        if i not in core
        and any(
            j in core
            and j != i
            and (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2) <= eps2
            for j, x2, y2 in pts
        )
    }
    want = {
        "core": len(core),
        "border": len(border),
        "noise": len(pts) - len(core) - len(border),
    }
    got = {
        r["point_class"]: r["n_points"]
        for r in QUERIES["dbscan_core_points"](spark, sf_dir).collect()
    }
    assert {k: v for k, v in got.items()} == {
        k: v for k, v in want.items() if v > 0
    }


def test_trend_stats_on_planted_monotone_series(spark):
    """Kendall tau-b = 1 and the Theil-Sen median slope is exact on a
    planted strictly increasing series (the closed-form case)."""
    from pyspark.sql import functions as F

    # y = 700 + 3*x cents over 40 consecutive days in one year
    rows = [(d, (700 + 3 * d) / 100.0) for d in range(40)]
    df = spark.createDataFrame(rows, "d INT, o_totalprice DOUBLE").select(
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("d"))
        .cast("timestamp")
        .alias("o_orderdate"),
        "o_totalprice",
    )
    import bigdata_imgprocessing_spark.queries.timeseries as ts

    orig = ts.table
    ts.table = lambda _s, _d, _n: df  # noqa: E731
    try:
        k = ts.kendall_tau_trend(spark, "ignored").collect()
        t = ts.theilsen_revenue_trend(spark, "ignored").collect()
    finally:
        ts.table = orig
    assert len(k) == 1 and k[0]["tau_b"] == 1.0
    assert k[0]["n_pairs"] == 40 * 39 // 2 and k[0]["n_discordant"] == 0
    # slope is exactly 3 cents/day = 0.03 dollars/day for EVERY pair
    assert len(t) == 1 and t[0]["ts_slope_per_day"] == 0.03


def test_pinball_loss_identity_small_case(spark):
    """10x-pinball integer identity equals the textbook definition."""
    diffs = [-300, -1, 0, 2, 150]  # y - f in cents
    for t in (1, 5, 9):
        q = t / 10.0
        want = sum(max(q * d, (q - 1) * d) for d in diffs)
        got = sum(max(t * d, (t - 10) * d) for d in diffs) / 10.0
        assert abs(want - got) < 1e-9


def test_patchify_iter_matches_numpy_reference():
    """The reshape/transpose patchify emits exactly the 2x2 block sums."""
    import numpy as np
    import pandas as pd

    from bigdata_imgprocessing_spark.queries.multimodal import _patchify_iter

    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=64, dtype=np.int64).astype(np.uint8)
    pdf = pd.DataFrame({"img_id": [7], "content": [b"FPX8" + px.tobytes()]})
    out = pd.concat(list(_patchify_iter(iter([pdf]))))
    img = px.astype(np.int64).reshape(8, 8)
    assert len(out) == 16
    for _, r in out.iterrows():
        pr, pc = int(r["pr"]), int(r["pc"])
        want = int(img[2 * pr : 2 * pr + 2, 2 * pc : 2 * pc + 2].sum())
        assert int(r["psum"]) == want and int(r["token"]) == want // 64


def test_isotonic_minimax_equals_pav_reference(spark, sf_dir):
    """The minimax closed form used by isotonic_calibration equals the
    classic pool-adjacent-violators fit (the unique isotonic solution),
    checked on the real query output AND on random weighted bins."""
    import random

    from bigdata_imgprocessing_spark.queries import QUERIES

    def pav(ns, ss):
        # stack of pools [n, s, span]; merge while means decrease
        # (integer cross-multiplied mean comparison — no float ordering)
        pools = []
        for n, s in zip(ns, ss):
            pools.append([n, s, 1])
            while len(pools) > 1 and (
                pools[-1][1] * pools[-2][0] <= pools[-2][1] * pools[-1][0]
            ):
                n2, s2, c2 = pools.pop()
                pools[-1][0] += n2
                pools[-1][1] += s2
                pools[-1][2] += c2
        fits = []
        for n, s, c in pools:
            fits.extend([s / n] * c)
        return fits

    def minimax(ns, ss):
        B = len(ns)
        sp = [0]
        np_ = [0]
        for n, s in zip(ns, ss):
            sp.append(sp[-1] + s)
            np_.append(np_[-1] + n)
        fits = []
        for i in range(B):
            best = None
            for j in range(i + 1):
                mn = min(
                    (sp[k + 1] - sp[j]) / (np_[k + 1] - np_[j])
                    for k in range(i, B)
                )
                best = mn if best is None else max(best, mn)
            fits.append(best)
        return fits

    rng = random.Random(11)
    for _ in range(50):
        B = rng.randrange(1, 12)
        ns = [rng.randrange(1, 40) for _ in range(B)]
        ss = [rng.randrange(0, n + 1) for n in ns]
        a, b = pav(ns, ss), minimax(ns, ss)
        assert all(abs(x - y) < 1e-12 for x, y in zip(a, b)), (ns, ss)

    rows = sorted(
        QUERIES["isotonic_calibration"](spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    iso = [r["iso_rate"] for r in rows]
    assert iso == sorted(iso)  # monotone by construction
    ns = [r["n"] for r in rows]
    ss = [r["n_pos"] for r in rows]
    want = pav(ns, ss)
    assert all(abs(r["iso_rate"] - w) < 5e-7 for r, w in zip(rows, want))


def test_runs_test_constant_series_null_pinned(spark, tmp_path):
    """ADVICE r11: when every day's revenue equals the median, `signs`
    is empty — both engines must pin counts/runs to 0 and
    expected_runs/z to NULL (the logrank/acf NULL-pinning discipline),
    instead of Spark emitting NULL counts while DuckDB divides by 0."""
    import datetime

    import duckdb

    from bigdata_imgprocessing_spark.queries import ORACLES, QUERIES

    rows = [
        (
            i,
            1,
            "O",
            100.0,
            datetime.datetime(2024, 1, 1 + i),
            "1-URGENT",
        )
        for i in range(4)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, "
        "o_orderpriority STRING",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    sf_dir = str(tmp_path)
    got = QUERIES["runs_test_randomness"](spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_above"], r["n_below"], r["n_runs"]) == (0, 0, 0)
    assert r["expected_runs"] is None and r["z"] is None

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"'{sf_dir}/orders.parquet/*.parquet'"
    )
    orow = con.execute(ORACLES["runs_test_randomness"]).fetchall()[0]
    assert tuple(orow) == (0, 0, 0, None, None)


def test_welch_ttest_matches_closed_form(spark, tmp_path):
    """Planted two-group fixture: the query must reproduce the Welch
    t statistic and Welch-Satterthwaite df computed independently in
    plain Python from the same cents."""
    import datetime

    rows = []
    high = [100.0, 110.0, 120.0, 90.0]
    low = [200.0, 220.0, 180.0]
    for i, p in enumerate(high):
        rows.append((i, 1, "O", p, datetime.datetime(2024, 1, 1), "1-URGENT"))
    for i, p in enumerate(low):
        rows.append(
            (100 + i, 1, "O", p, datetime.datetime(2024, 1, 1), "5-LOW")
        )
    spark.createDataFrame(
        rows,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    from bigdata_imgprocessing_spark.queries import QUERIES

    r = QUERIES["welch_ttest_price"](spark, str(tmp_path)).collect()[0]
    hc = [int(p * 100) for p in high]
    lc = [int(p * 100) for p in low]

    def var(xs):
        n, s, ss = len(xs), sum(xs), sum(x * x for x in xs)
        return (n * ss - s * s) / (n * (n - 1))

    v1, v2 = var(hc), var(lc)
    n1, n2 = len(hc), len(lc)
    dc = sum(hc) / n1 - sum(lc) / n2
    se2 = v1 / n1 + v2 / n2
    t = dc / se2**0.5
    df = se2**2 / (
        (v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1)
    )
    assert (r["n_high"], r["n_low"]) == (n1, n2)
    assert abs(r["mean_shift"] - round(dc / 100, 4)) < 1e-9
    assert abs(r["t_stat"] - round(t, 4)) < 1e-9
    assert abs(r["welch_df"] - round(df, 2)) < 1e-9
    assert r["significant"] == (abs(t) > 1.96)


def test_cramers_v_perfect_association_is_one(spark, tmp_path):
    """A 2x2 table where status determines priority exactly must give
    Cramér's V = 1 (and an independent table must give ~0)."""
    import datetime

    rows = []
    for i in range(10):
        rows.append((i, 1, "A", 10.0, datetime.datetime(2024, 1, 1), "1-URGENT"))
    for i in range(10):
        rows.append((50 + i, 1, "B", 10.0, datetime.datetime(2024, 1, 1), "5-LOW"))
    spark.createDataFrame(
        rows,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    from bigdata_imgprocessing_spark.queries import QUERIES

    r = QUERIES["cramers_v_association"](spark, str(tmp_path)).collect()[0]
    assert r["n_rows"] == 20 and r["n_statuses"] == 2 and r["n_groups"] == 2
    assert abs(r["cramers_v"] - 1.0) < 1e-9
    assert abs(r["chi2"] - 20.0) < 1e-9  # chi2 = n for a perfect 2x2


def test_topk_capture_planted_ranking(spark, tmp_path):
    """Positives planted at the top of the score order: k >= n must
    capture everything (recall 1, precision = base-rate-at-k, lift =
    1/base_rate at full capture)."""
    rows = [
        (i, [float(i)], 1 if i >= 5 else 9)  # top-5 scores are positive
        for i in range(10)
    ]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    from bigdata_imgprocessing_spark.queries import QUERIES

    out = {
        r["k"]: r
        for r in QUERIES["topk_capture_eval"](spark, str(tmp_path)).collect()
    }
    assert set(out) == {64, 256, 1024}
    for k, r in out.items():
        assert r["k_eff"] == 10 and r["n_pos_at_k"] == 5
        assert abs(r["precision_at_k"] - 0.5) < 1e-9
        assert abs(r["recall_at_k"] - 1.0) < 1e-9
        assert abs(r["lift_at_k"] - 1.0) < 1e-9


def test_minhash_capped_subset_and_binding(spark, sf_dir):
    """The capped pair set must be a strict subset of the uncapped
    pairs (same verify threshold, fewer candidates), with constant
    binding accounting on every row."""
    from bigdata_imgprocessing_spark.queries import QUERIES

    capped = QUERIES["minhash_lsh_capped"](spark, sf_dir).collect()
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["minhash_lsh_pairs"](spark, sf_dir).collect()
    }
    assert capped
    cuts = {(r["n_buckets_cut"], r["n_band_rows_cut"]) for r in capped}
    assert len(cuts) == 1  # the accounting is a corpus constant
    (nb, nr), = cuts
    assert nb > 0 and nr > 2 * nb  # binding at driver scale
    got = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert got <= uncapped
    assert len(got) < len(uncapped)  # the cap really cut something


def test_bands_store_matches_fresh(spark, sf_dir):
    """The materialized band-index store must be row-identical to the
    fresh shingle→signature→band pipeline (md5-derived determinism),
    so the capped/hot-bucket consumers read exactly what the fresh
    family computes."""
    from bigdata_imgprocessing_spark.core.catalog import table as _t
    from bigdata_imgprocessing_spark.operators.neardup import (
        band_frame,
        minhash_signatures,
    )
    from bigdata_imgprocessing_spark.queries.dedup import _minhash_bands_store

    fresh = sorted(
        tuple(r)
        for r in band_frame(
            minhash_signatures(_t(spark, sf_dir, "documents"))
        ).collect()
    )
    stored = sorted(
        tuple(r) for r in _minhash_bands_store(spark, sf_dir).collect()
    )
    assert fresh == stored and len(fresh) > 0


def test_kruskal_wallis_matches_closed_form(spark, tmp_path):
    """Tiny fixture with known groups: the query must reproduce H
    computed independently in pure Python (tie-corrected)."""
    import datetime

    data = {
        "1-URGENT": [10.0, 12.0, 14.0],
        "3-MEDIUM": [11.0, 12.0, 20.0],
        "5-LOW": [30.0, 31.0],
    }
    rows = []
    i = 0
    for prio, ps in data.items():
        for p in ps:
            rows.append((i, 1, "O", p, datetime.datetime(2024, 1, 1), prio))
            i += 1
    spark.createDataFrame(
        rows,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    from bigdata_imgprocessing_spark.queries import QUERIES

    r = QUERIES["kruskal_wallis_price"](spark, str(tmp_path)).collect()[0]
    # independent reference: avg ranks with ties
    vals = [(p, g) for g, ps in data.items() for p in ps]
    svals = sorted(v for v, _ in vals)
    import collections

    cnt = collections.Counter(svals)
    rank = {}
    pos = 1
    for v in sorted(cnt):
        c = cnt[v]
        rank[v] = pos + (c - 1) / 2
        pos += c
    n = len(vals)
    by_g = collections.defaultdict(list)
    for v, g in vals:
        by_g[g].append(rank[v])
    h = 12 / (n * (n + 1)) * sum(
        sum(rs) ** 2 / len(rs) for rs in by_g.values()
    ) - 3 * (n + 1)
    tie = sum(c**3 - c for c in cnt.values())
    hc = h / (1 - tie / (n**3 - n))
    assert r["n_rows"] == n and r["n_groups"] == 3
    assert abs(r["h"] - round(h, 6)) < 1e-9
    assert abs(r["h_corrected"] - round(hc, 6)) < 1e-9


def test_poisson_bootstrap_deterministic_and_sane(spark, sf_dir):
    """The bootstrap is hash-deterministic (byte-identical on re-run)
    and the CI must bracket the point estimate with a positive SE."""
    from bigdata_imgprocessing_spark.queries import QUERIES

    a = QUERIES["poisson_bootstrap_ci"](spark, sf_dir).collect()[0]
    b = QUERIES["poisson_bootstrap_ci"](spark, sf_dir).collect()[0]
    assert tuple(a) == tuple(b)
    assert a["n_replicates"] == 64
    assert a["boot_se"] > 0
    assert a["ci_lo"] < a["mean_price"] < a["ci_hi"]
    # Poisson-bootstrap SE of a mean tracks sigma/sqrt(n) — sanity band
    import duckdb

    sd, n = duckdb.connect().execute(
        f"SELECT stddev_samp(o_totalprice), count(*) FROM '{sf_dir}/orders.parquet'"
    ).fetchall()[0]
    expect = sd / n**0.5
    assert 0.5 * expect < a["boot_se"] < 2.0 * expect


def test_fingerprinted_store_version_and_reuse(spark, sf_dir):
    """The centralized store helper's two safety rules: same version →
    the second call reads the landed files without rebuilding; a
    bumped version → a NEW path (code changes must never be served
    stale rows from /tmp)."""
    import glob
    import os

    from bigdata_imgprocessing_spark.queries.dedup import (
        _fingerprinted_store,
    )

    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(1,), (2,)], "x bigint")

    for path in glob.glob("/tmp/bdip_testst*_*"):
        import shutil
        shutil.rmtree(path, ignore_errors=True)
    a = _fingerprinted_store(spark, sf_dir, "teststore", "t-v1", build)
    assert a.count() == 2 and len(calls) == 1
    b = _fingerprinted_store(spark, sf_dir, "teststore", "t-v1", build)
    assert b.count() == 2 and len(calls) == 1  # no rebuild on reuse
    c = _fingerprinted_store(spark, sf_dir, "teststore", "t-v2", build)
    assert c.count() == 2 and len(calls) == 2  # version bump rebuilds
    # distinct versions land at distinct paths
    assert len({p for p in glob.glob("/tmp/bdip_teststore_*")}) == 2


def test_stats_family_random_fixtures_match_python(spark, tmp_path):
    """Seeded randomized sweep: welch / kruskal / cramers on 4 random
    small orders tables must match pure-python closed forms — the
    reference class of test that caught the kruskal H constant (shared
    Spark+oracle constants make cross-engine parity blind to them)."""
    import collections
    import datetime
    import random

    from bigdata_imgprocessing_spark.queries import QUERIES

    rng = random.Random(1207)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECI", "5-LOW"]
    for trial in range(4):
        n = rng.randrange(30, 80)
        rows = []
        for i in range(n):
            price = rng.randrange(100, 5000) / 4.0  # deliberate ties
            rows.append((
                i, 1, rng.choice("OFP"), price,
                datetime.datetime(2024, 1, 1), rng.choice(prios),
            ))
        out = str(tmp_path / f"t{trial}")
        spark.createDataFrame(
            rows,
            "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
            "o_totalprice DOUBLE, o_orderdate TIMESTAMP, "
            "o_orderpriority STRING",
        ).coalesce(1).write.mode("overwrite").parquet(f"{out}/orders.parquet")

        cents = [(int(round(r[3] * 100)), r[5], r[2]) for r in rows]

        # --- welch ---
        hi = [c for c, p, _ in cents if p in ("1-URGENT", "2-HIGH")]
        lo = [c for c, p, _ in cents if p not in ("1-URGENT", "2-HIGH")]
        w = QUERIES["welch_ttest_price"](spark, out).collect()
        if len(hi) > 1 and len(lo) > 1:
            def var(xs):
                m, s, ss = len(xs), sum(xs), sum(x * x for x in xs)
                return (m * ss - s * s) / (m * (m - 1))
            v1, v2 = var(hi), var(lo)
            n1, n2 = len(hi), len(lo)
            dc = sum(hi) / n1 - sum(lo) / n2
            se2 = v1 / n1 + v2 / n2
            r = w[0]
            assert abs(r["mean_shift"] - round(dc / 100, 4)) < 1e-9
            if se2 > 0:
                assert abs(r["t_stat"] - round(dc / se2**0.5, 4)) < 1e-9
        else:
            assert w == []

        # --- kruskal ---
        vals = sorted(c for c, _, _ in cents)
        cnt = collections.Counter(vals)
        rank, pos = {}, 1
        for v in sorted(cnt):
            rank[v] = pos + (cnt[v] - 1) / 2
            pos += cnt[v]
        by_g = collections.defaultdict(list)
        for c, p, _ in cents:
            by_g[p].append(rank[c])
        h = 12 / (n * (n + 1)) * sum(
            sum(rs) ** 2 / len(rs) for rs in by_g.values()
        ) - 3 * (n + 1)
        r = QUERIES["kruskal_wallis_price"](spark, out).collect()[0]
        assert r["n_groups"] == len(by_g)
        assert abs(r["h"] - round(h, 6)) < 1e-6

        # --- cramers ---
        cells = collections.Counter(
            (s, 1 if p in ("1-URGENT", "2-HIGH") else 0)
            for _, p, s in cents
        )
        rt = collections.Counter()
        ct = collections.Counter()
        for (s_, g), o in cells.items():
            rt[s_] += o
            ct[g] += o
        chi2 = sum(
            (n * cells.get((s_, g), 0) - rt[s_] * ct[g]) ** 2
            / (n * rt[s_] * ct[g])
            for s_ in rt for g in ct
        )
        r = QUERIES["cramers_v_association"](spark, out).collect()[0]
        assert abs(r["chi2"] - round(chi2, 6)) < 1e-6
        md = min(len(rt), len(ct))
        if md > 1:
            assert abs(
                r["cramers_v"] - round((chi2 / (n * (md - 1))) ** 0.5, 6)
            ) < 1e-6


def test_bh_fdr_planted_divergence(spark, tmp_path):
    """Planted fixture where BH and raw-alpha DISAGREE — the pattern
    the corpus data never exercises (its tiers are exchangeable, all
    flags False): URGENT is shifted hard (|z|=3.18 > zcrit(1)=2.576,
    BH-rejected), HIGH moderately (|z|=2.13: above the uncorrected
    1.96 cut but below its rank-2 step-up threshold 2.326 — raw flags
    it, BH does NOT), and the contaminated unshifted tiers stay under
    1.96. Flags recomputed independently in pure Python from the same
    planted cents; every margin to its threshold is >= 0.05, so
    float-grid jitter cannot flip a branch."""
    import datetime
    import math

    def mk(shift_c, seed):
        return [10000 + ((i * 37 + seed) % 200) * 50 + shift_c for i in range(40)]

    data = {
        "1-URGENT": mk(2000, 0),
        "2-HIGH": mk(1750, 1),
        "3-MEDIUM": mk(0, 2),
        "4-NOT SPECIFIED": mk(0, 3),
        "5-LOW": mk(0, 4),
    }
    rows = []
    i = 0
    for prio, cents in data.items():
        for c in cents:
            rows.append(
                (i, 1, "O", c / 100.0, datetime.datetime(2024, 1, 1), prio)
            )
            i += 1
    spark.createDataFrame(
        rows,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    # independent reference (same exact-cents arithmetic, pure Python)
    from bigdata_imgprocessing_spark.queries.analytics import _BH_ZTAB

    zc = [float(v) for v in _BH_ZTAB[4]]  # the m=5 row
    N = sum(len(v) for v in data.values())
    S = sum(sum(v) for v in data.values())
    SS = sum(sum(x * x for x in v) for v in data.values())
    zref = {}
    for t, v in data.items():
        nj, sj, ssj = len(v), sum(v), sum(x * x for x in v)
        nr, sr, ssr = N - nj, S - sj, SS - ssj
        vj = (nj * ssj - sj * sj) / (nj * (nj - 1))
        vr = (nr * ssr - sr * sr) / (nr * (nr - 1))
        zref[t] = (sj / nj - sr / nr) / math.sqrt(vj / nj + vr / nr)
    order = sorted(zref, key=lambda k: (-abs(zref[k]), k))
    istar = max(
        (i + 1 for i in range(5) if abs(zref[order[i]]) >= zc[i]), default=0
    )
    want = {
        t: (
            order.index(t) + 1,
            abs(zref[t]) >= zc[-1],
            order.index(t) + 1 <= istar,
        )
        for t in data
    }
    # the fixture must actually exercise the divergence
    assert [want[t][2] for t in sorted(data)].count(True) == 1
    assert [want[t][1] for t in sorted(data)].count(True) == 2
    from bigdata_imgprocessing_spark.queries import QUERIES

    got = {
        r.tier: (r.z_rank, r.raw_significant, r.bh_rejected)
        for r in QUERIES["bh_fdr_price_tests"](spark, str(tmp_path)).collect()
    }
    assert got == want


def test_fingerprinted_store_width_tracks_volume(spark, sf_dir):
    """The landing-width contract (r13, floor lowered r14): file count
    = rows/~500k with floor 4, keyed placement when keys are given.
    Tiny frames land at the floor (a fixed core-count width measurably
    regressed every repeat-reader at sf0.1, and floor 8 cost the
    iterative store consumers ~2x at driver sf);
    past 4 x 500k rows the volume term takes over and more files
    appear (4.2M rows -> 9)."""
    import glob
    import shutil

    from bigdata_imgprocessing_spark.queries.dedup import (
        _fingerprinted_store,
    )

    for path in glob.glob("/tmp/bdip_widthstore_*"):
        shutil.rmtree(path, ignore_errors=True)
    tiny = _fingerprinted_store(
        spark, sf_dir, "widthstore", "w-tiny",
        lambda: spark.range(100).selectExpr("id AS x"),
        keys=("x",),
    )
    assert tiny.count() == 100
    big = _fingerprinted_store(
        spark, sf_dir, "widthstore", "w-big",
        lambda: spark.range(4_200_000).selectExpr("id AS x"),
    )
    assert big.count() == 4_200_000
    widths = {}
    for p in glob.glob("/tmp/bdip_widthstore_*"):
        widths[len(glob.glob(f"{p}/part-*"))] = p
    assert 4 in widths, f"tiny store must land at the floor: {widths}"
    assert 9 in widths, f"4.2M rows must land 9 files: {widths}"


def _write_orders(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )


def test_conformal_coverage_matches_sorted_reference(spark, tmp_path):
    """Planted-truth test for conformal_coverage_eval: on seeded
    randomized corpora the selection-operator pipeline
    must reproduce a driver-side FULLY-SORTED reference exactly — the
    per-tier calibration medians, the k-index, the conformal quantile,
    and the held-out coverage — and the finite-sample coverage must sit
    at >= 0.9 - eps (the split-conformal guarantee is >= 0.9 in
    expectation under exchangeability; eps absorbs one-draw noise)."""
    import datetime
    import hashlib
    import math
    import random

    from bigdata_imgprocessing_spark.queries import QUERIES

    tiers = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    for seed in (1400, 1401, 1402):
        rng = random.Random(seed)
        rows, ref = [], []
        for i in range(3000):
            t = tiers[rng.randrange(5)]
            # integer cents keep the double exact; heavier tail on one
            # tier so the tiers have genuinely different medians
            cents = rng.randrange(100, 5_000_000)
            if t == "5-LOW":
                cents += 20_000_000
            price = cents / 100.0
            rows.append((i, 1, "O", price, datetime.datetime(2024, 1, 1), t))
            # Spark's round(price*100) is BigDecimal HALF_UP on the
            # double product; floor(x+0.5) matches it for positive x
            # (exact binary halves cannot arise from cents/100*100)
            yc = math.floor(price * 100 + 0.5)
            is_cal = (
                int(hashlib.md5(f"{i}_conf".encode()).hexdigest()[:10], 16) % 2
                == 0
            )
            ref.append((t, yc, is_cal))
        _write_orders(spark, tmp_path, rows)

        # driver-side sorted reference: lower-middle median per tier,
        # ceil((n+1)*0.9)-th smallest absolute residual, eval coverage
        from collections import defaultdict

        by_tier = defaultdict(list)
        for t, yc, is_cal in ref:
            if is_cal:
                by_tier[t].append(yc)
        meds = {}
        for t, vs in by_tier.items():
            vs.sort()
            meds[t] = vs[(len(vs) + 1) // 2 - 1]
        resid = sorted(
            abs(yc - meds[t]) for t, yc, is_cal in ref if is_cal
        )
        n_cal = len(resid)
        k = math.ceil((n_cal + 1) * 0.9)
        qv = resid[k - 1]
        ev = [(t, yc) for t, yc, is_cal in ref if not is_cal and t in meds]
        n_cov = sum(1 for t, yc in ev if abs(yc - meds[t]) <= qv)

        got = QUERIES["conformal_coverage_eval"](spark, str(tmp_path)).collect()
        assert len(got) == 1
        r = got[0]
        assert r["n_cal"] == n_cal
        assert r["k_index"] == k
        assert r["q_width"] == round(qv / 100.0, 2)
        assert r["n_eval"] == len(ev)
        assert r["n_covered"] == n_cov
        assert r["coverage"] == round(n_cov / len(ev), 6)
        assert r["coverage"] >= 0.9 - 0.05, f"seed {seed}: {r['coverage']}"


def test_conformal_degenerate_corpus_empty_like_oracle(spark, tmp_path):
    """ADVICE r13: fewer than 9 calibration rows makes the conformal
    rank k exceed n_cal — the oracle's q CTE is empty there, so the
    query must return an EMPTY frame with the contract schema instead
    of raising from the rank selection (and an all-eval split must not
    break on the empty calibration half)."""
    import datetime

    from bigdata_imgprocessing_spark.queries import QUERIES

    rows = [
        (i, 1, "O", 100.0 + i, datetime.datetime(2024, 1, 1), "1-URGENT")
        for i in range(6)
    ]
    _write_orders(spark, tmp_path, rows)
    df = QUERIES["conformal_coverage_eval"](spark, str(tmp_path))
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "n_cal", "n_eval", "k_index", "q_width",
        "n_covered", "coverage", "target",
    ]


def test_kruskal_single_tier_null_significant(spark, tmp_path):
    """ADVICE r13: a one-tier corpus (k=1, df=0) must yield NULL
    significance like the DuckDB oracle's tab[0], not raise Spark's
    INVALID_INDEX_OF_ZERO from try_element_at(tab, 0)."""
    import datetime

    from bigdata_imgprocessing_spark.queries import QUERIES

    rows = [
        (i, 1, "O", float(10 + i), datetime.datetime(2024, 1, 1), "3-MEDIUM")
        for i in range(5)
    ]
    _write_orders(spark, tmp_path, rows)
    r = QUERIES["kruskal_wallis_price"](spark, str(tmp_path)).collect()[0]
    assert r["n_groups"] == 1
    assert r["significant"] is None


def test_paragraph_dedup_planted_truth(spark, tmp_path):
    """Planted corpus with hand-countable 8-word-unit duplication: the
    first occurrence (ordered by doc_id, chunk_no) survives, later
    copies count as dups, sub-8-word docs contribute no chunks, and
    within-doc repeats dedup too."""
    import duckdb

    from bigdata_imgprocessing_spark.queries import QUERIES

    u1 = "w1 w2 w3 w4 w5 w6 w7 w8"          # shared boilerplate unit
    u2 = "x1 x2 x3 x4 x5 x6 x7 x8"
    u3 = "y1 y2 y3 y4 y5 y6 y7 y8"
    texts = [
        ("en", f"{u1} {u2}"),        # doc 0: first occurrence of u1, u2
        ("en", f"{u1} {u3}"),        # doc 1: u1 dup, u3 first
        ("en", f"{u1} {u1}"),        # doc 2: both chunks dups (within-doc too)
        ("de", f"{u2} tail words"),  # doc 3: u2 dup (cross-lang), tail < 8 ignored
        ("de", "short doc"),         # doc 4: no chunks -> not in n_docs
    ]
    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, '{t}', '{lg}', 'src0', {len(t)})"
        for i, (lg, t) in enumerate(texts)
    )
    con.execute(
        f"COPY (SELECT * FROM (VALUES {vals}) "
        "v(doc_id, text, lang, source, n_chars)) "
        f"TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"
    )
    got = {
        r.lang: (
            r.n_docs, r.n_chunks, r.n_dup_chunks,
            r.n_docs_all_unique, r.dup_frac,
        )
        for r in QUERIES["paragraph_dedup_stats"](spark, str(tmp_path)).collect()
    }
    # en: docs 0,1,2 -> 6 chunks; dups: doc1's u1, doc2's both = 3;
    #     all-unique docs: doc 0 only
    # de: doc 3 -> 1 chunk (u2, dup of doc 0's), doc 4 contributes none
    assert got == {
        "en": (3, 6, 3, 1, 0.5),
        "de": (1, 1, 1, 0, 1.0),
    }


def test_wasserstein_matches_closed_form(spark, tmp_path):
    """Planted two-source corpus with a hand-computable earth-mover
    distance: src a lengths [10, 10, 20], src b [10, 30, 30].
    Domain 10 < 20 < 30; scaled CDF gaps (x3 counts each side, n1*n2=9):
      at 10: |2*3 - 1*3| = 3, dx = 10 -> 30
      at 20: |3*3 - 1*3| = 6, dx = 10 -> 60
    w1_num = 90, W1 = 90/9 = 10 chars of transported mass (exactly the
    mean shift here since the CDFs never cross)."""
    import duckdb

    from bigdata_imgprocessing_spark.queries import QUERIES

    rows = [
        (0, "a", 10), (1, "a", 10), (2, "a", 20),
        (3, "b", 10), (4, "b", 30), (5, "b", 30),
    ]
    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, 'x', 'en', 'src_{s}', {n})" for i, s, n in rows
    )
    con.execute(
        f"COPY (SELECT * FROM (VALUES {vals}) "
        "v(doc_id, text, lang, source, n_chars)) "
        f"TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"
    )
    r = QUERIES["wasserstein_source_drift"](spark, str(tmp_path)).collect()[0]
    assert (r.src_a, r.src_b) == ("src_a", "src_b")  # count tie -> name asc
    assert (r.n1, r.n2) == (3, 3)
    assert r.w1_num == 90
    assert r.w1_e6 == 10_000_000
