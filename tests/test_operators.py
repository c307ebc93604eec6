"""Operator-level unit tests: as-of join edge cases on hand-built data,
and error bounds for the approximate sketches vs exact answers."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from bigdata_imgprocessing_spark.operators.asof import asof_join


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_join_basic_and_edges(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts("2024-01-01T10:00:00")),  # right at 09:00 → match
            (2, "u1", _ts("2024-01-01T08:00:00")),  # before any right → null
            (3, "u2", _ts("2024-01-01T12:00:00")),  # equal ts → inclusive match
            (4, "u3", _ts("2024-01-01T12:00:00")),  # key with no right rows → null
        ],
        "id bigint, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01T09:00:00"), 100.0),
            ("u1", _ts("2024-01-01T09:30:00"), 200.0),  # later one wins for id=1
            ("u2", _ts("2024-01-01T12:00:00"), 300.0),  # exactly equal → matched
            ("u2", _ts("2024-01-01T13:00:00"), 400.0),  # future → never matched
        ],
        "k string, ts timestamp, v double",
    )
    out = {
        r.id: (r.asof_ts, r.asof_v)
        for r in asof_join(left, right, on="k", left_ts="ts", right_ts="ts").collect()
    }
    assert out[1] == (_ts("2024-01-01T09:30:00"), 200.0)
    assert out[2] == (None, None)
    assert out[3] == (_ts("2024-01-01T12:00:00"), 300.0)
    assert out[4] == (None, None)


def test_asof_join_tie_break_duplicate_right_ts(spark):
    """Multiple right rows at the SAME timestamp: the explicit tie_break
    column decides (greatest wins), independent of payload contents."""
    left = spark.createDataFrame(
        [(1, "u1", _ts("2024-01-01T10:00:00"))], "id bigint, k string, ts timestamp"
    )
    t = _ts("2024-01-01T09:00:00")
    right = spark.createDataFrame(
        [("u1", t, 30, 999.0), ("u1", t, 10, 111.0), ("u1", t, 20, 555.0)],
        "k string, ts timestamp, rid int, v double",
    )
    r = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", tie_break="rid"
    ).collect()[0]
    # rid=30 wins even though its v (999.0) is not the struct-order max of
    # (rid, v) pairs sorted by v — the winner is pinned by rid alone
    assert (r.asof_rid, r.asof_v) == (30, 999.0)

    # default (no tie_break): greatest payload struct wins — documented
    # fallback, still deterministic for orderable payloads
    d = asof_join(left, right, on="k", left_ts="ts", right_ts="ts").collect()[0]
    assert (d.asof_rid, d.asof_v) == (30, 999.0)


def test_asof_join_preserves_left_rowcount(spark, sf_dir):
    from bigdata_imgprocessing_spark.core.catalog import table

    e = table(spark, sf_dir, "events")
    left = e.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = e.where(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts", payload_cols=[])
    assert joined.count() == left.count()  # exactly one output row per left row


def test_approx_sketches_within_bounds(spark, sf_dir):
    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.queries.advanced import approx_sketch_stats

    e = table(spark, sf_dir, "events")
    exact = {
        r.event_type: (r.users, r.med)
        for r in e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("med"),
        )
        .collect()
    }
    rows = approx_sketch_stats(spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        users, _med = exact[r.event_type]
        # exact side carried in-query must agree with the recomputation
        assert r.n_users_exact == users
        # the query's own tolerance booleans ARE the sketch-error proof
        assert r.users_within_5pct, r.event_type
        assert r.median_within_5pct, r.event_type


def test_approx_deciles_within_bounds(spark, sf_dir):
    """Sketch-boundary deciles vs exact ntile(): all customers assigned,
    decile ids valid, and every bucket within sketch error of n/10."""
    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.queries.advanced import approx_balance_deciles

    n = table(spark, sf_dir, "customer").count()
    rows = approx_balance_deciles(spark, sf_dir).collect()
    assert {r.decile for r in rows} == set(range(1, 11))
    for r in rows:
        assert r.n_total == n  # exhaustive partition, no rows lost
        assert r.size_within_5pct, (r.decile, n)


def test_salted_agg_matches_direct(spark, sf_dir):
    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.operators.skew import salted_agg_sum

    l = table(spark, sf_dir, "lineitem")
    direct = {
        r.l_returnflag: round(r.s, 2)
        for r in l.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()
    }
    salted = {
        r.l_returnflag: round(r.sum_l_quantity, 2)
        for r in salted_agg_sum(l, "l_returnflag", "l_quantity").collect()
    }
    assert direct == salted


def test_write_local_csv(spark, tmp_path):
    from bigdata_imgprocessing_spark.sources.csv_io import write_local_csv

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string")
    out = str(tmp_path / "local.csv")
    write_local_csv(df, out)
    lines = open(out).read().strip().splitlines()
    assert lines[0] == "id;name"
    assert sorted(lines[1:]) == ["1;a", "2;b"]


def test_ivf_index_and_search(spark, sf_dir):
    """KMeans-IVF: every vector gets a cell; probe-limited search returns
    top-k per query; recall vs brute force is sane for n_probe=4."""
    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.operators.ivf import build_ivf_index, ivf_search
    from bigdata_imgprocessing_spark.operators.similarity import cosine as cos_col

    e = table(spark, sf_dir, "embeddings")
    indexed, model = build_ivf_index(e, k=8)
    assert indexed.count() == e.count()
    assert indexed.select("cell").distinct().count() <= 8

    queries = e.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = ivf_search(indexed, model, queries, top_k=3, n_probe=4)
    # probe-cell assignment must ride the Arrow pandas path — this was
    # the repo's one row-at-a-time BatchEvalPython in round 1
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = res._jdf.queryExecution().explainString(mode)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    rows = res.collect()
    assert {r.query_id for r in rows} == {0, 1}
    assert all(1 <= r.rn <= 3 for r in rows)

    # recall sanity: IVF top-1 should be in brute-force top-5
    q0 = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    brute = (
        e.crossJoin(q0)
        .where(F.col("vec_id") != 0)
        .select("vec_id", F.round(cos_col(F.col("embedding"), F.col("qe")), 6).alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(5)
        .collect()
    )
    ivf_top1 = [r.vec_id for r in rows if r.query_id == 0 and r.rn == 1][0]
    assert ivf_top1 in {r.vec_id for r in brute}


def test_catalog_rejects_unknown_table(spark, sf_dir):
    import pytest

    from bigdata_imgprocessing_spark.core.catalog import table

    with pytest.raises(KeyError):
        table(spark, sf_dir, "nonexistent")


def test_connected_components(spark):
    """Near-dup clustering closure: chains, triangles, and singleton
    pairs resolve to min-id components."""
    from bigdata_imgprocessing_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        # component {1,2,3,4} as a chain; {10,11,12} as a triangle;
        # {20,21} as a pair
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src bigint, dst bigint",
    )
    comp = {r.node: r.comp for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain(spark):
    """Convergence on a diameter-15 path (worst case for min-label
    propagation within max_iter)."""
    from bigdata_imgprocessing_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "src bigint, dst bigint"
    )
    comp = {r.node: r.comp for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 16


def test_connected_components_random_vs_union_find(spark):
    """Seeded random graphs checked against a driver-side union-find —
    the iterative distributed closure must match the sequential oracle
    exactly (labels canonicalized to component-min)."""
    import random

    from bigdata_imgprocessing_spark.operators.components import connected_components

    rng = random.Random(42)
    for n, m in [(30, 15), (40, 40), (25, 60)]:
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        in_graph = {v for e in edges for v in e}
        expected = {}
        for v in in_graph:
            expected.setdefault(find(v), []).append(v)
        want = {v: min(vs) for vs in expected.values() for v in vs}

        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {r.node: r.comp for r in connected_components(df).collect()}
        assert got == want, f"n={n} m={m}"


def test_lsh_finds_planted_neardups(spark, sf_dir, tmp_path):
    """Ground-truthed LSH: a scaled corpus with PLANTED near-dup pairs
    (known ids, exact Jaccard ~0.75-1.0) — minhash_lsh_pairs must find
    them (recall) and nothing else (precision), value-checking the
    pipeline's non-empty path (r2's green row proved an empty result)."""
    from bigdata_imgprocessing_spark.pipelines.scale_stress import (
        build_scaled_documents,
    )
    from bigdata_imgprocessing_spark.queries.dedup import minhash_lsh_pairs

    # Screen out the base corpus' NATURAL near-dups first (exact
    # pairwise Jaccard >= 0.3 on 3-gram shingles, driver-side — fine at
    # test scale) so the planted pairs are the only ground truth; 0.3
    # leaves margin so even a mutated planted copy can't cross 0.5
    # against a surviving foreign doc.
    from bigdata_imgprocessing_spark.core.catalog import table as _table

    base = _table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    shingles = {}
    for r in base:
        toks = r.text.split(" ")
        shingles[r.doc_id] = (
            {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
            if len(toks) >= 3
            else {r.text}
        )
    ids = sorted(shingles)
    drop: set[int] = set()
    for i, a in enumerate(ids):
        if a in drop:
            continue
        for b in ids[i + 1 :]:
            if b in drop:
                continue
            sa, sb = shingles[a], shingles[b]
            inter = len(sa & sb)
            if inter and inter / (len(sa) + len(sb) - inter) >= 0.3:
                drop.add(b)

    planted = build_scaled_documents(
        spark, sf_dir, str(tmp_path), factor=3, plant_every=5,
        mutate_every=25, exclude_ids=drop,
    )
    assert planted, "corpus must plant at least one pair"
    found = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(spark, str(tmp_path)).collect()
    }
    planted_set = set(planted)
    # precision: the scaled replicas are shingle-disjoint by construction,
    # so the ONLY genuine near-dups are the planted pairs
    assert set(found) <= planted_set, set(found) - planted_set
    # recall: deterministic corpus + hashes; banding miss prob ~1e-4/pair
    assert len(found) >= 0.9 * len(planted_set), (len(found), len(planted_set))
    # every reported similarity clears the verify gate
    assert all(j >= 0.5 for j in found.values())


def _files_touched(path, predicates):
    """Fraction of parquet files whose min/max stats overlap ALL the
    given per-column ranges — what a stats-pruning reader must open."""
    import glob as g

    import pyarrow.parquet as pq

    files = sorted(g.glob(os.path.join(path, "part-*.parquet")))
    touched = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
        overlap = True
        for col, lo, hi in predicates:
            i = schema_names.index(col)
            cmin = min(md.row_group(r).column(i).statistics.min for r in range(md.num_row_groups))
            cmax = max(md.row_group(r).column(i).statistics.max for r in range(md.num_row_groups))
            if cmax < lo or cmin > hi:
                overlap = False
                break
        if overlap:
            touched += 1
    return touched, len(files)


def test_zorder_layout_prunes_both_dims(spark, sf_dir, tmp_path):
    """Morton layout vs time-sorted layout on events(user_id, ts_sec):
    a user-range box filter must touch strictly fewer files under
    z-order than under the 1-D time sort (where user stats span every
    file), rows must round-trip exactly, and the time dimension must
    still prune reasonably."""
    from pyspark.sql import functions as F

    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.operators.zorder import write_zordered

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_sec")
    )
    n_files = 16
    zpath = str(tmp_path / "z")
    tpath = str(tmp_path / "t")
    write_zordered(ev, zpath, "user_id", "ts_sec", n_files=n_files)
    (
        ev.repartitionByRange(n_files, "ts_sec")
        .sortWithinPartitions("ts_sec")
        .write.mode("overwrite")
        .parquet(tpath)
    )

    # exact round trip
    assert (
        spark.read.parquet(zpath).count() == ev.count()
        and spark.read.parquet(zpath).select(F.sum("event_id")).first()[0]
        == ev.select(F.sum("event_id")).first()[0]
    )

    umin, umax = ev.agg(F.min("user_id"), F.max("user_id")).first()
    tmin, tmax = ev.agg(F.min("ts_sec"), F.max("ts_sec")).first()
    uband = (umin, umin + (umax - umin) // 8)  # narrow user slice
    tband = (tmin, tmin + (tmax - tmin) // 8)  # narrow time slice

    zu, zn = _files_touched(zpath, [("user_id", *uband)])
    tu, tn = _files_touched(tpath, [("user_id", *uband)])
    assert zu < tu, f"user-range: z-order touched {zu}/{zn} vs time-sort {tu}/{tn}"
    assert tu == tn  # time layout cannot prune on user at all

    zt, _ = _files_touched(zpath, [("ts_sec", *tband)])
    tt, _ = _files_touched(tpath, [("ts_sec", *tband)])
    assert zt < zn  # z still prunes time, just coarser than a pure sort
    assert tt <= zt  # the 1-D sort is optimal on its own dimension

    # 2-D box with a WIDE time band × narrow user band — the workload
    # z-order exists for (a narrow time band lets the 1-D time sort win
    # on its own: that regime is covered by the tt <= zt assertion).
    wide_t = (tmin, tmin + (tmax - tmin) // 2)
    zb, _ = _files_touched(zpath, [("user_id", *uband), ("ts_sec", *wide_t)])
    tb, _ = _files_touched(tpath, [("user_id", *uband), ("ts_sec", *wide_t)])
    assert zb < tb, f"2-D box: z-order {zb} vs time-sort {tb}"


def test_shingle_hash_collision_free_on_corpus(spark, sf_dir):
    """ngram_jaccard_hist keys posting lists on xxhash64(shingle) —
    correct only while the hash is injective on the observed vocabulary
    (~1e-7 odds documented at queries/dedup.py). This makes a collision
    LOUD on the test corpus instead of a silent posting-list merge."""
    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.operators.neardup import shingles

    d = table(spark, sf_dir, "documents")
    ex = d.select(F.explode(F.array_distinct(shingles("text"))).alias("s0"))
    row = ex.agg(
        F.count_distinct("s0").alias("n_shingles"),
        F.count_distinct(F.xxhash64("s0")).alias("n_hashes"),
    ).first()
    assert row.n_shingles == row.n_hashes, (
        f"xxhash64 collision on shingle vocabulary: "
        f"{row.n_shingles} shingles -> {row.n_hashes} hashes"
    )


def test_paragraph_unit_hash_collision_free_on_corpus(spark, sf_dir):
    """paragraph_dedup_stats (and the streaming ingest) key first-
    occurrence election on xxhash64(8-word unit) — correct only while
    the hash is injective on the observed unit vocabulary. The shingle
    test above covers shingles, NOT these units (ADVICE r14); a
    collision would silently merge distinct paragraphs in Spark while
    the string-keyed DuckDB oracle keeps them apart."""
    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.operators.neardup import PARA_W

    units_sql = (
        f"CASE WHEN size(w) >= {PARA_W} THEN"
        f" transform(sequence(0, size(w) DIV {PARA_W} - 1),"
        f" i -> concat_ws(' ', slice(w, i*{PARA_W} + 1, {PARA_W})))"
        " ELSE array() END"
    )
    d = table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("w")
    )
    ex = d.select(F.explode(F.expr(units_sql)).alias("u0"))
    row = ex.agg(
        F.count_distinct("u0").alias("n_units"),
        F.count_distinct(F.xxhash64("u0")).alias("n_hashes"),
    ).first()
    assert row.n_units == row.n_hashes, (
        f"xxhash64 collision on paragraph-unit vocabulary: "
        f"{row.n_units} units -> {row.n_hashes} hashes"
    )


def test_doubled_tie_ranks_null_first_like_window(spark):
    """The rank prefix form must rank NULL where ``rank()`` does: first.
    NULL used to fall into the last bucket (least() skips NULL), so the
    two forms disagreed on any nullable column."""
    from pyspark.sql import Window

    from bigdata_imgprocessing_spark.operators.ranks import doubled_tie_ranks

    df = spark.createDataFrame(
        [(None,), (None,), (1,), (2,), (2,), (5,)], "v bigint"
    )
    window = {
        r.v: r.dr
        for r in df.select(
            "v",
            (
                2 * F.rank().over(Window.orderBy("v"))
                + F.count("*").over(Window.partitionBy("v"))
                - 1
            ).alias("dr"),
        ).collect()
    }
    pv = df.groupBy("v").agg(F.count("*").alias("c"))
    prefix = {r.v: r.dr for r in doubled_tie_ranks(pv, "v").collect()}
    assert window == {None: 3, 1: 6, 2: 9, 5: 12}
    assert prefix == window


def _numpy_doubled_ranks(values):
    """(dr, c) per value: doubled tie-averaged rank and tie count, with
    NULL tied below every value, as ``rank()`` orders it."""
    import numpy as np

    key = np.array([-np.inf if v is None else v for v in values], dtype=float)
    srt = np.sort(key)
    lt = np.searchsorted(srt, key, "left")
    c = np.searchsorted(srt, key, "right") - lt
    return 2 * lt + c + 1, c


@pytest.mark.parametrize("case", ["key", "sum", "rows"])
def test_rank_forms_fold_like_numpy_on_skewed_nulls(spark, monkeypatch, case):
    """Both forms of ``rank_pass`` (keyed, and with a per-row sum) and of
    ``row_ranks`` fold to the same sums as a numpy rank reference on a
    skewed column: one value holds 80% of the rows, plus NULLs and
    ties (NULLs in both ``row_ranks`` columns)."""
    import numpy as np

    from bigdata_imgprocessing_spark.operators import ranks

    ids = range(200)
    v = [7 if i < 160 else None if i < 170 else i % 9 for i in ids]
    w = [None if i % 13 == 0 else (i * 37) % 11 for i in ids]
    k = ["abc"[i % 3] for i in ids]
    s = [i % 2 for i in ids]
    df = spark.createDataFrame(
        list(zip(v, w, k, s)), "v bigint, w bigint, k string, s int"
    )
    dr, c = _numpy_doubled_ranks(v)
    s_np, k_np = np.array(s), np.array(k)
    m, cc = F.col("m"), F.col("c")
    tie = F.sum(m * (cc * cc - 1))
    if case == "key":
        expect = {
            g: (int((k_np == g).sum()), int(dr[k_np == g].sum()),
                int((c[k_np == g] ** 2 - 1).sum()))
            for g in "abc"
        }

        def fold():
            out = ranks.rank_pass(df, "v", F.col("k").alias("g")).groupBy("g").agg(
                F.sum(m).alias("n"), F.sum(m * F.col("dr")).alias("d"), tie.alias("t")
            )
            return {r.g: (r.n, r.d, r.t) for r in out.collect()}
    elif case == "sum":
        expect = (int(s_np.sum()), int((1 - s_np).sum()), int((s_np * dr).sum()),
                  int((c**2 - 1).sum()), len(v))

        def fold():
            s1 = F.col("s1")
            return tuple(ranks.rank_pass(df, F.col("v"), s1=F.col("s")).agg(
                F.sum(s1), F.sum(m - s1), F.sum(s1 * F.col("dr")), tie, F.sum(m)
            ).first())
    else:
        dw, _ = _numpy_doubled_ranks(w)
        expect = (len(v), int((dr * dw).sum()), int(dr.sum()), int(dw.sum()), len(v))

        def fold():
            a, b = F.col("dr_a"), F.col("dr_b")
            rr = ranks.row_ranks(df, {"a": F.col("v"), "b": F.col("w")})
            return tuple(rr.agg(
                F.count("*"), F.sum(a * b), F.sum(a), F.sum(b), F.max("n")
            ).first())

    # a list-built frame has no size estimate (Long.MaxValue), so a
    # threshold past it forces the window form and 0 the prefix form
    for threshold, prefix in ((1 << 63, False), (0, True)):
        monkeypatch.setattr(ranks, "PREFIX_BYTES", threshold)
        assert ranks.use_prefix_ranks(df) is prefix
        assert fold() == expect, f"prefix form: {prefix}"


def test_size_switches_log_their_choice(spark, sf_dir, monkeypatch, caplog):
    """The rank and connected-components size switches each log the path
    they took and the size that chose it."""
    import logging

    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.operators import components, ranks

    orders = table(spark, sf_dir, "orders")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src bigint, dst bigint")
    with caplog.at_level(logging.INFO, logger="bigdata_imgprocessing_spark"):
        assert not ranks.use_prefix_ranks(orders)
        monkeypatch.setattr(ranks, "PREFIX_BYTES", 1)
        assert ranks.use_prefix_ranks(orders)
        components.connected_components(edges).collect()
        monkeypatch.setattr(components, "LOCAL_EDGES", 0)
        components.connected_components(edges).collect()
    size = os.path.getsize(f"{sf_dir}/orders.parquet")
    lines = [r.getMessage() for r in caplog.records]
    assert f"rank window form: input {size} bytes, prefix at >= {2 << 30}" in lines
    assert f"rank prefix form: input {size} bytes, prefix at >= 1" in lines
    assert "connected_components local path: 4 symmetric edges, local at <= 1000000" in lines
    assert "connected_components distributed path: 4 symmetric edges, local at <= 0" in lines


def test_connected_components_stats_round_count(spark, monkeypatch):
    """Distributed path (forced below the r16 local-closure threshold):
    the stats hook must report >1 pointer-jumping rounds on a long
    chain (diameter >> 1) and exactly the deduped edge count. The
    size-conditional local path must produce the identical labeling
    with rounds=0."""
    from bigdata_imgprocessing_spark.operators import components
    from bigdata_imgprocessing_spark.operators.components import (
        connected_components,
    )

    n = 64  # path graph 0-1-2-...-63: diameter 63 -> O(log) rounds, >1
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
    )
    monkeypatch.setattr(components, "LOCAL_EDGES", 0)
    stats: dict = {}
    comp = connected_components(edges, stats=stats)
    dist_rows = sorted((r.node, r.comp) for r in comp.collect())
    assert {c for _n, c in dist_rows} == {0}
    assert stats["n_edges"] == 2 * (n - 1)  # symmetrized, distinct
    assert 1 < stats["rounds"] <= 8  # log2(63) ~ 6, + convergence confirm
    assert stats["width"] >= 1

    monkeypatch.undo()
    lstats: dict = {}
    lcomp = connected_components(edges, stats=lstats)
    assert sorted((r.node, r.comp) for r in lcomp.collect()) == dist_rows
    assert lstats["rounds"] == 0 and lstats["n_edges"] == 2 * (n - 1)


def test_observe_metrics_free_audit(spark, sf_dir):
    """`df.observe()` — pipeline health metrics collected DURING the
    action (no second scan): row count, null count, and value sum ride
    along with a real aggregation and must match an explicit recompute.
    At 100 TB this is the only affordable way to audit every batch (a
    separate count() doubles the I/O)."""
    from pyspark.sql import Observation
    from bigdata_imgprocessing_spark.core.catalog import table

    d = table(spark, sf_dir, "documents")
    obs = Observation("audit")
    observed = d.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("n_chars").isNull().cast("long")).alias("n_null_chars"),
        F.sum("n_chars").alias("total_chars"),
    )
    out = observed.groupBy("lang").count()
    out.collect()  # one action drives BOTH the agg and the metrics
    m = obs.get
    assert m["n_rows"] == d.count()
    assert m["n_null_chars"] == 0
    assert m["total_chars"] == d.agg(F.sum("n_chars")).first()[0]


def test_map_in_arrow_batches(spark, sf_dir):
    """`mapInArrow` — the zero-copy RecordBatch surface under the pandas
    APIs (multimodal decode uses mapInPandas; this locks the rawer Arrow
    path too): per-batch vectorized transform with no pandas conversion,
    output equal to the expression equivalent."""
    import pyarrow as pa
    from bigdata_imgprocessing_spark.core.catalog import table

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def double_chars(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), pa.compute.multiply(b.column("n_chars"), 2)],
                names=["doc_id", "doubled"],
            )

    got = (
        d.mapInArrow(double_chars, "doc_id bigint, doubled bigint")
        .agg(F.sum("doubled"))
        .first()[0]
    )
    want = d.agg(F.sum(F.col("n_chars") * 2)).first()[0]
    assert got == want


def test_semdedup_prune_ledger_consistent(spark, sf_dir):
    """SemDeDup invariants: every corpus vector lands in exactly one
    cluster ledger row, kept + removed = census, a removed vector always
    has a KEPT lower-id neighbor in-cell (greedy keep-first can never
    empty a ball), and at least one semantic duplicate exists in the
    generated corpus."""
    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.queries.similarity import semdedup_prune

    rows = semdedup_prune(spark, sf_dir).collect()
    n_corpus = table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == n_corpus
    assert all(r.n_kept + r.n_removed == r.n_vecs for r in rows)
    assert all(r.n_kept >= 1 for r in rows)  # a ball keeps its anchor
    assert sum(r.n_removed for r in rows) > 0


def _peel_reference(edges, k, rounds):
    """Sequential synchronous Matula/Beck peeling: per round, remove ALL
    nodes whose degree within the current alive set is < k at once."""
    sym = set()
    for a, b in edges:
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    alive = {v for e in sym for v in e}
    pairs = {(a, b) for a, b in sym if a < b}
    out = []
    for r in range(rounds + 1):
        n_edges = sum(1 for a, b in pairs if a in alive and b in alive)
        out.append((r, len(alive), n_edges))
        if r == rounds:
            break
        deg = {}
        for a, b in sym:
            if a in alive and b in alive:
                deg[a] = deg.get(a, 0) + 1
        alive = {v for v in alive if deg.get(v, 0) >= k}
    return out


def test_kcore_peel_pendant_chain_melts(spark):
    """Peeling semantics on the canonical fixture: a triangle with a
    pendant chain. At k=2 the chain melts one node per synchronous
    round (only the current endpoint has alive-degree < 2) while the
    triangle survives every round."""
    from bigdata_imgprocessing_spark.operators.components import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)],
        "src bigint, dst bigint",
    )
    assert kcore_peel(edges, k=2, rounds=3) == [
        (0, 6, 6),
        (1, 5, 5),
        (2, 4, 4),
        (3, 3, 3),
    ]


def test_kcore_peel_random_vs_reference(spark):
    """Seeded random graphs (with duplicate and reversed edges thrown
    in) checked against the sequential synchronous-peel reference for
    k in {2, 3} — every round's (n_alive, n_edges_alive) must match,
    pinning the all-removals-simultaneous semantics."""
    import random

    from bigdata_imgprocessing_spark.operators.components import kcore_peel

    rng = random.Random(7)
    for n, m, k in [(20, 30, 2), (25, 50, 3), (30, 25, 2)]:
        raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        raw += [(b, a) for a, b in raw[: m // 4]]  # reversed dups
        edges = [(a, b) for a, b in raw if a != b]
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = kcore_peel(df, k=k, rounds=3)
        want = _peel_reference(edges, k, 3)
        assert got == want, f"n={n} m={m} k={k}"


def _ball_reference(edges, rounds):
    """Sequential BFS-ball reference: per round, (n_nodes, sum of
    |ball_r(v)| over nodes of the symmetrized loop-free graph)."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    balls = {v: {v} for v in adj}
    out = [(0, len(adj), len(adj))]
    for r in range(1, rounds + 1):
        balls = {
            v: bal | {u for w in bal for u in adj[w]}
            for v, bal in balls.items()
        }
        out.append((r, len(adj), sum(len(b) for b in balls.values())))
    return out


def test_neighborhood_function_vs_reference(spark):
    """HyperBall operator vs the sequential BFS-ball reference on
    seeded random graphs (duplicate/reversed/self-loop edges thrown
    in): the exact leg must match the reference per round, and the
    HLL audit boolean must hold (sparse-mode sketches are exact at
    these ball sizes — an estimate outside 8% means the union wiring
    is broken, not sketch noise)."""
    import random

    from bigdata_imgprocessing_spark.operators.components import (
        neighborhood_function,
    )

    rng = random.Random(11)
    for n, m in [(20, 25), (30, 45)]:
        raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        raw += [(b, a) for a, b in raw[: m // 4]]  # reversed dups
        df = spark.createDataFrame(raw, "src bigint, dst bigint")
        got = neighborhood_function(df, rounds=3)
        want = _ball_reference([e for e in raw if e[0] != e[1]], 3)
        assert [(r, n_, s) for r, n_, s, _ in got] == want, f"n={n} m={m}"
        assert all(ok for _, _, _, ok in got), f"n={n} m={m} sketch off"


def test_neighborhood_function_path_graph(spark):
    """On a 6-node path the ball sums are analytic: N(0)=6,
    N(1)=6+2*5=16, N(2)=16+2*4=24, N(3)=24+2*3=30 — pinning that
    expansion really moves exactly one hop per round."""
    from bigdata_imgprocessing_spark.operators.components import (
        neighborhood_function,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src bigint, dst bigint"
    )
    got = neighborhood_function(edges, rounds=3)
    assert [(r, n, s) for r, n, s, _ in got] == [
        (0, 6, 6), (1, 6, 16), (2, 6, 24), (3, 6, 30),
    ]
    assert all(ok for _, _, _, ok in got)


def test_hamming1_join_random_vs_bruteforce(spark):
    """Seeded random fingerprint sets (dense enough to guarantee
    distance-1 collisions, plus duplicates) checked against a
    driver-side all-pairs bit_count — the wildcard index must find
    every distance-1 pair exactly once, tagged with the right bit."""
    import random

    from bigdata_imgprocessing_spark.operators.hamming import (
        hamming1_neighbor_join,
    )

    rng = random.Random(7)
    for bits, n in [(6, 40), (16, 120), (16, 300)]:
        vals = [rng.randrange(1 << bits) for _ in range(n)]
        df = spark.createDataFrame([(v,) for v in vals], "fp long")
        got = {
            (r.fp_a, r.fp_b, r.pos)
            for r in hamming1_neighbor_join(df, "fp", bits).collect()
        }
        distinct = sorted(set(vals))
        want = set()
        for i, a in enumerate(distinct):
            for b in distinct[i + 1 :]:
                x = a ^ b
                if x and not (x & (x - 1)):  # exactly one differing bit
                    want.add((a, b, x.bit_length() - 1))
        assert got == want, f"bits={bits} n={n}"
        # exactly-once emission: the raw join output has no duplicates
        raw = hamming1_neighbor_join(df, "fp", bits)
        assert raw.count() == raw.distinct().count()


def test_hamming1_join_sign_bit_and_bounds(spark):
    """Bit 63 rides the long's sign bit — a pair differing only there
    must still be found; widths outside 1..64 are rejected."""
    import pytest as _pytest

    from bigdata_imgprocessing_spark.operators.hamming import (
        hamming1_neighbor_join,
    )

    a = -(1 << 63)  # only bit 63 set
    df = spark.createDataFrame([(0,), (a,), (3,)], "fp long")
    got = {
        (r.fp_a, r.fp_b, r.pos)
        for r in hamming1_neighbor_join(df, "fp", 64).collect()
    }
    assert got == {(a, 0, 63)}  # 0 vs 3 differ in two bits: excluded
    with _pytest.raises(ValueError):
        hamming1_neighbor_join(df, "fp", 0)
    with _pytest.raises(ValueError):
        hamming1_neighbor_join(df, "fp", 65)


def test_hamming_k_join_random_vs_bruteforce(spark):
    """Banded (pigeonhole) distance<=k join vs driver-side all-pairs
    xor-popcount: every pair within distance k found exactly once with
    the right distance, across widths, k values, duplicate
    fingerprints, and planted sign-bit near pairs."""
    import itertools
    import random

    from bigdata_imgprocessing_spark.operators.hamming import (
        hamming_k_neighbor_join,
    )

    rng = random.Random(11)

    def sgn(x, bits):
        x &= (1 << bits) - 1
        return x - (1 << 64) if bits == 64 and x >= (1 << 63) else x

    for bits, k, n in [(10, 2, 150), (16, 3, 200), (64, 3, 80)]:
        vals = [sgn(rng.getrandbits(bits), bits) for _ in range(n)]
        if bits == 64:
            # sparse space: plant near pairs, incl. sign-bit flips
            vals += [
                sgn(vals[0] ^ 1, 64),
                sgn(vals[1] ^ (1 << 63), 64),
                sgn(vals[2] ^ (1 << 63) ^ (1 << 17), 64),
                sgn(vals[3] ^ (1 << 13) ^ (1 << 31) ^ (1 << 62), 64),
            ]
        vals += vals[:5]  # duplicates must not duplicate pairs
        df = spark.createDataFrame([(v,) for v in vals], "fp long")
        out = hamming_k_neighbor_join(df, "fp", bits, k)
        got = sorted((r.fp_a, r.fp_b, r.dist) for r in out.collect())
        mask = (1 << 64) - 1

        def pc(x):
            return bin(x & mask).count("1")

        want = sorted(
            (min(a, b), max(a, b), pc(a ^ b))
            for a, b in itertools.combinations(sorted(set(vals)), 2)
            if 1 <= pc(a ^ b) <= k
        )
        assert got == want, f"bits={bits} k={k}"
        # exactly-once: minimal-matching-block rule leaves no dupes
        assert out.count() == out.distinct().count()


def test_hamming_k_join_bounds_and_layout():
    """Width/k validation and the contiguous block layout invariants
    (cover all bits, widths differ by at most one)."""
    import pytest as _pytest

    from bigdata_imgprocessing_spark.operators.hamming import (
        _block_layout,
        hamming_k_neighbor_join,
    )

    for bits in (7, 16, 63, 64):
        for k in range(1, min(bits, 6)):
            layout = _block_layout(bits, k)
            assert len(layout) == k + 1
            assert layout[0][0] == 0
            assert sum(w for _, w in layout) == bits
            for (o1, w1), (o2, _) in zip(layout, layout[1:]):
                assert o1 + w1 == o2
            widths = {w for _, w in layout}
            assert max(widths) - min(widths) <= 1
    with _pytest.raises(ValueError):
        hamming_k_neighbor_join(None, "fp", 64, 0)
    with _pytest.raises(ValueError):
        hamming_k_neighbor_join(None, "fp", 4, 4)
    with _pytest.raises(ValueError):
        hamming_k_neighbor_join(None, "fp", 65, 2)


def _capped_hamming_reference(vals, bits, k, cap):
    """Driver-side replay of the posting-list cutoff semantics: drop
    (blk, kv) buckets with more than ``cap`` distinct fingerprints,
    then all pairs sharing a SURVIVING bucket within distance k."""
    import itertools
    from collections import defaultdict

    from bigdata_imgprocessing_spark.operators.hamming import _block_layout

    mask = (1 << 64) - 1
    layout = _block_layout(bits, k)
    buckets = defaultdict(set)
    for v in set(vals):
        for i, (off, w) in enumerate(layout):
            buckets[(i, ((v & mask) >> off) & ((1 << w) - 1))].add(v)
    surviving = [fs for fs in buckets.values() if len(fs) <= cap]
    want = set()
    for fs in surviving:
        for a, b in itertools.combinations(sorted(fs), 2):
            d = bin((a ^ b) & mask).count("1")
            if 1 <= d <= k:
                want.add((a, b, d))
    return want


def test_hamming_k_join_max_bucket_vs_reference(spark):
    """The ``max_bucket`` cutoff path equals the driver-side replay of
    the posting-list semantics (over-cap buckets dropped entirely,
    survivors joined, verified, distinct), across caps — including a
    cap large enough to be a no-op, where it must equal the uncapped
    operator exactly."""
    import random

    from bigdata_imgprocessing_spark.operators.hamming import (
        hamming_k_neighbor_join,
    )

    rng = random.Random(23)
    bits, k, n = 12, 2, 150
    vals = [rng.getrandbits(bits) for _ in range(n)]
    df = spark.createDataFrame([(v,) for v in vals], "fp long")
    for cap in (1, 3, 10):
        got = {
            (r.fp_a, r.fp_b, r.dist)
            for r in hamming_k_neighbor_join(
                df, "fp", bits, k, max_bucket=cap
            ).collect()
        }
        assert got == _capped_hamming_reference(vals, bits, k, cap), (
            f"cap={cap}"
        )
    # a no-op cap reproduces the uncapped result exactly
    uncapped = {
        (r.fp_a, r.fp_b, r.dist)
        for r in hamming_k_neighbor_join(df, "fp", bits, k).collect()
    }
    noop = {
        (r.fp_a, r.fp_b, r.dist)
        for r in hamming_k_neighbor_join(
            df, "fp", bits, k, max_bucket=n
        ).collect()
    }
    assert noop == uncapped
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hamming_k_neighbor_join(df, "fp", bits, k, max_bucket=0)


def test_hamming_k_join_max_bucket_planted_skew(spark):
    """The hot-block scenario the operator docstring predicts (VERDICT
    r10 item 4): most of the corpus shares the all-zeros low block, so
    block 0's (0, 0) bucket concentrates mass. With the cap: (a) the
    hot bucket is dropped, so candidate volume collapses from
    O(hot^2) to the capped bound; (b) pairs whose ONLY equal block is
    the hot one are lost — the documented recall cutoff; (c) pairs
    with a surviving equal block are still found exactly once."""
    from bigdata_imgprocessing_spark.operators.hamming import (
        hamming_k_neighbor_join,
    )

    bits, k = 16, 3  # 4 blocks of 4 bits
    # 40 fps: low block (bits 0-3) all zeros -> bucket (0, 0) holds the
    # whole corpus; blocks 1-3 cycle through residue bijections mod 16
    # so each of THEIR buckets holds <= 3 hot values (under the cap by
    # construction — only block 0 is hot).
    hot = [
        ((i % 16) << 4) | (((7 * i) % 16) << 8) | (((3 * i) % 16) << 12)
        for i in range(40)
    ]
    # planted pair A: equal ONLY on the hot block 0 (differs by one
    # bit in each of blocks 1..3 -> distance 3)
    b1 = 0
    b2 = (1 << 4) | (1 << 8) | (1 << 12)
    # planted pair C: differs in block 0 only (dist 2) -> equal on
    # blocks 1..3, whose (kv=9) buckets survive the cap, so the pair
    # must still be found
    base = (9 << 4) | (9 << 8) | (9 << 12)
    c1 = base | 1
    c2 = base | 2
    vals = hot + [b1, b2, c1, c2]
    df = spark.createDataFrame([(v,) for v in vals], "fp long")
    cap = 8
    out = hamming_k_neighbor_join(df, "fp", bits, k, max_bucket=cap)
    got = {(r.fp_a, r.fp_b, r.dist) for r in out.collect()}
    assert got == _capped_hamming_reference(vals, bits, k, cap)
    # (b) the only-hot-block pair is lost under the cap...
    assert (min(b1, b2), max(b1, b2), 3) not in got
    # ...but found without it (it IS a real distance-3 pair)
    uncapped = {
        (r.fp_a, r.fp_b, r.dist)
        for r in hamming_k_neighbor_join(df, "fp", bits, k).collect()
    }
    assert (min(b1, b2), max(b1, b2), 3) in uncapped
    # (c) the surviving-block pair is kept, exactly once
    assert (min(c1, c2), max(c1, c2), 2) in got
    assert out.count() == out.distinct().count()
    # (a) the candidate bound: every surviving bucket <= cap, so the
    # uncapped hot corpus would generate C(42,2) = 861 candidates from
    # bucket (0,0) alone (40 hot + b1 + b2); the capped index cannot
    # contain that bucket
    from bigdata_imgprocessing_spark.operators.hamming import band_keys

    keyed = band_keys(
        df.select(F.col("fp").cast("long").alias("fp")).distinct(),
        "fp", bits, k,
    )
    sizes = keyed.groupBy("blk", "kv").count()
    assert sizes.where("count > 8").count() >= 1  # skew really planted


def test_rendezvous_assign_argmax_and_resize_property(spark):
    """HRW sharding (operators/sharding.py): the assignment equals a
    driver-side brute-force argmax of the same md5 scores, and on every
    resize n -> n+1 the only records that move are the ones the NEW
    shard wins (the minimal-disruption theorem) — checked over several
    sizes on real hashes, plus a rough occupancy check (no empty shard
    at 400 keys over 8 shards)."""
    import hashlib

    from pyspark.sql import functions as F

    from bigdata_imgprocessing_spark.operators.sharding import (
        rendezvous_assign,
    )

    keys = list(range(400))
    df = spark.createDataFrame([(k,) for k in keys], "doc_id bigint")

    def brute(k, n):
        return max(
            range(n),
            key=lambda s: int(
                hashlib.md5(f"{k}_shard_{s}".encode()).hexdigest()[:10], 16
            ),
        )

    prev = None
    for n in (2, 5, 8, 9):
        got = {
            r.doc_id: r.s
            for r in df.select(
                "doc_id", rendezvous_assign(F.col("doc_id"), n).alias("s")
            ).collect()
        }
        assert got == {k: brute(k, n) for k in keys}, f"n={n}"
        if prev is not None and n == prev[0] + 1:
            moved = {k for k in keys if got[k] != prev[1][k]}
            assert all(got[k] == n - 1 for k in moved)
        prev = (n, got)
    counts = {}
    eight = {k: brute(k, 8) for k in keys}
    for s in eight.values():
        counts[s] = counts.get(s, 0) + 1
    assert len(counts) == 8

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rendezvous_assign(F.col("doc_id"), 0)


def test_scene_cut_and_silence_run_iters_vs_python_reference():
    """The temporal multimodal extractors against direct Python
    references on crafted payloads: scene cuts must count exactly the
    transitions whose |pixel-diff| sum crosses the threshold (boundary
    value included), and silence runs must match a brute-force
    run-length encoding including the all-silent and no-silent edges."""
    import numpy as np
    import pandas as pd

    from bigdata_imgprocessing_spark.images.codec import encode_image
    from bigdata_imgprocessing_spark.queries.multimodal import (
        _CUT_THRESHOLD,
        _SILENCE_T,
        _scene_cut_iter,
        _silence_run_iter,
    )

    # five 2x2 frames with controlled diffs: frame k is constant c_k,
    # so diff(k) = 4*|c_k - c_{k+1}|; pick diffs straddling the
    # threshold incl. the exact boundary (340 = 4*85)
    consts = [0, 85, 85 + 85, 170, 255]  # diffs: 340, 340, 0, 340
    frames = [
        encode_image(np.full((2, 2, 1), c, dtype=np.uint8)) for c in consts
    ]
    buf = bytes([5]) + b"".join(frames)
    pdf = pd.DataFrame({"img_id": [7], "content": [buf]})
    (out,) = list(_scene_cut_iter(iter([pdf])))
    row = out.iloc[0]
    diffs = [4 * abs(a - b) for a, b in zip(consts, consts[1:])]
    assert row.n_cuts == sum(1 for d in diffs if d >= _CUT_THRESHOLD) == 3
    assert row.total_motion == sum(diffs)
    assert row.max_framediff == max(diffs)

    def clip(samples):
        return b"FSND" + np.asarray(samples, dtype="<i2").tobytes()

    def brute(samples):
        silent = [abs(s) < _SILENCE_T for s in samples]
        runs, cur = [], 0
        for b in silent:
            if b:
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        return len(runs), sum(runs), max(runs, default=0)

    cases = [
        [0] * 8,  # all silent: one run of 8
        [100] * 8,  # none silent
        [0, 100, 0, 0, 100, 0, 0, 0],  # runs 1, 2, 3
        [-69, 69, 70, -70, 0],  # threshold boundary: |v|<70 only
    ]
    pdf = pd.DataFrame(
        {"clip_id": list(range(len(cases))), "content": [clip(c) for c in cases]}
    )
    (out,) = list(_silence_run_iter(iter([pdf])))
    for i, samples in enumerate(cases):
        row = out[out.clip_id == i].iloc[0]
        n_runs, n_silent, longest = brute(samples)
        assert (row.n_runs, row.n_silent, row.longest) == (
            n_runs, n_silent, longest,
        ), samples


def test_exact_rank_values_vs_sorted_reference(spark):
    """Histogram-refinement selection equals the sorted-list definition
    on adversarial inputs: heavy duplicate skew (one value = half the
    data), a full-range outlier pair, negatives, and n smaller than the
    bucket count. Small bucket counts force multi-level recursion."""
    import random

    from bigdata_imgprocessing_spark.operators.selection import (
        exact_rank_values,
    )

    rng = random.Random(7)
    data = (
        [42] * 500
        + [rng.randrange(-10_000, 10_000) for _ in range(499)]
        + [2**40, -(2**40)]
    )
    df = spark.createDataFrame([(v,) for v in data], "c BIGINT")
    ref = sorted(data)
    ranks = [(i, k) for i, k in enumerate([1, 2, 250, 500, 750, len(data)])]
    for nb in (4, 16, 65536):  # nb=4 forces deep recursion
        got = exact_rank_values(df, "c", ranks, n_buckets=nb)
        assert got == sorted(
            (tag, k, ref[k - 1]) for tag, k in ranks
        ), f"n_buckets={nb}"


def test_exact_rank_values_single_value_and_empty(spark):
    from bigdata_imgprocessing_spark.operators.selection import (
        exact_rank_values,
    )

    one = spark.createDataFrame([(5,)] * 9, "c BIGINT")
    assert exact_rank_values(one, "c", [(0, 1), (1, 9)]) == [
        (0, 1, 5),
        (1, 9, 5),
    ]
    empty = spark.createDataFrame([], "c BIGINT")
    assert exact_rank_values(empty, "c", [(0, 1)]) == []


def test_exact_rank_values_huge_span_and_guards(spark):
    """Integer-division bucketing stays exact past 2^53 (a double
    division would misbucket there — the review finding), including an
    int64-min endpoint; out-of-range ranks and over-int64 spans fail
    fast with ValueError."""
    import pytest

    from bigdata_imgprocessing_spark.operators.selection import (
        exact_rank_values,
    )

    data = [-(2**61), -(2**53) - 3, -1, 0, 1, 2**53 + 1, 2**61 - 7]
    df = spark.createDataFrame([(v,) for v in data], "c BIGINT")
    ref = sorted(data)
    ranks = [(i, k) for i, k in enumerate([1, 3, 4, 7])]
    got = exact_rank_values(df, "c", ranks, n_buckets=16)
    assert got == sorted((t, k, ref[k - 1]) for t, k in ranks)

    # int64-min endpoint: span still < 2^63
    lomin = spark.createDataFrame(
        [(-(2**63),), (-(2**63) + 5,), (-1,)], "c BIGINT"
    )
    assert exact_rank_values(lomin, "c", [(0, 1), (1, 3)], n_buckets=4) == [
        (0, 1, -(2**63)),
        (1, 3, -1),
    ]

    with pytest.raises(ValueError, match="ranks outside"):
        exact_rank_values(df, "c", [(0, 0)])
    with pytest.raises(ValueError, match="ranks outside"):
        exact_rank_values(df, "c", [(0, len(data) + 1)])
    wide = spark.createDataFrame([(-(2**63),), (2**62,)], "c BIGINT")
    with pytest.raises(ValueError, match="span"):
        exact_rank_values(wide, "c", [(0, 1)])
