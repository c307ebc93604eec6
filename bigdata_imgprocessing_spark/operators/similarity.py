"""The vector family's exact-scoring rules, each written once for Spark
and once, next to it, as its DuckDB oracle twin:

| rule | Spark | DuckDB |
|---|---|---|
| dot / floored norm | ``dot``, ``norm`` | ``duck_dot``, ``duck_norm`` |
| squared distance | ``sqdist`` | ``duck_sqdist`` |
| symmetric int8 quantization, integer dot | ``int8_scale``, ``int8``, ``idot`` | ``duck_int8``, ``duck_idot`` |
| 6dp cosine from norms | ``rounded_cosine`` | ``duck_cosine`` |
| per-query top-k | ``query_rank``, ``top_k_per_query`` | ``duck_query_rank``, ``duck_top_k`` |
| nearest fixed centroid (P10) | ``nearest_centroid`` | ``duck_nearest_centroid`` |
| 3dp per-position mean codebook | ``codebook`` | ``duck_codebook`` |
| label codebook + nearest cell | ``label_centroids``, ``label_centers`` | ``duck_label_cells`` |

Determinism contract with the DuckDB oracle: both engines multiply
element-wise in array order, cast each element to double first, and sum
left-to-right, so the resulting doubles are bit-identical and rounding
is exact parity. Every ranking orders by a ROUNDED score and breaks
ties on an id, so rank boundaries cannot flip on representation noise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def duck_dot(a: str, b: str, n: int | None = None) -> str:
    """``dot`` over the first ``n`` elements (default: all of ``a``)."""
    return (
        f"list_sum(list_transform(range({n or f'len({a})'}),"
        f" i -> {a}[i+1]::DOUBLE * {b}[i+1]::DOUBLE))"
    )


def norm(a: Column) -> Column:
    # floored at 1e-30 so a zero vector yields cosine 0 instead of an
    # engine-divergent 0/0 (Spark NaN vs DuckDB NULL)
    return F.greatest(F.sqrt(dot(a, a)), F.lit(1e-30))


def duck_norm(a: str, n: int | None = None) -> str:
    return f"greatest(sqrt({duck_dot(a, a, n)}), 1e-30)"


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def rounded_cosine(
    a: str | Column = "embedding",
    b: str | Column = "qe",
    an: str | Column = "en",
    bn: str | Column = "qn",
) -> Column:
    """Cosine rounded to 6dp from precomputed norms: one dot per pair,
    the norms computed once per row. The defaults name a corpus row
    (embedding, en) scored against a query row (qe, qn)."""
    return F.round(dot(_col(a), _col(b)) / (_col(an) * _col(bn)), 6)


def duck_cosine(
    a: str, b: str, an: str | None = None, bn: str | None = None,
    n: int | None = None,
) -> str:
    """``rounded_cosine``; a missing norm is computed inline."""
    return (
        f"round({duck_dot(a, b, n)} / ({an or duck_norm(a, n)}"
        f" * {bn or duck_norm(b, n)}), 6)"
    )


def sqdist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance, same determinism contract as ``dot``:
    element order, double casts, left-to-right sum, and an explicit
    multiply (not pow) mirrored in the oracle SQL."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def duck_sqdist(a: str, b: str) -> str:
    t = f"({a}[i+1]::DOUBLE - {b}[i+1]::DOUBLE)"
    return f"list_sum(list_transform(range(len({a})), i -> {t} * {t}))"


# -- int8 quantization ---------------------------------------------------------
# Per-vector symmetric quantization: scale 127 / max|x|, the max floored
# like ``norm`` so a zero vector quantizes to zeros, round half up.


def int8_scale(a: Column) -> Column:
    """The floored max |x| of the vector ``a``."""
    return F.greatest(
        F.aggregate(
            F.transform(a, lambda x: F.abs(x.cast("double"))),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ),
        F.lit(1e-30),
    )


def int8(a: Column, scale: Column) -> Column:
    """``a`` quantized to integers in [-127, 127] by its ``int8_scale``."""
    return F.transform(
        a, lambda x: F.floor(x.cast("double") * 127 / scale + 0.5).cast("bigint")
    )


def duck_int8(a: str) -> str:
    """``int8(a, int8_scale(a))``."""
    return (
        f"list_transform({a}, x -> CAST(floor(x::DOUBLE * 127 / "
        f"greatest(list_max(list_transform({a}, y -> abs(y::DOUBLE))), 1e-30)"
        f" + 0.5) AS BIGINT))"
    )


def idot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def duck_idot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(len({a})), i -> {a}[i+1] * {b}[i+1]))"
    )


# -- per-query top-k ---------------------------------------------------------


def query_rank(
    score: str | Column = "cos_sim", tie: str = "vec_id", descending: bool = True
) -> Column:
    """row_number within each ``query_id``, best score first, ``tie``
    ascending breaking ties."""
    s = _col(score)
    return F.row_number().over(
        Window.partitionBy("query_id").orderBy(s.desc() if descending else s, F.col(tie))
    )


def top_k_per_query(
    scored: DataFrame, k: int, score: str = "cos_sim", tie: str = "vec_id",
    rank: str = "rn",
) -> DataFrame:
    """The ``k`` best rows per query, ranked 1..k in column ``rank``."""
    return scored.withColumn(rank, query_rank(score, tie)).where(F.col(rank) <= k)


def duck_query_rank(score: str = "cos_sim", descending: bool = True) -> str:
    return (
        "row_number() OVER (PARTITION BY query_id"
        f" ORDER BY {score}{' DESC' if descending else ''}, vec_id)"
    )


def duck_top_k(src: str, k: int, cols: str = "query_id, vec_id, cos_sim, rn") -> str:
    return (
        f"SELECT {cols} FROM (SELECT *, {duck_query_rank()} AS rn FROM {src})"
        f" WHERE rn <= {k}"
    )


# -- nearest fixed centroid (P10) ---------------------------------------------
# The reference's closest-primary-colour op (pyspark_dominant.py:96-117):
# squared Euclidean distance d{i} to each fixed centroid, then the argmin
# with ties to the LOWEST index (dist.index(min(dist)), :115-117). Named
# distance columns first, then the when/least chain over them.


def nearest_centroid(
    frame: DataFrame,
    coords: list[Column],
    centroids,
    keep: tuple[str, ...] = (),
    alias: str = "centroid_idx",
) -> DataFrame:
    """``keep`` plus the index of the centroid nearest the point whose
    coordinates are ``coords``."""
    d = frame.select(
        *keep,
        *[
            sum((x - F.lit(c[k])) ** 2 for k, x in enumerate(coords)).alias(f"d{i}")
            for i, c in enumerate(centroids)
        ],
    )
    n = len(centroids)
    idx = F  # F.when starts the chain, Column.when extends it
    for i in range(n - 1):
        rest = [F.col(f"d{j}") for j in range(i + 1, n)]
        idx = idx.when(F.col(f"d{i}") <= (F.least(*rest) if len(rest) > 1 else rest[0]), i)
    return d.select(*keep, idx.otherwise(n - 1).alias(alias))


def duck_nearest_centroid(
    src: str,
    coords: list[str],
    centroids,
    keep: tuple[str, ...] = (),
    alias: str = "centroid_idx",
) -> str:
    dists = ", ".join(
        " + ".join(f"({x} - ({c[k]}))^2" for k, x in enumerate(coords)) + f" AS d{i}"
        for i, c in enumerate(centroids)
    )
    n = len(centroids)
    whens = " ".join(
        f"WHEN d{i} <= least({', '.join(f'd{j}' for j in range(i + 1, n))}) THEN {i}"
        if i < n - 2 else f"WHEN d{i} <= d{n - 1} THEN {i}"
        for i in range(n - 1)
    )
    cols = "".join(f"{c}, " for c in keep)
    return (
        f"SELECT {cols}CASE {whens} ELSE {n - 1} END AS {alias}"
        f" FROM (SELECT {cols}{dists} FROM {src})"
    )


# -- codebooks -----------------------------------------------------------------


def codebook(frame: DataFrame, keys: list[str], vec: str) -> DataFrame:
    """(keys..., cv): the per-position mean of the ``vec`` arrays of each
    key group, rounded to 3dp so Spark and DuckDB agree bit-for-bit."""
    return (
        frame.select(*keys, F.posexplode(vec).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("c"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: F.round(s["c"], 3),
            ).alias("cv")
        )
    )


def duck_codebook(keys: str, vec: str, src: str) -> str:
    """``codebook`` over the rows of ``src``."""
    return (
        f"SELECT {keys}, list(round(c, 3) ORDER BY pos) AS cv FROM ("
        f" SELECT {keys}, i AS pos, avg({vec}[i+1]::DOUBLE) AS c"
        f" FROM {src}, UNNEST(range(len({vec}))) AS t(i) GROUP BY {keys}, i"
        f") GROUP BY {keys}"
    )


def label_centroids(e: DataFrame) -> DataFrame:
    """(cell, cv) label-seeded centroid codebook: the per-label
    ``codebook`` of the embedding corpus. THE one quantizer derivation,
    shared by ``ann_ivf_learned``, ``ivf_search_served``,
    ``semdedup_prune`` and the streaming assignment ingest
    (streaming/ivf_ingest.py), so a codebook change cannot split the
    batch and streaming semantics apart. ``e`` needs (label, embedding);
    extra columns are ignored."""
    return codebook(e, ["label"], "embedding").select(F.col("label").alias("cell"), "cv")


def label_centers(e: DataFrame) -> list:
    """``label_centroids`` collected as the centroid list (row i = cell
    i): k rows, driver-bounded like ``KMeansModel.clusterCenters()``."""
    return [r.cv for r in sorted(label_centroids(e).collect(), key=lambda r: r.cell)]


def duck_label_cells(cols: str = "e.vec_id, e.embedding") -> str:
    """CTEs ``cent`` (the label codebook), ``dists`` (``cols``, cell and
    the 6dp squared distance of every corpus row ``e`` to every cell) and
    ``assigned`` (each vector's nearest cell, ties to the lowest)."""
    return f"""
    cent AS ({duck_codebook("cell", "embedding",
                            "(SELECT label AS cell, embedding FROM embeddings)")}),
    dists AS (
        SELECT {cols}, c.cell,
               round({duck_sqdist("e.embedding", "c.cv")}, 6) AS dist
        FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
        SELECT * EXCLUDE (arn) FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cell) AS arn
            FROM dists
        ) WHERE arn = 1
    )"""
