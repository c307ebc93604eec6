"""Multimodal-column operators beyond still images: letterbox resize
stats, video frame-sampling via ``mapInPandas`` (the one-row-to-many
UDTF shape), and ``applyInPandas`` grouped feature extraction — the
three remaining Python-boundary surfaces of SURVEY.md §2.11.

As in queries/images.py, the binary payloads are deterministically
derived from ``embeddings`` so DuckDB can recompute every result from
the same parquet — the Spark side still round-trips through real bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from ..core.catalog import table
from ..core.registry import query
from ..images.codec import decode_image, encode_image, fixture_pixels
from ..images.codec import fixture_pixel_sql as _px
from ..images.transform import PAD_VALUE, letterbox
from .images import _images


@F.pandas_udf(BinaryType())
def _letterbox_4x6_udf(content: pd.Series) -> pd.Series:
    return content.map(lambda b: encode_image(letterbox(decode_image(b), 4, 6)))


@query(
    "image_letterbox_stats",
    oracle=f"""
    SELECT vec_id AS img_id,
           round((4.0 * ({_px(1)} + {_px(4)} + {_px(7)} + {_px(10)}) + {PAD_VALUE} * 8) / 24, 4) AS c0,
           round((4.0 * ({_px(2)} + {_px(5)} + {_px(8)} + {_px(11)}) + {PAD_VALUE} * 8) / 24, 4) AS c1,
           round((4.0 * ({_px(3)} + {_px(6)} + {_px(9)} + {_px(12)}) + {PAD_VALUE} * 8) / 24, 4) AS c2
    FROM embeddings
    """,
)
def image_letterbox_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 letterbox (2x2 → 4x6 target): scale 2 → nearest-neighbor 4x4
    (each pixel duplicated 4x) + an 8-pixel 114-pad strip; per-channel
    means over the 24 output pixels, stated in closed form by the
    oracle. Two chained binary UDF stages (letterbox, then average)."""
    from ..images.color import average_color_udf

    imgs = _images(spark, sf_dir)
    boxed = imgs.select("img_id", _letterbox_4x6_udf("content").alias("content"))
    avg = boxed.select("img_id", average_color_udf("content").alias("avg"))
    return avg.select(
        "img_id",
        *[F.round(F.element_at("avg", i + 1), 4).alias(f"c{i}") for i in range(3)],
    )


# ---------------------------------------------------------------------------
# Video: 5 frames of 2x2 grayscale derived from dims 1-20; FVID payload =
# frame count byte + concatenated FIMG frames. Frame-sample stride 2.
# ---------------------------------------------------------------------------

_N_FRAMES = 5
_STRIDE = 2


@F.pandas_udf(BinaryType())
def _embedding_to_video_udf(emb: pd.Series) -> pd.Series:
    def enc(vec) -> bytes:
        px = fixture_pixels(vec, _N_FRAMES * 4)
        frames = [encode_image(px[f * 4 : (f + 1) * 4].reshape(2, 2, 1)) for f in range(_N_FRAMES)]
        return bytes([_N_FRAMES]) + b"".join(frames)

    return emb.map(enc)


def _decode_video(buf: bytes) -> list[np.ndarray]:
    n = buf[0]
    body = buf[1:]
    flen = len(body) // n
    return [decode_image(body[i * flen : (i + 1) * flen]) for i in range(n)]


def _frame_sample_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: one video row → one row per SAMPLED frame (UDTF
    shape, like detection-explode in SURVEY.md §2.11)."""
    for pdf in batches:
        out = []
        for vid, buf in zip(pdf["img_id"], pdf["content"]):
            frames = _decode_video(bytes(buf))
            for f in range(0, len(frames), _STRIDE):
                out.append(
                    (vid, f, float(frames[f].astype(np.float64).mean()))
                )
        yield pd.DataFrame(out, columns=["img_id", "frame_idx", "frame_avg"])


@query(
    "video_frame_sample",
    oracle=f"""
    SELECT vec_id AS img_id, f AS frame_idx,
           ({" + ".join(_px(f"f * 4 + {k}") for k in (1, 2, 3, 4))}) / 4.0 AS frame_avg
    FROM embeddings CROSS JOIN (SELECT unnest([0, 2, 4]) AS f) fs
    """,
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video as an opaque binary column: encode 5-frame clips, then
    frame-sample every 2nd frame and compute per-frame brightness via
    mapInPandas (Arrow-batched, 1→3 rows)."""
    e = table(spark, sf_dir, "embeddings")
    vids = e.select(
        F.col("vec_id").alias("img_id"),
        _embedding_to_video_udf(F.col("embedding")).alias("content"),
    )
    return vids.mapInPandas(
        _frame_sample_iter, "img_id bigint, frame_idx int, frame_avg double"
    )


# ---------------------------------------------------------------------------


def _cluster_profile_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas grouped feature extraction: centroid of the group's
    embeddings + mean distance to it."""
    m = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    centroid = m.mean(axis=0)
    dists = np.sqrt(((m - centroid) ** 2).sum(axis=1))
    return pd.DataFrame(
        {
            "label": [int(pdf["label"].iloc[0])],
            "n_vectors": [len(m)],
            "avg_dist": [round(float(dists.mean()), 4)],
        }
    )


@query(
    "cluster_profile",
    oracle="""
    WITH c AS (
        SELECT label, i,
               avg(embedding[i + 1]::DOUBLE) AS cd
        FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS i) dims
        GROUP BY label, i
    ), d AS (
        SELECT e.label, e.vec_id,
               sqrt(sum((e.embedding[c.i + 1]::DOUBLE - c.cd) ^ 2)) AS dist
        FROM embeddings e JOIN c ON e.label = c.label
        GROUP BY e.label, e.vec_id
    )
    SELECT label, count(*) AS n_vectors, round(avg(dist), 4) AS avg_dist
    FROM d GROUP BY label
    """,
)
def cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster embedding profile via applyInPandas (grouped-map UDF):
    each label group becomes one pandas frame, centroid + dispersion
    computed vectorized. The oracle restates it relationally."""
    e = table(spark, sf_dir, "embeddings").select("label", "vec_id", "embedding")
    return e.groupBy("label").applyInPandas(
        _cluster_profile_fn, "label int, n_vectors bigint, avg_dist double"
    )


# ---------------------------------------------------------------------------
# Audio: 64-sample int16 signals derived from the embedding dims
# (sample_i = trunc(dim_i * 1000), i.e. the signed pixel recipe without
# the % 256 fold); FSND payload = 'FSND' + int16 little-endian samples.
# Feature extraction = per-window RMS-style energy + zero-crossing
# count, the canonical cheap audio features.
# ---------------------------------------------------------------------------

_WIN = 16  # samples per analysis window → 4 windows per clip


@F.pandas_udf(BinaryType())
def _embedding_to_audio_udf(emb: pd.Series) -> pd.Series:
    def enc(vec) -> bytes:
        v = np.asarray(vec, dtype=np.float64) * 1000.0
        samples = v.astype(np.int64)
        # the oracle computes with unwrapped BIGINT samples, so int16
        # packing must be lossless — enforce the |dim| < 32.768 invariant
        # instead of silently wrapping if the corpus ever changes
        assert np.abs(samples).max(initial=0) < 32768, "sample exceeds int16 range"
        return b"FSND" + samples.astype("<i2").tobytes()

    return emb.map(enc)


def _audio_features_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for vid, buf in zip(pdf["clip_id"], pdf["content"]):
            raw = bytes(buf)
            assert raw[:4] == b"FSND"
            sig = np.frombuffer(raw, dtype="<i2", offset=4).astype(np.int64)
            for w in range(len(sig) // _WIN):
                win = sig[w * _WIN : (w + 1) * _WIN]
                energy = int((win * win).sum())
                zc = int(((win[:-1] * win[1:]) < 0).sum())
                out.append((vid, w, energy, zc))
        yield pd.DataFrame(out, columns=["clip_id", "window_idx", "energy", "zero_crossings"])


@query(
    "audio_feature_extract",
    oracle=f"""
    WITH s AS (
        SELECT vec_id, w, i,
               trunc(embedding[w * {_WIN} + i + 1]::DOUBLE * 1000)::BIGINT AS v,
               CASE WHEN i < {_WIN} - 1
                    THEN trunc(embedding[w * {_WIN} + i + 2]::DOUBLE * 1000)::BIGINT
                    ELSE NULL END AS nxt
        FROM embeddings
        CROSS JOIN (SELECT unnest(range(4)) AS w) ws
        CROSS JOIN (SELECT unnest(range({_WIN})) AS i) iss
    )
    SELECT vec_id AS clip_id, CAST(w AS INTEGER) AS window_idx,
           CAST(sum(v * v) AS BIGINT) AS energy,
           count(*) FILTER (WHERE v * nxt < 0) AS zero_crossings
    FROM s GROUP BY vec_id, w
    """,
)
def audio_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio as an opaque binary column with typed features extracted via
    mapInPandas: per-16-sample-window energy and zero-crossing counts
    (int16 clips packed from the embedding dims; integer arithmetic →
    exact oracle parity through the full binary round trip)."""
    e = table(spark, sf_dir, "embeddings")
    clips = e.select(
        F.col("vec_id").alias("clip_id"),
        _embedding_to_audio_udf(F.col("embedding")).alias("content"),
    )
    return clips.mapInPandas(
        _audio_features_iter,
        "clip_id bigint, window_idx int, energy bigint, zero_crossings bigint",
    )


@query(
    "doc_embedding_join_stats",
    oracle="""
    WITH q AS (
        SELECT doc_id, lang,
               len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) AS uniq_ratio
        FROM documents
    ),
    n AS (
        SELECT vec_id,
               sqrt(list_sum(list_transform(range(len(embedding)),
                    i -> embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE))) AS nrm
        FROM embeddings
    )
    SELECT lang,
           count(*) AS n_docs,
           count(*) FILTER (WHERE uniq_ratio >= 0.5) AS n_high_quality,
           round(sum(nrm) / count(*), 4) AS avg_norm
    FROM q JOIN n ON q.doc_id = n.vec_id
    GROUP BY lang
    """,
)
def doc_embedding_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal equi-join: the text table joined to its embedding
    table on the shared id — the canonical 'attach vectors to documents'
    step before embedding-based filtering/packing. Per language: doc
    count, high-lexical-diversity count, and mean vector norm.

    Scale: id⋈id is the textbook co-partition case — at 100 TB both
    tables are bucketed/sorted on the id (see bucketed_join_revenue for
    the materialized construction) so this join runs with zero
    exchanges; here AQE picks the join strategy for the test SFs. The
    norm is computed per row pre-join (one pass), sums are
    single-division averages."""
    from ..operators.similarity import norm as vnorm

    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    q = d.select(
        "doc_id",
        "lang",
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("uniq_ratio"),
    )
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", vnorm(F.col("embedding")).alias("nrm")
    )
    j = q.join(e, q.doc_id == e.vec_id)
    return j.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("uniq_ratio") >= 0.5, 1)).alias("n_high_quality"),
        F.round(F.sum("nrm") / F.count("*"), 4).alias("avg_norm"),
    )


# ---------------------------------------------------------------------------
# Video scene cuts: temporal frame-diff over the FVID payload. All
# arithmetic is INTEGER (sum of per-pixel absolute differences), so the
# cross-engine contract has no rounding surface at all.
# ---------------------------------------------------------------------------

_CUT_THRESHOLD = 340  # sum-of-|diff| over the 4 pixels (~mean for
# independent uniforms is 4*85=340, so cuts split transitions roughly
# in half and every n_cuts bucket stays populated)


def _scene_cut_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: one video row → (img_id, n_cuts, total_motion,
    max_framediff) from consecutive-frame absolute pixel differences —
    decoded from the binary payload, the real multimodal plumbing."""
    for pdf in batches:
        out = []
        for vid, buf in zip(pdf["img_id"], pdf["content"]):
            frames = [
                f.astype(np.int64).reshape(-1) for f in _decode_video(bytes(buf))
            ]
            diffs = [
                int(np.abs(a - b).sum())
                for a, b in zip(frames, frames[1:])
            ]
            out.append(
                (
                    vid,
                    sum(1 for d in diffs if d >= _CUT_THRESHOLD),
                    sum(diffs),
                    max(diffs),
                )
            )
        yield pd.DataFrame(
            out, columns=["img_id", "n_cuts", "total_motion", "max_framediff"]
        )


def _scene_cut_oracle() -> str:
    def px(f: int, k: int) -> str:
        return _px(f * 4 + k)

    diffs = [
        "(" + " + ".join(f"abs({px(f, k)} - {px(f + 1, k)})" for k in (1, 2, 3, 4)) + ")"
        for f in range(_N_FRAMES - 1)
    ]
    n_cuts = " + ".join(
        f"CASE WHEN {d} >= {_CUT_THRESHOLD} THEN 1 ELSE 0 END" for d in diffs
    )
    total = " + ".join(diffs)
    mx = "greatest(" + ", ".join(diffs) + ")"
    return f"""
    WITH v AS (
        SELECT vec_id, CAST({n_cuts} AS BIGINT) AS n_cuts,
               CAST({total} AS BIGINT) AS total_motion,
               CAST({mx} AS BIGINT) AS max_framediff
        FROM embeddings
    )
    SELECT n_cuts, CAST(count(*) AS BIGINT) AS n_videos,
           CAST(sum(total_motion) AS BIGINT) AS sum_motion,
           CAST(max(max_framediff) AS BIGINT) AS max_framediff
    FROM v GROUP BY n_cuts
    """


@query("video_scene_cuts", oracle=_scene_cut_oracle())
def video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the opaque video column — the TEMPORAL
    member of the multimodal family (`video_frame_sample` is per-frame,
    this is frame-to-frame): decode each FVID payload, compute the
    consecutive-frame sum of absolute pixel differences, and flag a cut
    where the motion crosses the threshold. Per cut-count bucket:
    video count, summed motion, and the largest single-frame jump —
    all INTEGER arithmetic end to end, so the oracle (which recomputes
    every pixel analytically from the embedding dims the encoder used)
    has no rounding surface. The shuffle sees only the per-video
    4-column summary, never pixels.

    Scale: decode + diff is an Arrow-batched mapInPandas over the
    binary column (one pass, no UDF-per-row), emitting one tiny row
    per video; the rollup groups ~5 cut-count buckets. At 100 TB the
    frame tensors stay inside worker batches — exactly the
    shuffle-avoidance the multimodal docstrings promise."""
    e = table(spark, sf_dir, "embeddings")
    vids = e.select(
        F.col("vec_id").alias("img_id"),
        _embedding_to_video_udf(F.col("embedding")).alias("content"),
    )
    per_video = vids.mapInPandas(
        _scene_cut_iter,
        "img_id bigint, n_cuts bigint, total_motion bigint, max_framediff bigint",
    )
    return per_video.groupBy("n_cuts").agg(
        F.count("*").alias("n_videos"),
        F.sum("total_motion").cast("bigint").alias("sum_motion"),
        F.max("max_framediff").cast("bigint").alias("max_framediff"),
    )


# ---------------------------------------------------------------------------
# Audio silence runs: temporal run-length analysis over the FSND payload
# (the audio twin of video_scene_cuts). All-integer.
# ---------------------------------------------------------------------------

_SILENCE_T = 70  # |sample| below this is silence (~42% of samples on
# this corpus — runs of every length stay populated)


def _silence_run_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: one clip row → (clip_id, n_runs, n_silent, longest)
    via numpy run-length encoding of the silence mask."""
    for pdf in batches:
        out = []
        for vid, buf in zip(pdf["clip_id"], pdf["content"]):
            raw = bytes(buf)
            assert raw[:4] == b"FSND"
            sig = np.frombuffer(raw, dtype="<i2", offset=4).astype(np.int64)
            silent = np.abs(sig) < _SILENCE_T
            # gaps-and-islands, fully vectorized: pad the mask with
            # False on both sides so every run has an explicit start
            # and end boundary, then diff() marks starts (+1) / ends
            # (-1); run lengths are end positions minus start positions.
            padded = np.concatenate(([False], silent, [False]))
            edges = np.flatnonzero(np.diff(padded.astype(np.int8)))
            run_starts, run_ends = edges[::2], edges[1::2]
            starts = int(run_starts.size)
            longest = (
                int((run_ends - run_starts).max()) if starts else 0
            )
            out.append((vid, starts, int(silent.sum()), longest))
        yield pd.DataFrame(
            out, columns=["clip_id", "n_runs", "n_silent", "longest"]
        )


@query(
    "audio_silence_runs",
    oracle=f"""
    WITH s AS (
        SELECT vec_id, CAST(u.i AS BIGINT) AS i,
               abs(trunc(embedding[u.i + 1]::DOUBLE * 1000)::BIGINT)
                   < {_SILENCE_T} AS silent
        FROM embeddings, UNNEST(range(len(embedding))) AS u(i)
    ),
    sil AS (
        SELECT vec_id, i,
               i - row_number() OVER (PARTITION BY vec_id ORDER BY i) AS grp
        FROM s WHERE silent
    ),
    runs AS (
        SELECT vec_id, grp, count(*) AS run_len FROM sil GROUP BY vec_id, grp
    ),
    per AS (
        SELECT vec_id, count(*) AS n_runs, sum(run_len) AS n_silent,
               max(run_len) AS longest
        FROM runs GROUP BY vec_id
    ),
    perc AS (
        SELECT e.vec_id, coalesce(p.n_runs, 0) AS n_runs,
               coalesce(p.n_silent, 0) AS n_silent,
               coalesce(p.longest, 0) AS longest
        FROM embeddings e LEFT JOIN per p USING (vec_id)
    )
    SELECT CAST(n_runs AS BIGINT) AS n_runs,
           CAST(count(*) AS BIGINT) AS n_clips,
           CAST(sum(n_silent) AS BIGINT) AS sum_silent,
           CAST(max(longest) AS BIGINT) AS max_longest
    FROM perc GROUP BY n_runs
    """,
)
def audio_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-run analysis over the opaque audio column — the TEMPORAL
    audio member (``audio_feature_extract`` is per-window spectral;
    this is run-length structure): decode each FSND payload, mark
    samples below the silence threshold, and run-length-encode the
    mask; per run-count bucket the output pins clip count, total
    silent samples, and the longest run — the stats a speech/music
    curation pass uses to drop dead air or clipped-silence clips. All
    integer end to end; the oracle recomputes every sample
    analytically and replays the runs as a gaps-and-islands window
    (i − row_number), so a run split, merged, or miscounted anywhere
    breaks the hash.

    Scale: run-length encoding happens inside the Arrow batch (one
    mapInPandas pass, one summary row per clip); the rollup groups a
    handful of run-count buckets. The oracle's window-function replay
    is the SQL-expressible form; the mapInPandas form is what survives
    100 TB because samples never leave the worker."""
    e = table(spark, sf_dir, "embeddings")
    clips = e.select(
        F.col("vec_id").alias("clip_id"),
        _embedding_to_audio_udf(F.col("embedding")).alias("content"),
    )
    per_clip = clips.mapInPandas(
        _silence_run_iter,
        "clip_id bigint, n_runs bigint, n_silent bigint, longest bigint",
    )
    return per_clip.groupBy("n_runs").agg(
        F.count("*").alias("n_clips"),
        F.sum("n_silent").cast("bigint").alias("sum_silent"),
        F.max("longest").cast("bigint").alias("max_longest"),
    )


# ---------------------------------------------------------------------------
# ViT-style patch tokenization: patchify an opaque image column into a
# grid of patch tokens — the vision-transformer ingest op (patchify is
# to image training what BPE is to text): every VLM pipeline turns each
# image into a sequence of patch embeddings/ids before anything else.
# ---------------------------------------------------------------------------


@F.pandas_udf(BinaryType())
def _embedding_to_patchimg_udf(emb: pd.Series) -> pd.Series:
    """Deterministic 8x8 single-channel image: the 64 embedding
    components map row-major to pixel bytes via the fixture rule
    (``images/codec.py`` ``fixture_pixels``)."""

    def enc(vec) -> bytes:
        return b"FPX8" + fixture_pixels(vec, 64).tobytes()

    return pd.Series(map(enc, emb))


def _patchify_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: one image row -> 16 patch rows (2x2 patches over
    the 8x8 grid): integer patch pixel-sum and a 4-bit quantized patch
    token (sum // 64). All-integer; pixels never leave the batch."""
    for pdf in batches:
        out = []
        for vid, buf in zip(pdf["img_id"], pdf["content"]):
            raw = bytes(buf)
            assert raw[:4] == b"FPX8"
            px = np.frombuffer(raw, dtype=np.uint8, offset=4).astype(
                np.int64
            ).reshape(8, 8)
            # (4,4,2,2) patch view via reshape/transpose — vectorized
            patches = px.reshape(4, 2, 4, 2).transpose(0, 2, 1, 3)
            sums = patches.sum(axis=(2, 3))  # (4, 4) int
            for pr in range(4):
                for pc in range(4):
                    s = int(sums[pr, pc])
                    out.append((vid, pr, pc, s, s // 64))
        yield pd.DataFrame(
            out, columns=["img_id", "pr", "pc", "psum", "token"]
        )


def _patch_px(expr_r: str, expr_c: str) -> str:
    """DuckDB pixel byte at (row, col) from the embedding fixture."""
    return _px(f"({expr_r}) * 8 + ({expr_c}) + 1")


@query(
    "image_patch_tokens",
    oracle=f"""
    WITH pos AS (
        SELECT pr.r AS pr, pc.c AS pc
        FROM generate_series(0, 3) AS pr(r), generate_series(0, 3) AS pc(c)
    ), p AS (
        SELECT e.vec_id, pos.pr, pos.pc,
               {_patch_px('2 * pos.pr', '2 * pos.pc')}
               + {_patch_px('2 * pos.pr', '2 * pos.pc + 1')}
               + {_patch_px('2 * pos.pr + 1', '2 * pos.pc')}
               + {_patch_px('2 * pos.pr + 1', '2 * pos.pc + 1')} AS psum
        FROM embeddings e CROSS JOIN pos
    )
    SELECT CAST(pr AS INTEGER) AS patch_row, CAST(pc AS INTEGER) AS patch_col,
           CAST(count(*) AS BIGINT) AS n_imgs,
           CAST(sum(psum) AS BIGINT) AS sum_patch,
           CAST(count(DISTINCT psum // 64) AS BIGINT) AS n_tokens
    FROM p GROUP BY pr, pc ORDER BY pr, pc
    """,
)
def image_patch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch tokenization over an opaque image column: decode
    each 8x8 fixture image, split it into the 4x4 grid of 2x2 patches
    (reshape/transpose — the standard vectorized patchify), and emit
    one integer patch-sum + 4-bit quantized patch token per position;
    the rollup pins per-position image counts, total patch mass, and
    the distinct-token vocabulary size — the "how many visual tokens
    does this corpus actually use" statistic a VLM tokenizer audit
    starts from.

    Float parity: none needed — pixel bytes, patch sums, and tokens
    are integers end to end; the oracle recomputes every patch from
    the embedding fixture arithmetic (`_px` rule) and agrees exactly.

    Scale: patchify is an Arrow-batched mapInPandas with a 16x
    row fan-out of 5 small ints per row — PIXELS never cross the
    shuffle, only patch summaries do (the video_scene_cuts
    discipline); the rollup groups a bounded 16-position spine. At
    real resolutions (224^2 / 14^2 = 256 patches) the same plan holds:
    fan-out is resolution-bounded, not corpus-bounded."""
    e = table(spark, sf_dir, "embeddings")
    imgs = e.select(
        F.col("vec_id").alias("img_id"),
        _embedding_to_patchimg_udf(F.col("embedding")).alias("content"),
    )
    per_patch = imgs.mapInPandas(
        _patchify_iter,
        "img_id BIGINT, pr INT, pc INT, psum BIGINT, token BIGINT",
    )
    return (
        per_patch.groupBy("pr", "pc")
        .agg(
            F.count("*").cast("bigint").alias("n_imgs"),
            F.sum("psum").cast("bigint").alias("sum_patch"),
            F.countDistinct("token").cast("bigint").alias("n_tokens"),
        )
        .select(
            F.col("pr").cast("int").alias("patch_row"),
            F.col("pc").cast("int").alias("patch_col"),
            "n_imgs",
            "sum_patch",
            "n_tokens",
        )
    )
