"""Seeded benchmark inputs: the parquet star schema the query registry
reads, and a JPEG image corpus with its label and landmark-name dims.

The same seed always gives byte-identical files. Table shapes follow the
registry's catalog (``core.catalog.TABLES``): the same columns and types,
uniform independent columns, near-duplicate documents and
label-clustered unit embeddings, with row counts proportional to the
scale factor.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:  # near-duplicate of an earlier document
            toks = texts[rng.integers(0, i)].split()
            toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
            texts.append(" ".join(toks))
        elif i > 10 and roll < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n).astype(np.int32)
    x = rng.normal(0, 1, (n, EMBED_DIM)) + 0.6 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": labels,
        }
    )


def make_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the ten catalog tables for scale factor ``sf`` into
    ``out_dir`` (one parquet file each) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(
        f"{out_dir}/region.parquet",
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
    )
    _write(
        f"{out_dir}/nation.parquet",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
    )
    _write(
        f"{out_dir}/customer.parquet",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        },
    )
    _write(
        f"{out_dir}/supplier.parquet",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
    )
    pk = np.arange(n_part, dtype=np.int64)
    _write(
        f"{out_dir}/part.parquet",
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        },
    )
    _write(
        f"{out_dir}/orders.parquet",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        },
    )
    _write(
        f"{out_dir}/lineitem.parquet",
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_line),
        },
    )
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(
        f"{out_dir}/events.parquet",
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(50, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    )
    _write(f"{out_dir}/documents.parquet", _documents(rng, n_docs))
    pq.write_table(_embeddings(rng, n_emb), f"{out_dir}/embeddings.parquet")
    return out_dir


# Standard JPEG luminance quantization table (ITU T.81 Annex K.1).
_LUMA_Q = np.array(
    [16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
     14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
     18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
     49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99]
)

#: names for the landmark dim; cover every predicate the stats
#: pipeline evaluates (first letter, city keyword, "people", length bucket)
CITIES = ["New York", "Los Angeles", "Detroit", "Paris", "Berlin", "Warsaw"]
_NAME_WORDS = ["Old", "Grand", "Royal", "people", "Park", "Bridge", "Tower",
               "Zoo", "Harbor", "Market", "Square", "Hall", "Gate", "Ice"]


def quant_table(quality: int) -> np.ndarray:
    """IJG quality scaling of the luminance table (1..100)."""
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    return np.clip((_LUMA_Q * scale + 50) // 100, 1, 255).astype(np.uint16)


def _photo(rng, h: int, w: int) -> np.ndarray:
    """Smooth gradient background, a few coloured discs, sensor noise."""
    y, x = np.mgrid[0:h, 0:w]
    img = np.stack([x * 255 / w, y * 255 / h, (x + y) * 127 / (w + h)], 2)
    img = img[:, :, rng.permutation(3)]
    for _ in range(int(rng.integers(3, 8))):
        cy, cx = rng.integers(0, h), rng.integers(0, w)
        r = rng.integers(h // 10, h // 2)
        disc = (y - cy) ** 2 + (x - cx) ** 2 < r * r
        img[disc] = img[disc] * 0.3 + rng.integers(0, 256, 3) * 0.7
    img += rng.normal(0, 12, img.shape)
    return np.clip(img, 0, 255).astype(np.uint8)


def make_images(
    out_dir: str, seed: int, n: int, h: int, w: int, quality: int
) -> dict:
    """Write ``n`` baseline 4:2:0 JPEG photos plus the label and
    landmark-name dims; return the corpus description.

    The reference pipelines glob ``*.fimg``, so the JPEG bytes are
    stored under that suffix; ``codec.decode_image`` dispatches on the
    JPEG magic bytes, not on the name."""
    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg

    rng = np.random.default_rng([seed, 2])
    img_dir = f"{out_dir}/images"
    os.makedirs(img_dir, exist_ok=True)
    q = quant_table(quality)
    n_landmarks = max(4, n // 2)
    ids, total = [], 0
    for i in range(n):
        img_id = f"img{seed}_{i:04d}"
        data = encode_jpeg(_photo(rng, h, w), quant=q, subsampling="420")
        with open(f"{img_dir}/{img_id}.fimg", "wb") as fh:
            fh.write(data)
        ids.append(img_id)
        total += len(data)
    labels = [(i, f"lm{rng.integers(0, n_landmarks)}") for i in ids]
    names = []
    for k in range(n_landmarks):
        parts = list(rng.choice(_NAME_WORDS, int(rng.integers(1, 4))))
        if rng.random() < 0.5:
            parts.insert(int(rng.integers(0, len(parts) + 1)), str(rng.choice(CITIES)))
        first = chr(ord("A") + k % 26) + "ston"
        names.append((f"lm{k}", " ".join([first, *parts])))
    return {
        "images_dir": img_dir,
        "ids": ids,
        "labels": labels,
        "names": names,
        "bytes": total,
        "pixels": n * h * w,
    }
