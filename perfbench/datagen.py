"""Seeded input generators for every workload.

Everything here is a pure function of ``seed`` (numpy PCG64), so the same
seed gives byte-identical inputs and the engine only ever sees the
generated values. Nothing in this module imports Spark.
"""

from __future__ import annotations

import json
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CAT = 20
N_TAG = 50

# ------------------------------------------------------------ serve table


@dataclass
class ServeRows:
    """Column arrays of the serving table, indexed by row position."""

    ids: np.ndarray  # int64 primary keys
    cat: np.ndarray  # int32 in [0, N_CAT)
    price: np.ndarray  # float64 in [0, 100), 2 decimals
    tag: np.ndarray  # int32 tag code; the stored value is tag_name(code)
    vec: np.ndarray  # float32 (n, DIM)


def serve_rows(seed: int, n: int, start: int = 0) -> ServeRows:
    rng = np.random.default_rng([seed, 1, start])
    return ServeRows(
        ids=np.arange(start, start + n, dtype=np.int64),
        cat=rng.integers(0, N_CAT, n).astype(np.int32),
        price=np.round(rng.random(n) * 100.0, 2),
        tag=rng.integers(0, N_TAG, n).astype(np.int32),
        vec=rng.standard_normal((n, DIM)).astype(np.float32),
    )


def tag_name(code: int) -> str:
    """Stored tag of a tag code: "t0".."t49" for generated rows, "w<c>"
    for codes 1000 + c (the rows a write cycle later deletes by filter)."""
    return f"t{code}" if code < 1000 else f"w{code - 1000}"


def serve_schema(name: str) -> dict:
    """Reference-style table schema JSON (server /schema/tables shape)."""
    return {
        "name": name,
        "fields": [
            {"name": "id", "dataType": "BIGINT", "primaryKey": True},
            {"name": "cat", "dataType": "INT"},
            {"name": "price", "dataType": "DOUBLE"},
            {"name": "tag", "dataType": "STRING"},
            {
                "name": "vec",
                "dataType": "VECTOR_FLOAT",
                "dimensions": DIM,
                "metricType": "EUCLIDEAN",
            },
        ],
    }


def _vec_array(x: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(np.ascontiguousarray(x).ravel()), x.shape[1]
    ).cast(pa.list_(pa.float32()))


def write_serve_parquet(rows: ServeRows, path: str) -> None:
    pq.write_table(
        pa.table(
            {
                "id": rows.ids,
                "cat": rows.cat,
                "price": rows.price,
                "tag": np.array([tag_name(int(t)) for t in rows.tag], dtype=object),
                "vec": _vec_array(rows.vec),
            }
        ),
        path,
    )


def serve_records(rows: ServeRows) -> list[dict]:
    """The rows as the JSON records a client sends to /data/insert."""
    return [
        {
            "id": int(rows.ids[i]),
            "cat": int(rows.cat[i]),
            "price": float(rows.price[i]),
            "tag": tag_name(int(rows.tag[i])),
            "vec": [float(x) for x in rows.vec[i]],
        }
        for i in range(len(rows.ids))
    ]


# ------------------------------------------------------------ index table

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split() + [f"w{i}" for i in range(370)]
SPARSE_DIM = 1 << 20


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(8, 40, n)
    words = rng.zipf(1.3, int(lengths.sum())) % len(VOCAB)
    out, pos = [], 0
    for length in lengths:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + length]))
        pos += length
    return out


def trigram_vector(text: str) -> tuple[np.ndarray, np.ndarray]:
    """Sparse trigram-count vector of ``text`` (crc32 hashed into
    SPARSE_DIM dims): sorted distinct indices and their counts."""
    hs = [zlib.crc32(text[k : k + 3].encode()) % SPARSE_DIM for k in range(len(text) - 2)]
    idx, cnt = np.unique(np.asarray(hs, dtype=np.int64), return_counts=True)
    return idx.astype(np.int32), cnt.astype(np.float32)


@dataclass
class IndexRows:
    ids: np.ndarray
    vec: np.ndarray
    text: list[str]

    @property
    def nbytes_json(self) -> int:
        """Size of the rows as JSON records: the user-data byte base of
        the write-amplification and refresh-input ratios."""
        return sum(
            len(json.dumps({"id": int(i), "vec": v.tolist(), "text": t}))
            for i, v, t in zip(self.ids, self.vec, self.text)
        )


def index_rows(seed: int, n: int, start: int = 0) -> IndexRows:
    rng = np.random.default_rng([seed, 2, start])
    return IndexRows(
        ids=np.arange(start, start + n, dtype=np.int64),
        vec=rng.standard_normal((n, DIM)).astype(np.float32),
        text=_doc_texts(rng, n),
    )


def write_index_parquet(rows: IndexRows, path: str) -> None:
    sparse = [trigram_vector(t) for t in rows.text]
    sp = pa.StructArray.from_arrays(
        [
            pa.array([s[0] for s in sparse], pa.list_(pa.int32())),
            pa.array([s[1] for s in sparse], pa.list_(pa.float32())),
        ],
        ["indices", "values"],
    )
    pq.write_table(
        pa.table(
            {
                "id": rows.ids,
                "vec": _vec_array(rows.vec),
                "text": pa.array(rows.text, pa.string()),
                "sp": sp,
            }
        ),
        path,
    )
