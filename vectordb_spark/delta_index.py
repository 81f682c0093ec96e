"""The delta-segment protocol behind every ``Table`` index family:
vector IVF (``rebuild``), BM25 text (``rebuild_text_index``) and sparse
postings (``rebuild_sparse_index``).

An index is the manifest entry ``meta[family.key][field]``, pointing at
immutable parquet dirs under the table root:

- ``dir`` is the full build, ``<prefix>_<field>_v<version>``. A rebuild
  writes version + 1 next to it and swaps the entry in one CAS commit;
  readers that loaded the older manifest keep reading the older dirs
  until ``vacuum`` reclaims them (the double-buffer swap).
- ``deltas`` lists one ``<dir>_delta<K>`` per refresh, holding only the
  rows inserted since the previous build or refresh.
- ``indexed_up_to`` is the ``_row_id`` watermark. Rows at or above it
  are the unindexed tail, which searches scan directly.
- ``mutation_seq`` is the table's count of row-removing commits at
  build time. While it equals the manifest's, the index holds no dead
  ids; otherwise searches semi-join index hits against the live rows.
  Deletes never rewrite index dirs, and corpus statistics stay
  build-time until a rebuild resets the baseline.
- A family with a sidecar (sparse: ``norms``) keeps one companion dir
  ``<dir>_<sidecar>`` per index dir, listed under ``<sidecar>_dir`` and
  ``<sidecar>_deltas``.

A search reads ``[dir, *deltas]``, each dir its own partitioned root
pruned on its own, and unions the candidates with the tail. This is the
reference's index-plus-unindexed-tail search
(vec_search_executor.cpp:885-914) over its background rebuild
(table_mvp.cpp:94-203), and Lucene's segment commit with the manifest
as the segments file.

Builds and refreshes hold the table's writer lock and write every dir
in overwrite mode, so a dir orphaned by a writer that died between its
write and its commit is replaced by the next one. What a dir holds, how
its statistics merge, and how it is probed and scored stay with each
family in ``table.py``, passed in as hooks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame

from vectordb_spark.schema import VectorDBError


@dataclass(frozen=True)
class Family:
    key: str  # manifest map: field -> entry
    prefix: str  # index dir name prefix
    label: str  # what the missing-index error calls it
    rebuild: str  # the Table method that builds it
    sidecar: str = ""  # companion dir per index dir, if any


VECTOR = Family("indexes", "index", "index", "rebuild")
TEXT = Family("text_indexes", "textindex", "text index", "rebuild_text_index")
SPARSE = Family(
    "sparse_indexes", "sparseindex", "sparse index", "rebuild_sparse_index",
    sidecar="norms",
)
FAMILIES = (VECTOR, TEXT, SPARSE)
# names of the dirs any index family writes (for vacuum)
DIR_PREFIXES = tuple(f"{fam.prefix}_" for fam in FAMILIES)


def entry(meta: dict, fam: Family, field: str | None, *, required: bool = True):
    """The field's manifest entry; ``None`` (or an error if
    ``required``) when the field has no index of this family."""
    info = meta.get(fam.key, {}).get(field) if field else None
    if info is None and required:
        raise VectorDBError(
            "NOT_IMPLEMENTED_ERROR",
            f"No {fam.label} on field {field or '<none>'}; "
            f"call {fam.rebuild} first.",
        )
    return info


def sidecar_dir(name: str, sidecar: str) -> str:
    return f"{name}_{sidecar}"


def write(table, df: DataFrame, name: str, *partition_by: str) -> None:
    """Write one index dir. Overwrite, so an orphan of a crashed writer
    is replaced instead of failing every later refresh."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(table.path, name))


def build(table, fam: Family, field: str, write_dirs: Callable) -> dict:
    """Full (re)build. ``write_dirs(meta, name)`` writes dir ``name``
    (and its sidecar) from the current snapshot and returns the
    family's entry fields and the record count to report."""
    with table.writer_lock():
        meta = table._load_meta()
        version = meta.get(fam.key, {}).get(field, {}).get("version", 0) + 1
        name = f"{fam.prefix}_{field}_v{version}"
        fields, indexed = write_dirs(meta, name)
        info = {"version": version, "dir": name, "deltas": []}
        if fam.sidecar:
            info[f"{fam.sidecar}_dir"] = sidecar_dir(name, fam.sidecar)
            info[f"{fam.sidecar}_deltas"] = []
        meta.setdefault(fam.key, {})[field] = {
            **info,
            **fields,
            "indexed_up_to": meta["next_row_id"],
            "mutation_seq": int(meta.get("mutation_seq", 0)),
        }
        table._save_meta(meta)
        return {"field": field, "version": version, "indexedRecords": indexed}


def refresh(table, fam: Family, field: str, encode: Callable) -> dict:
    """Index the tail into a new delta dir. ``encode(info, tail, name)``
    writes dir ``name`` (and its sidecar), merges the delta's statistics
    into ``info`` and returns the number of records it appended."""
    with table.writer_lock():
        meta = table._load_meta()
        info = entry(meta, fam, field)
        tail = tail_df(table, meta, info)
        if tail is None:
            return {"field": field, "version": info["version"], "appendedRecords": 0}
        deltas = list(info.get("deltas", []))
        name = f"{info['dir']}_delta{len(deltas) + 1}"
        appended = encode(info, tail, name)
        info["deltas"] = deltas + [name]
        if fam.sidecar:
            key = f"{fam.sidecar}_deltas"
            info[key] = [*info.get(key, []), sidecar_dir(name, fam.sidecar)]
        info["indexed_up_to"] = meta["next_row_id"]
        table._save_meta(meta)
        return {"field": field, "version": info["version"], "appendedRecords": appended}


def tail_df(table, meta: dict, info: dict) -> DataFrame | None:
    """Rows the index does not cover yet (segment-pruned), or ``None``
    when the watermark is at the head."""
    up_to = int(info["indexed_up_to"])
    if up_to >= int(meta["next_row_id"]):
        return None
    return table._tail_df(up_to, meta)


def segment_dirs(info: dict, sidecar: str = "") -> list[str]:
    pre = f"{sidecar}_" if sidecar else ""
    return [info[pre + "dir"], *info.get(pre + "deltas", [])]


def read(table, info: dict, prune: Callable = lambda d: d, sidecar: str = "") -> DataFrame:
    """The index dirs (or their sidecars), each read as its own
    partitioned root and ``prune``d before the union, so partition
    pruning applies per dir."""
    return reduce(
        DataFrame.unionByName,
        (
            prune(table.spark.read.parquet(os.path.join(table.path, d)))
            for d in segment_dirs(info, sidecar)
        ),
    )


def live_filter(meta: dict, info: dict, base: DataFrame) -> Callable:
    """Drops index hits on rows removed since the build: the identity
    while ``mutation_seq`` is unchanged (no base scan at all), else a
    semi-join on ``base``'s live ``_row_id``s."""
    if info.get("mutation_seq") == meta.get("mutation_seq", 0):
        return lambda df: df
    live = base.select("_row_id")
    return lambda df: df.join(live, "_row_id", "left_semi")


def live_dirs(meta: dict) -> set[str]:
    """Every dir a current index entry references (for vacuum)."""
    return {
        d
        for fam in FAMILIES
        for info in meta.get(fam.key, {}).values()
        for s in {"", fam.sidecar}
        for d in segment_dirs(info, s)
    }
