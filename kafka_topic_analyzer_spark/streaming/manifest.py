"""Manifest store for the epoch-versioned streaming sinks.

The keyed upsert state (upsert_sink.py), the tombstone-aware IVF-PQ index
(index_upsert.py) and the bucketed curated corpus (sink_stream.py) all
publish the same way — the exactly-once foreachBatch sink contract:

1. an epoch writes its rows into a fresh version dir
   (``epoch_vNNNNNN_xxxxxx``; compactions write ``compact_v…``), one
   ``partitionBy`` leaf per hash bucket;
2. one JSON ``_MANIFEST`` flips atomically (tmp file + ``os.replace``) to
   point the touched buckets at their new leaves — the manifest is the
   ONLY publication point, so a crash between write and flip leaves a
   torn dir no reader can reach;
3. :func:`vacuum` deletes every version dir the manifest (and its
   retention history) no longer references — superseded epochs and torn
   crash leftovers alike.

Manifest format::

    {"tables": {name: {"n_buckets": n, "buckets": {"b": [rel_dir, ...]}}},
     "history": [tables, ...]}

A table's ``n_buckets`` is fixed at creation: keys hash into buckets
with :func:`bucket` (``pmod(xxhash64(col), n)``), so a different count
would renumber every key's bucket — :func:`table` refuses it. ``history``
holds the last ``retain_epochs`` superseded ``tables`` snapshots (most
recent first): a reader holding a DataFrame resolved against one of them
still scans after later flips, and vacuum keeps what they reference.

Single writer per root: callers read, mutate and flip without locking.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

MANIFEST = "_MANIFEST"
_VERSION_PREFIXES = ("epoch_v", "compact_v")


def bucket(col: str, n_buckets: int) -> Column:
    """Deterministic bucket of ``col``: pmod(xxhash64, n) — fixed seed, so
    a key's bucket never moves and carried rows recompute it instead of
    storing it."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


def epoch_version(epoch_id: int) -> str:
    """Version dir name for one epoch's write; the random suffix keeps a
    replayed epoch from colliding with its torn first attempt."""
    return f"epoch_v{epoch_id:06d}_{uuid.uuid4().hex[:6]}"


def compact_version() -> str:
    """Version dir name for a compaction's write."""
    return f"compact_v{uuid.uuid4().hex[:10]}"


def read(root: str) -> dict:
    """The current manifest; an empty store when none was flipped yet."""
    p = os.path.join(root, MANIFEST)
    if not os.path.exists(p):
        return {"tables": {}, "history": []}
    with open(p) as f:
        return json.load(f)


def table(
    manifest: dict, name: str, n_buckets: int, option: str = "n_buckets"
) -> dict[str, list[str]]:
    """The bucket -> dirs map of table ``name`` (created empty when
    absent). Raises ValueError when the table was created with another
    bucket count; ``option`` names the caller's parameter in the
    message."""
    t = manifest["tables"].setdefault(name, {"n_buckets": n_buckets, "buckets": {}})
    if t["n_buckets"] != n_buckets:
        raise ValueError(
            f"table {name!r} was created with {option}={t['n_buckets']};"
            f" got {n_buckets}"
        )
    return t["buckets"]


def read_table(
    spark: SparkSession, root: str, name: str, buckets: list[int] | None = None
) -> DataFrame | None:
    """Union of table ``name``'s manifest-current dirs; ``buckets`` prunes
    the read to the named buckets. None when nothing is published."""
    entries = read(root)["tables"].get(name, {}).get("buckets", {})
    if buckets is not None:
        entries = {str(b): entries[str(b)] for b in buckets if str(b) in entries}
    paths = [os.path.join(root, rel) for rels in entries.values() for rel in rels]
    return spark.read.parquet(*paths) if paths else None


def point_buckets(
    root: str,
    buckets: dict[str, list[str]],
    rel: str,
    part_col: str,
    touched: list[int] | None = None,
) -> None:
    """Point ``buckets`` at the ``part_col=B`` leaves a ``partitionBy``
    write left under ``root/rel``.

    ``touched=None`` appends every written leaf to its bucket's dir list
    (append-only ingest). Otherwise each touched bucket is replaced by
    its new leaf, or dropped when the write left it empty (every key
    tombstoned or moved away)."""
    base = os.path.join(root, rel)
    prefix = f"{part_col}="
    written = {
        e[len(prefix):]: os.path.join(rel, e)
        for e in (sorted(os.listdir(base)) if os.path.isdir(base) else [])
        if e.startswith(prefix)
    }
    if touched is None:
        for b, leaf in written.items():
            buckets.setdefault(b, []).append(leaf)
        return
    for b in map(str, touched):
        if b in written:
            buckets[b] = [written[b]]
        else:
            buckets.pop(b, None)


def flip(root: str, tables: dict, retain_epochs: int = 0) -> None:
    """Atomically publish ``tables`` as the current manifest. With
    ``retain_epochs`` > 0 the superseded tables are prepended to the
    retention history, trimmed to ``retain_epochs`` snapshots."""
    prior = read(root)
    history = (
        [prior["tables"], *prior["history"]][:retain_epochs]
        if retain_epochs > 0
        else []
    )
    tmp = os.path.join(root, f".{MANIFEST}.tmp")
    with open(tmp, "w") as f:
        json.dump({"tables": tables, "history": history}, f, sort_keys=True)
    os.replace(tmp, os.path.join(root, MANIFEST))


def vacuum(root: str) -> list[str]:
    """Delete version dirs referenced by neither the manifest nor its
    retention history; returns the removed names. Idempotent, and safe
    only AFTER a flip: readers resolve every path through the manifest,
    so an unreferenced dir can never be read again."""
    m = read(root)
    referenced = {
        rel.split(os.sep)[0]
        for tables in [m["tables"], *m["history"]]
        for t in tables.values()
        for rels in t["buckets"].values()
        for rel in rels
    }
    removed = []
    for entry in os.listdir(root):
        path = os.path.join(root, entry)
        if (
            entry.startswith(_VERSION_PREFIXES)
            and entry not in referenced
            and os.path.isdir(path)
        ):
            shutil.rmtree(path)
            removed.append(entry)
    return sorted(removed)
