"""The versioned serving layout shared by the index (`index.py`) and
IVF (`ivf.py`) exports. This module is the only home of its rules:
the meta format, the version-tagged relation directories, the
copy-on-write refresh staging, the refresh's version-range rule, the
atomic meta flip and the retention GC.

Meta format (`serving_meta.json` in the layout directory):

    {"version": V, "dirs": {relation: "{relation}_v{W}", ...}, ...}

`dirs` names EVERY relation directory the layout serves (the index's
term-grain relations and its `stats` marginal; the IVF's `assigned`,
`centroids` and `tombs`), with W <= V: a refresh restages what it
changes and keeps referencing the rest. Layout-specific keys ride
beside it (the index's `n_buckets` and `relations`). Readers resolve
a relation only through `dirs` (`read_relation`), and resolve the
meta once per read.

An export or refresh `stage`s its relations to `{name}_v{V}`
directories the live meta does not reference, then `publish`es: flip
the meta atomically, then GC. A reader resolves either the old meta
(old, intact directories) or the new one, never a mix. A crash
anywhere before the flip leaves the old layout serving; the orphaned
staging directories are overwritten by the retry (same version, same
name) and collected after the next flip.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from patientdataintegration_spark.streaming.store import (
    overwrite,
    resolve,
    scan_gens,
)

_META = "serving_meta.json"


def read_serving_meta(out_dir: str) -> dict:
    with open(os.path.join(out_dir, _META)) as f:
        return json.load(f)


def published_meta(out_dir: str) -> dict | None:
    """The live meta of the layout at `out_dir`, or None where no
    layout has been published yet."""
    if not os.path.isfile(os.path.join(out_dir, _META)):
        return None
    return read_serving_meta(out_dir)


def write_serving_meta(out_dir: str, meta: dict) -> None:
    """Atomic meta flip: write a temp file in the same directory and
    `os.replace` it over the live one, so a reader never sees a
    half-written meta and a crash mid-write leaves the OLD meta in
    place. On an object store this is the usual single-key put —
    object puts are already atomic."""
    path = os.path.join(out_dir, _META)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)


def read_relation(
    spark: SparkSession, out_dir: str, meta: dict, name: str, schema: str
) -> DataFrame:
    """Relation `name` of the layout at `out_dir` as `meta` names it.
    A reader resolves the meta ONCE and reads every relation it pairs
    (rows with their tombstones or stats) through that one meta, so a
    concurrent flip can never hand it two versions. The schema is
    stated explicitly (partition column included): an export whose
    partitions all emptied leaves no part files, and schema inference
    would fail on the bare directory where an empty frame is the
    correct answer."""
    return spark.read.schema(schema).parquet(
        os.path.join(out_dir, meta["dirs"][name])
    )


def refresh_range(
    store_dir: str,
    out_dir: str,
    meta: dict,
    version: int | None,
    full_export,
) -> tuple[int, str, list[int]]:
    """The version-range rule of an incremental refresh from the
    layout's version to the store's committed `version` (default
    latest): (v_new, mode, generations to apply). A refresh only
    moves forward (raises otherwise), is a "noop" at the same version,
    and falls back to `full_export(v_new)` ("full") when a generation
    it needs was folded and GC'd — the diff is then unknowable.
    Otherwise the mode is "incremental"."""
    v_exp = int(meta["version"])
    v_new = resolve(store_dir, version)[0]
    if v_new < v_exp:
        raise ValueError(
            f"serving layout at {out_dir!r} is at version {v_exp}, ahead of "
            f"the requested store version {v_new} — a refresh only moves "
            "forward; export a historical version to a fresh directory"
        )
    needed = list(range(v_exp + 1, v_new + 1))
    if not needed:
        return v_new, "noop", needed
    if not set(needed) <= set(scan_gens(store_dir)[1]):
        full_export(v_new)
        return v_new, "full", needed
    return v_new, "incremental", needed


def stage(
    out_dir: str,
    meta: dict,
    name: str,
    df: DataFrame,
    partition_col: str | None = None,
    dirty: list | None = None,
):
    """Point `meta["dirs"][name]` at a fresh `{name}_v{meta version}`
    directory and return the closure that writes `df` there (for
    `store.parallel_actions`; `publish` strictly after it returns).

    With `dirty` (the refreshed values of `partition_col`, `tb` or
    `cell`), the write is COPY-ON-WRITE: `df` carries only the dirty
    partitions, and every untouched partition of the relation's
    previous directory is hardlinked across without reading a byte
    (same inode, same bytes, same mtime), falling back to a
    metadata-preserving copy where links are unsupported. Parquet
    files are immutable once written and every refresh stages to yet
    another directory, so the shared inodes are never mutated. On an
    object store this becomes a server-side copy or a manifest
    reference. A dirty partition whose rows all vanished is simply
    never created."""
    old = meta["dirs"].get(name)
    meta["dirs"][name] = f"{name}_v{meta['version']}"
    path = os.path.join(out_dir, meta["dirs"][name])
    write = overwrite(df, path, *([partition_col] if partition_col else []))
    if dirty is None:
        return write

    def copy_on_write() -> None:
        write()
        _link_untouched(
            os.path.join(out_dir, old), path, partition_col, set(dirty)
        )

    return copy_on_write


def _link_untouched(
    old_dir: str, new_dir: str, col: str, dirty: set
) -> None:
    prefix = f"{col}="
    for entry in os.listdir(old_dir):
        if not entry.startswith(prefix) or int(entry[len(prefix):]) in dirty:
            continue
        src_p = os.path.join(old_dir, entry)
        dst_p = os.path.join(new_dir, entry)
        os.makedirs(dst_p, exist_ok=True)
        for f in os.listdir(src_p):
            src_f = os.path.join(src_p, f)
            dst_f = os.path.join(dst_p, f)
            if not os.path.isfile(src_f) or os.path.exists(dst_f):
                continue
            try:
                os.link(src_f, dst_f)
            except OSError:
                shutil.copy2(src_f, dst_f)


def publish(out_dir: str, meta: dict, keep_old_versions: int) -> None:
    """Flip the layout at `out_dir` to `meta` (strictly after every
    relation it names is written), then GC the version-tagged
    directories (`{name}_v{V}`) of its relations: every version but
    the current one and the `keep_old_versions` newest below it.
    keep=0 reclaims disk at once; keep>=1 lets a reader that planned
    against the pre-flip meta finish its scan against the retained
    old version instead of racing the rmtree (Iceberg-style snapshot
    retention), so every directory the PRE-FLIP meta references is
    then retained too, whatever its tag. Every directory the NEW meta
    references survives, whatever its tag: a refresh keeps
    referencing what it did not restage."""
    prev = published_meta(out_dir) or {}
    write_serving_meta(out_dir, meta)
    protect = set(meta["dirs"].values())
    if keep_old_versions >= 1:
        protect |= set(prev.get("dirs", {}).values())
    pat = re.compile(
        r"^(" + "|".join(map(re.escape, meta["dirs"])) + r")_v(\d+)$"
    )
    tagged: dict[int, list[str]] = {}
    for entry in os.listdir(out_dir):
        m = pat.match(entry)
        if m:
            tagged.setdefault(int(m.group(2)), []).append(entry)
    current = int(meta["version"])
    old = sorted((v for v in tagged if v != current), reverse=True)
    for v in old[keep_old_versions:]:
        for entry in tagged[v]:
            if entry not in protect:
                shutil.rmtree(os.path.join(out_dir, entry), ignore_errors=True)
