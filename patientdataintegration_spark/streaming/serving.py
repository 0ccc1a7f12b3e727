"""The versioned serving layout shared by the index (`index.py`) and
IVF (`ivf.py`) exports: the meta file that names a layout's version
and relation directories, its atomic flip, and the retention GC of
superseded directories. This module is the only home of those rules.

An export or refresh writes its relations to version-tagged
directories (`{name}_v{V}`) that the live meta does not reference,
then `publish`es: flip the meta atomically, then GC. A reader
resolves either the old meta (old, intact directories) or the new
one, never a mix. A crash anywhere before the flip leaves the old
layout serving; the orphaned staging directories are overwritten by
the retry (same version, same name) and collected after the next
flip.
"""

from __future__ import annotations

import json
import os
import re
import shutil

_META = "serving_meta.json"


def read_serving_meta(out_dir: str) -> dict:
    with open(os.path.join(out_dir, _META)) as f:
        return json.load(f)


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


def publish(
    out_dir: str, meta: dict, prefixes: tuple[str, ...], keep_old_versions: int
) -> None:
    """Flip the layout at `out_dir` to `meta` (strictly after every
    relation it names is written), then GC the `{prefix}_v{V}`
    directories outside the retention window (`_gc_versioned_dirs`).
    With `keep_old_versions >= 1` every directory the PRE-FLIP meta
    references is retained BY REFERENCE, whatever its tag: after
    incremental refreshes those tags lag the meta version, so
    newest-tag retention alone would delete exactly the directories
    an in-flight reader planned against."""
    prev = (
        read_serving_meta(out_dir)
        if os.path.isfile(os.path.join(out_dir, _META))
        else {}
    )
    write_serving_meta(out_dir, meta)
    refs = (*prev.values(), *prev.get("dirs", {}).values())
    _gc_versioned_dirs(
        out_dir,
        prefixes,
        int(meta["version"]),
        keep_old_versions,
        {r for r in refs if isinstance(r, str)} if keep_old_versions >= 1
        else set(),
    )


def _gc_versioned_dirs(
    out_dir: str,
    prefixes: tuple[str, ...],
    current_version: int,
    keep_old_versions: int,
    protect: set,
) -> None:
    """Delete version-tagged relation directories (`{prefix}_v{V}`)
    except the current version, the `keep_old_versions` newest
    versions below it, and the `protect`ed names. keep=0 reclaims
    disk at once; keep>=1 lets a reader that planned against the
    pre-flip meta finish its scan against the retained old version
    instead of racing the rmtree (Iceberg-style snapshot retention)."""
    tagged: dict[int, list[str]] = {}
    pat = re.compile(
        r"^(" + "|".join(map(re.escape, prefixes)) + r")_v(\d+)$"
    )
    try:
        entries = os.listdir(out_dir)
    except OSError:
        return
    for entry in entries:
        m = pat.match(entry)
        if m:
            tagged.setdefault(int(m.group(2)), []).append(entry)
    old = sorted((v for v in tagged if v != current_version), reverse=True)
    for v in old[keep_old_versions:]:
        for entry in tagged[v]:
            if entry not in protect:
                shutil.rmtree(os.path.join(out_dir, entry), ignore_errors=True)


def link_untouched_buckets(
    old_dir: str, new_dir: str, dirty_buckets: set
) -> None:
    """Carry every UNTOUCHED `tb=` bucket of a serving relation into
    its copy-on-write staging directory without reading a byte of
    data: hardlink each file (same inode — byte-identical content and
    mtime), falling back to a metadata-preserving copy on filesystems
    without link support. Parquet files are immutable once written and
    every refresh stages to yet another fresh directory, so the shared
    inodes are never mutated. On an object store this becomes a
    server-side copy or a manifest reference — metadata-sized, never a
    data pass."""
    try:
        entries = os.listdir(old_dir)
    except OSError:
        return
    for entry in entries:
        if not entry.startswith("tb="):
            continue
        try:
            b = int(entry[3:])
        except ValueError:
            continue
        if b in dirty_buckets:
            continue
        src_b = os.path.join(old_dir, entry)
        dst_b = os.path.join(new_dir, entry)
        os.makedirs(dst_b, exist_ok=True)
        for f in os.listdir(src_b):
            src_f = os.path.join(src_b, f)
            dst_f = os.path.join(dst_b, f)
            if not os.path.isfile(src_f) or os.path.exists(dst_f):
                continue
            try:
                os.link(src_f, dst_f)
            except OSError:
                shutil.copy2(src_f, dst_f)
