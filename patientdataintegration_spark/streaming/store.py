"""The delta-generation store under the three maintained streams
(dedup `components.py`, inverted index `index.py`, IVF `ivf.py`): its
on-disk layout, its commit protocol, the row-grain read rule,
compaction and retention. This module is the only home of those
rules; each stream supplies its relations, its marker name and its
fold, and never writes a sentinel or removes a generation itself.

Layout under `store_dir`:

    base_g{G}/{relation}/    full snapshots: the seed (G=0) and every
                             compaction
    delta_g{g}/{relation}/   generation g's delta relations; batch
                             `batch_id` writes g = batch_id + 1

Commit protocol — a crash at any point leaves the previous state
serving:

- a base is committed by the `_COMMITTED` sentinel, written after its
  last relation (`write_base`); a crash between a base's relation
  writes leaves an invisible remnant, never a torn newest base;
- a delta is committed by its MARKER relation, the one the writer
  persists last ("tombs" for dedup and IVF, "terms" for the index),
  and by the `_COMMITTED` sentinel stamped after it (`write_delta`).
  Reads accept the marker's `_SUCCESS` or the sentinel: `_SUCCESS` is
  a committer courtesy that deployments disable
  (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`), and
  relying on it alone would hide every committed generation there.
  Spark creates the marker's directory before its job commits, so a
  bare directory check would trust a crashed marker write.
  A rewrite clears both first (`uncommit_delta`), so a checkpoint
  replay never pairs old commit evidence with half-rewritten
  relations.

Uncommitted generations are invisible to every read. A replayed batch
re-reads state at `batch_id` (its own generation and any snapshot it
wrote lie above that version) and overwrites its own generation
idempotently.

Retention (`gc_generations`): keep the newest TWO committed bases (a
replayed in-flight batch reads state gen-1, which needs the previous
base) and the deltas above the older kept base; remove everything
below, crash remnants included. Disk is therefore bounded by
2×base + 2×compact_every×delta (`store_disk_report`). Removal is a
local `shutil.rmtree`; on an object store it is a prefix delete issued
by the same rule.
"""

from __future__ import annotations

import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BASE_RE = re.compile(r"^base_g(\d+)$")
_DELTA_RE = re.compile(r"^delta_g(\d+)$")
_BASE_SENTINEL = "_COMMITTED"


def parallel_actions(fns: list) -> list:
    """Run independent driver-blocking actions (relation writes,
    localCheckpoints, bounded collects) CONCURRENTLY from a small
    thread pool and return their results in input order. The actions
    are only sequential because the driver calls them sequentially;
    submitted together, each job's tail back-fills the executors the
    previous one frees. Strictly for actions with no ordering
    constraint between them: an exception propagates before the
    caller writes its commit marker, so crash semantics are
    unchanged."""
    if len(fns) == 1:
        return [fns[0]()]
    # 2-4 jobs in flight fill stage tails without thrashing the scheduler
    with ThreadPoolExecutor(max_workers=min(4, len(fns))) as pool:
        futs = [pool.submit(f) for f in fns]
        return [f.result() for f in futs]


def overwrite(df: DataFrame, path: str, *partition_by: str):
    """The parquet overwrite of `df` at `path` (hive-partitioned by
    `partition_by`, if given) as a closure for `parallel_actions`."""

    def write() -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    return write


# bounded driver materialization of BATCH-SIZED key sets (takedown and
# dirty sets): ONE job, a lazy localCheckpoint pin whose bounded probe
# collect both materializes the relation and, below the cap, hands the
# caller the values for driver-side planning (free emptiness tests,
# the serving-refresh bucket hint). The returned DataFrame is ALWAYS
# the pinned distributed relation, never a LocalRelation rebuilt from
# the rows: a LocalRelation's exact tiny stats make every relation
# derived through it estimate small enough to broadcast corpus-sized
# subtrees (measured: q283 9.3 s vs 6.0 s, store builds up to 3x).
_DRIVER_ROWS_CONF = "spark.pdi.stream.driverMaxKeyRows"
_DRIVER_ROWS_DEFAULT = 4_000


def freeze_small(df: DataFrame, schema: str):
    """(pinned DataFrame, collected values | None): pin `df` (must be
    a DISTINCT single-column delta-sized relation) with ONE
    materialization job, and return its sorted value list alongside
    when it fits `spark.pdi.stream.driverMaxKeyRows` (default 4k) —
    None above the cap. The DataFrame is the pinned distributed
    relation in both cases (see the cap note above for why the values
    never become a LocalRelation plan input); `schema` is kept for
    the callers that construct hint relations from the values."""
    spark = df.sparkSession
    try:
        cap = int(
            spark.conf.get(_DRIVER_ROWS_CONF, str(_DRIVER_ROWS_DEFAULT))
        )
    except (TypeError, ValueError):
        cap = _DRIVER_ROWS_DEFAULT
    if cap > 0:
        # LAZY pin before the probe: the probe's collect materializes
        # the relation exactly once and everything downstream REUSES
        # the pinned RDD — one job whether or not the values fit
        df = df.localCheckpoint(eager=False)
        head = df.limit(cap + 1).collect()
        if len(head) <= cap:
            # NULL-safe sort (a NULL key row, e.g. a malformed CDC
            # row, stays representable): deterministic order for the
            # driver-side consumers of the list
            vals = sorted((r[0] for r in head), key=lambda v: (v is None, v))
            return df, vals
        return df, None
    return df.localCheckpoint(), None


def base_path(store_dir: str, gen: int, name: str) -> str:
    return os.path.join(store_dir, f"base_g{gen}", name)


def delta_path(store_dir: str, gen: int, name: str) -> str:
    return os.path.join(store_dir, f"delta_g{gen}", name)


def commit_base(store_dir: str, gen: int) -> None:
    """Mark base_g{gen} COMMITTED — call strictly after the
    snapshot's last relation write returned. Local file create here;
    on an object store this is one zero-byte put."""
    with open(os.path.join(store_dir, f"base_g{gen}", _BASE_SENTINEL), "w"):
        pass


def uncommit_delta(store_dir: str, gen: int, marker: str | None = None) -> None:
    """Remove delta_g{gen}'s commit evidence — BOTH the sentinel and
    the `marker` relation's `_SUCCESS` — before the generation's first
    relation write. The marker is written last, so a replay rewrite
    of a committed generation would otherwise leave the prior
    attempt's `{marker}/_SUCCESS` advertising commit while the earlier
    relations are mid-overwrite."""
    try:
        os.remove(os.path.join(store_dir, f"delta_g{gen}", _BASE_SENTINEL))
    except FileNotFoundError:
        pass
    if marker is not None:
        try:
            os.remove(
                os.path.join(store_dir, f"delta_g{gen}", marker, "_SUCCESS")
            )
        except FileNotFoundError:
            pass


def commit_delta(store_dir: str, gen: int) -> None:
    """Mark delta_g{gen} COMMITTED with the engine-owned sentinel —
    call strictly after the generation's marker relation write
    returned (see the module docstring for why `_SUCCESS` alone is
    not enough). One zero-byte put on an object store."""
    with open(os.path.join(store_dir, f"delta_g{gen}", _BASE_SENTINEL), "w"):
        pass


def migrate_store_markers(
    store_dir: str, marker: str | None = None
) -> list[str]:
    """Stamp the commit sentinels onto a store written ENTIRELY by a
    release that predates them — a pre-sentinel store's bases lack
    `_COMMITTED`, so after upgrading, every read raises "never
    seeded" with no recovery short of a rebuild. Only run this
    against a store KNOWN to be cleanly shut down (the sentinel
    asserts commit; this tool cannot distinguish a pre-upgrade crash
    remnant from a committed generation — that is exactly the
    information the sentinel adds). Returns the stamped entries.

    Deltas are stamped too: with success markers disabled, a
    pre-upgrade delta has neither `_SUCCESS` nor `_COMMITTED` and
    would otherwise stay invisible forever. Pass the writer's
    `marker` relation name to gate each delta's stamp on that
    relation's directory existing (the strongest commit evidence a
    cleanly-shut-down pre-sentinel store can offer — the marker
    relation is written last); with `marker=None` every delta_g*
    entry is stamped."""
    stamped: list[str] = []
    for entry in sorted(os.listdir(store_dir)):
        is_base = bool(_BASE_RE.match(entry))
        is_delta = bool(_DELTA_RE.match(entry))
        if not (is_base or is_delta):
            continue
        if is_delta and marker is not None and not os.path.isdir(
            os.path.join(store_dir, entry, marker)
        ):
            continue  # no marker relation: not commit-evidenced
        path = os.path.join(store_dir, entry, _BASE_SENTINEL)
        if not os.path.isfile(path):
            with open(path, "w"):
                pass
            stamped.append(entry)
    return stamped


def scan_gens(
    store_dir: str, marker: str | None = None
) -> tuple[list[int], list[int]]:
    """(sorted base generations, sorted delta generations) COMMITTED.
    `marker` names the delta relation the writer persists last; a
    delta counts when that relation's `_SUCCESS` or the `_COMMITTED`
    sentinel is present. With `marker=None` every delta directory
    counts (the retention and disk audits need the raw set)."""
    bases: list[int] = []
    deltas: list[int] = []
    try:
        entries = os.listdir(store_dir)
    except OSError:
        return bases, deltas
    for entry in entries:
        m = _BASE_RE.match(entry)
        if m:
            if not os.path.isfile(
                os.path.join(store_dir, entry, _BASE_SENTINEL)
            ):
                continue  # crash-remnant partial base: invisible
            bases.append(int(m.group(1)))
            continue
        m = _DELTA_RE.match(entry)
        if m:
            g = int(m.group(1))
            if marker is not None and not (
                os.path.isfile(
                    os.path.join(store_dir, entry, marker, "_SUCCESS")
                )
                or os.path.isfile(
                    os.path.join(store_dir, entry, _BASE_SENTINEL)
                )
            ):
                continue  # uncommitted (partial) generation: invisible
            deltas.append(g)
    return sorted(bases), sorted(deltas)


def resolve(
    store_dir: str, version: int | None, marker: str | None = None
) -> tuple[int, int, list[int]]:
    """(version, base gen <= version, COMMITTED delta gens in
    (base, version]); `version=None` means the latest committed one.
    Raises a descriptive error on an unseeded or GC'd-away read."""
    bases, deltas = scan_gens(store_dir, marker)
    if not bases:
        raise ValueError(
            f"delta-generation store at {store_dir!r} was never seeded: no "
            "base_g* snapshot found — seed it first (or check store_dir)"
        )
    if version is None:
        version = max(bases[-1], deltas[-1] if deltas else 0)
    usable = [b for b in bases if b <= version]
    if not usable:
        raise ValueError(
            f"delta-generation store at {store_dir!r} has no base at or below "
            f"version {version} (bases: {bases}) — GC removed it or the "
            "version predates the seed"
        )
    base = usable[-1]
    return version, base, [g for g in deltas if base < g <= version]


def latest_generation(store_dir: str, marker: str | None = None) -> int:
    """The store's current version: the highest base or COMMITTED
    delta generation present (0 = freshly seeded). Raises on an
    unseeded store."""
    return resolve(store_dir, None, marker)[0]


def read_deltas(
    spark: SparkSession, store_dir: str, name: str, gens: list[int]
) -> DataFrame | None:
    """Union of a delta relation across generations, each row stamped
    with its generation (`_gen`). Delta-sized by design."""
    out: DataFrame | None = None
    for g in gens:
        df = spark.read.parquet(delta_path(store_dir, g, name)).withColumn(
            "_gen", F.lit(g).cast("bigint")
        )
        out = df if out is None else out.unionByName(df)
    return out


def tombs_by_id(
    spark: SparkSession, store_dir: str, gens: list[int], id_col: str
) -> DataFrame | None:
    """(id, latest tombstone gen `_tg`) over the given generations'
    `tombs` relations — the tiny broadcast side of every row-grain
    read."""
    t = read_deltas(spark, store_dir, "tombs", gens)
    if t is None:
        return None
    return t.groupBy(F.col(id_col).cast("bigint").alias(id_col)).agg(
        F.max("_gen").alias("_tg")
    )


def live_rows(df: DataFrame, tombs: DataFrame, id_col: str) -> DataFrame:
    """The row-grain liveness rule: a `_gen`-stamped row of `df`
    survives iff its id has no tombstone in `tombs` (`tombs_by_id`'s
    (id, `_tg`) shape, broadcast) or the id's latest tombstone
    generation `_tg` lies BELOW the row's — a same-generation
    insert+tombstone dies, a later re-insert lives."""
    return (
        df.join(F.broadcast(tombs), id_col, "left")
        .filter(F.col("_tg").isNull() | (F.col("_tg") < F.col("_gen")))
        .drop("_tg")
    )


def read_rowstore(
    spark: SparkSession,
    store_dir: str,
    name: str,
    version: int | None = None,
    id_col: str = "doc_id",
    marker: str | None = None,
) -> DataFrame:
    """Reconstruct an id-keyed row relation at `version` — the
    ROW-GRAIN rule: base rows minus tombstoned ids, plus delta rows
    whose gen is ABOVE the id's latest tombstone, so a same-batch
    insert+tombstone dies (tomb gen == row gen kills) and a later
    re-insert lives. The base streams once behind broadcast probes;
    every other input is delta-sized. Serves the dedup signatures and
    the IVF inverted file. `marker` is the writer's commit-marker
    relation (see `scan_gens`)."""
    version, base, gens = resolve(store_dir, version, marker)
    tombs = tombs_by_id(spark, store_dir, gens, id_col)
    base_df = spark.read.parquet(base_path(store_dir, base, name))
    deltas = read_deltas(spark, store_dir, name, gens)
    if tombs is not None:
        base_df = base_df.join(
            F.broadcast(tombs.select(id_col)), id_col, "left_anti"
        )
        if deltas is not None:
            deltas = live_rows(deltas, tombs, id_col)
    if deltas is None:
        return base_df
    return base_df.unionByName(deltas.drop("_gen"))


def write_base(
    store_dir: str, gen: int, relations: dict, *also
) -> None:
    """Write base_g{gen}: the `relations` (name -> DataFrame) and any
    `also` write closures run concurrently, then the sentinel goes
    down strictly after all of them."""
    parallel_actions([
        *also,
        *(overwrite(df, base_path(store_dir, gen, n))
          for n, df in relations.items()),
    ])
    commit_base(store_dir, gen)


def write_delta(
    spark: SparkSession,
    store_dir: str,
    gen: int,
    relations: dict,
    marker: str,
    compact_every: int,
    fold,
) -> None:
    """Commit generation `gen`: clear its commit evidence, write every
    relation but `relations[marker]` concurrently, write the marker
    LAST, stamp the sentinel, then — every `compact_every`
    generations — fold a new base (see `compact`)."""
    uncommit_delta(store_dir, gen, marker)
    parallel_actions([
        overwrite(df, delta_path(store_dir, gen, n))
        for n, df in relations.items() if n != marker
    ])
    overwrite(relations[marker], delta_path(store_dir, gen, marker))()
    commit_delta(store_dir, gen)
    if compact_every and gen % compact_every == 0:
        _fold(spark, store_dir, gen, fold)


def _fold(spark: SparkSession, store_dir: str, gen: int, fold) -> None:
    # `fold` returns every relation's reconstruction at `gen` before
    # the first write: once base_g{gen}/x exists, a fresh resolve at
    # `gen` would pick the half-written base for the rest (path
    # listing is eager, so the plans stay pinned to the old base)
    write_base(store_dir, gen, fold(spark, store_dir, gen))
    gc_generations(store_dir)


def compact(spark: SparkSession, store_dir: str, marker: str, fold) -> int:
    """Compaction as a SCHEDULED MAINTENANCE JOB: fold the retained
    deltas into a new base at the latest committed generation v,
    OUTSIDE the ingest hot path (run the stream with
    `compact_every=0`), then GC. `fold(spark, store_dir, v)` returns
    the base's relations (name -> DataFrame) reconstructed at v.

    Replay-safe by the inline fold's argument: a batch writing v+1
    reads state at v, which the new base serves, and GC keeps the
    previous base for a replay of v itself. A no-op when v already
    has a base — folding a base onto itself would truncate the files
    the fold reads. Returns v."""
    gen = latest_generation(store_dir, marker)
    if gen not in scan_gens(store_dir)[0]:
        _fold(spark, store_dir, gen, fold)
    return gen


def gc_generations(store_dir: str) -> None:
    """The retention rule (module docstring): keep the newest TWO
    committed bases and the deltas above the older kept base."""
    bases, _deltas = scan_gens(store_dir)
    keep_from = bases[-2] if len(bases) >= 2 else bases[-1]
    # the keep horizon comes from COMMITTED bases only, but removal
    # walks the RAW listing: uncommitted crash-remnant bases/deltas
    # below the horizon are dead weight no read can ever resolve to
    try:
        entries = os.listdir(store_dir)
    except OSError:
        return
    for entry in entries:
        m = _BASE_RE.match(entry)
        if m and int(m.group(1)) < keep_from:
            shutil.rmtree(os.path.join(store_dir, entry), ignore_errors=True)
            continue
        m = _DELTA_RE.match(entry)
        if m and int(m.group(1)) <= keep_from:
            shutil.rmtree(os.path.join(store_dir, entry), ignore_errors=True)


def store_disk_report(store_dir: str, compact_every: int | None = None) -> dict:
    """Measured on-disk footprint of a delta-generation store plus
    the steady-state PROJECTION the retention rule implies:

        retained <= 2 bases + 2*compact_every deltas
        projected_bound = 2*max(base bytes)
                          + 2*compact_every*max(delta bytes)

    `max`, not median: the bound must DOMINATE the measured total
    (a median is not a bound). Returns plain driver-side numbers —
    this audits directories, not data."""

    def _du(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total

    bases, deltas = scan_gens(store_dir)
    base_bytes = {g: _du(os.path.join(store_dir, f"base_g{g}")) for g in bases}
    delta_bytes = {g: _du(os.path.join(store_dir, f"delta_g{g}")) for g in deltas}
    report = {
        "base_bytes": base_bytes,
        "delta_bytes": delta_bytes,
        "total_bytes": sum(base_bytes.values()) + sum(delta_bytes.values()),
        "n_bases": len(bases),
        "n_deltas": len(deltas),
    }
    if compact_every is not None and base_bytes:
        report["projected_bound_bytes"] = 2 * max(base_bytes.values()) + (
            2 * compact_every * max(delta_bytes.values(), default=0)
        )
    return report
