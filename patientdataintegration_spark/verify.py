"""Library-level correctness verification: run a named suite query on
Spark AND its ANSI-SQL oracle twin on DuckDB over the same parquet
tables, and compare row count, column names, and order-insensitive
values (exact for ints/strings/bools; floats flagged separately when
they only match within tolerance — a tolerance-only match means a
value-hash gate would fail).

This is the engine's answer to "how do I trust the migration?": a
user switching from the reference pipeline can verify any operator
against an independent engine with one call
(`Engine.verify("q04_auroc")`). `tools/oracle_check.py` is the CLI
over this module.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(x):
    """numpy arrays/scalars → plain python so str() and == behave."""
    if hasattr(x, "tolist"):
        return x.tolist()
    if hasattr(x, "item"):
        return x.item()
    return x


def canon(df) -> list[tuple]:
    """Column-name-sorted, row-sorted representation (driver-style)."""
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(_norm(x) for x in r) for r in df.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def strfy(x) -> str:
    """Driver-style stringification of one value. The driver's value
    hash stringifies normalized python values, so ``1`` vs ``1.0`` and
    ``0.0`` vs ``-0.0`` are DIFFERENT even though Python ``==`` says
    equal — this function is the local stand-in for that hash."""
    x = _norm(x)
    if isinstance(x, (list, tuple)):
        return "[" + ", ".join(strfy(v) for v in x) + "]"
    return str(x)


def tolerance_equal(a, b) -> bool:
    """Looser-than-hash comparison: Python ``==`` with NaN==NaN, plus
    a 1e-12 relative float tolerance. Used only to CLASSIFY failures
    (hash-semantics bug vs genuine value divergence), never to pass."""
    if a is None and b is None:
        return True
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        if (
            not isinstance(a, (list, tuple))
            or not isinstance(b, (list, tuple))
            or len(a) != len(b)
        ):
            return False
        return all(tolerance_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        if af == bf:
            return True
        return abs(af - bf) <= 1e-12 * max(abs(af), abs(bf))
    return a == b


def values_equal(a, b) -> bool:
    """Exact, hash-faithful equality: stringified values must match
    (NaN stringifies to 'nan' on both engines, so NaN==NaN holds)."""
    return strfy(a) == strfy(b)


def _dtype_kind(dt) -> str:
    """Collapse a pandas dtype to a comparison kind: 'i' int-like,
    'f' float, 'b' bool, 'O' everything else (object/str/struct)."""
    k = getattr(dt, "kind", "O")
    if k in ("i", "u"):
        return "i"
    return k if k in ("f", "b") else "O"


def compare_frames(spark_pdf, duck_pdf) -> list[str]:
    """Problems list; empty = exact (hash-faithful) match.

    Failure classes, mirroring the driver's gate
    (harden-the-checker fix for the thrice-recurring q74/q42/q141
    "builder PASS, driver hash FAIL" bug class):

    - ``schema:`` / ``rowcount:`` — structural mismatch.
    - ``dtype:`` — int column on one engine, float on the other
      (e.g. DuckDB HUGEINT → float64 via fetchdf): every non-null
      value stringifies differently, so the hash fails even when
      Python ``==`` says the values are equal.
    - ``HASH-FAIL`` — values compare equal under ``==`` but their
      stringifications differ (``1`` vs ``1.0``, ``-0.0`` vs ``0.0``).
    - ``WARN-INEXACT`` — values differ but only within 1e-12 relative
      tolerance (FP-order noise; the hash would differ too).
    - ``value:`` — genuine value divergence.
    """
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"schema: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    for c in sorted(spark_pdf.columns):
        ks, kd = _dtype_kind(spark_pdf[c].dtype), _dtype_kind(duck_pdf[c].dtype)
        if {ks, kd} == {"i", "f"}:
            problems.append(
                f"dtype: column {c!r} spark={spark_pdf[c].dtype} "
                f"duck={duck_pdf[c].dtype} (int vs float stringifies "
                f"differently -> driver hash fails)"
            )
    sa, sb = canon(spark_pdf), canon(duck_pdf)
    n_bad = 0
    n_hashfail = 0
    n_inexact = 0
    for ra, rb in zip(sa, sb):
        for va, vb in zip(ra, rb):
            if values_equal(va, vb):
                continue
            if tolerance_equal(va, vb):
                # == / tolerance says equal, stringification disagrees
                try:
                    strict = _norm(va) == _norm(vb) or (va is None and vb is None)
                except (TypeError, ValueError):
                    strict = False
                if strict:
                    n_hashfail += 1
                    if n_hashfail <= 3:
                        problems.append(
                            f"HASH-FAIL (==-equal, str differs): "
                            f"spark={strfy(va)!r} duck={strfy(vb)!r} in {ra}"
                        )
                else:
                    n_inexact += 1
                    if n_inexact <= 3:
                        problems.append(
                            f"WARN-INEXACT (tolerance-only match, hash "
                            f"would differ): spark={strfy(va)!r} duck={strfy(vb)!r}"
                        )
            else:
                n_bad += 1
                if n_bad <= 3:
                    problems.append(f"value: spark={ra} duck={rb}")
            break
    if n_bad > 3:
        problems.append(f"... {n_bad} mismatched rows total")
    if n_hashfail > 3:
        problems.append(f"... {n_hashfail} hash-fail rows total")
    if n_inexact > 3:
        problems.append(f"... {n_inexact} tolerance-only rows total")
    return problems


def duckdb_connection(sf_dir: str):
    """A DuckDB connection with the catalog tables registered as
    views over the same parquet files Spark reads."""
    import duckdb

    con = duckdb.connect()
    # an in-memory DuckDB has NO spill location by default, so a
    # heavy oracle (q189's recursive k-core at sf0.1) racing the
    # Spark JVM for RAM dies on a failed allocation instead of going
    # out-of-core — point it at a temp directory so memory pressure
    # degrades to disk spill, never a red gate
    try:
        con.execute("SET temp_directory='/tmp/pdi_duckdb_spill'")
        con.execute("SET max_temp_directory_size='60GB'")
    except Exception:
        pass  # older DuckDB without these pragmas: keep the default
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def verify_query(
    spark: SparkSession, sf_dir: str, name: str, con=None
) -> dict:
    """Run one named suite query and its oracle; return a result dict
    {name, rows, match, problems}."""
    from patientdataintegration_spark.suite import ORACLES, QUERIES

    if name not in QUERIES:
        raise KeyError(f"unknown query {name!r}")
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    own_con = con is None
    if own_con:
        con = duckdb_connection(sf_dir)
    try:
        ddf = con.execute(ORACLES[name]).fetchdf()
    finally:
        if own_con:
            con.close()
    problems = compare_frames(sdf, ddf)
    return {
        "name": name,
        "rows": len(sdf),
        "match": not problems,
        "problems": problems,
    }
