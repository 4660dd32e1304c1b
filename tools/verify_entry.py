"""Local simulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and its ``oracle_sql()``
in DuckDB over the same parquet, compares row count, sorted column names,
and an order-insensitive multiset of stringified rows.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

import __spark_entry__ as e
from sifter_mrc_search_engine_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    """Dtype-faithful stringify: the driver hashes ``5.0`` (float64) and
    ``5`` (int64) DIFFERENTLY, so format floats with ``repr`` (keeps the
    trailing ``.0``) and ints bare.  The old ``%.6g`` formatting collapsed
    ``5.0`` to ``"5"`` and masked the r2/r4 DuckDB-HUGEINT→float64 oracle
    bug twice (VERDICT r4 item 2).
    """
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        if v != v:
            return "NULL"
        return repr(float(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)


_KIND = {"u": "i"}  # unsigned ints count as ints


def dtype_kind_mismatches(spdf, ddf, order):
    """Per-column pandas dtype *kind* comparison (int vs float vs object
    vs datetime).  DuckDB HUGEINT comes back float64 ('f') while Spark
    BIGINT is int64 ('i') — the driver sees that as a hash mismatch, so
    the local gate must too."""
    bad = []
    for c in order:
        ks = _KIND.get(spdf[c].dtype.kind, spdf[c].dtype.kind)
        kd = _KIND.get(ddf[c].dtype.kind, ddf[c].dtype.kind)
        if ks != kd:
            bad.append(f"{c}: spark={spdf[c].dtype} vs duckdb={ddf[c].dtype}")
    return bad


def norm_rows(pdf, cols):
    """Mirror the DRIVER's canonicalizer: pandas sort_values over all
    columns sorted by name. Crucially this THROWS on unhashable cells
    (lists/arrays), exactly like the driver — r1 shipped three
    array-column queries because the old stringify here masked that.
    """
    order = sorted(cols)
    pdf = pdf[order].sort_values(order).reset_index(drop=True)  # raises on list cells
    # Column-wise stringify: iterrows() upcasts mixed-dtype rows to a
    # common float64, which both masks int-vs-float drift and corrupts
    # int64 values past 2**53.  .tolist() keeps each column's own dtype.
    cols_str = [[norm_cell(v) for v in pdf[c].tolist()] for c in order]
    return sorted("|".join(vals) for vals in zip(*cols_str))


def oracle_connection(sf_dir: str):
    """DuckDB connection with a view per table present under ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def entry_problems(sdf, con, sql: str) -> list[str]:
    """Every reason the gate rejects one entry's Spark result ``sdf``
    against its DuckDB ``sql`` oracle (empty when it passes): the
    timestamp hash hazard, column names, row count, the canonicalized
    row multiset and per-column dtype kinds."""
    scols = sdf.columns
    spdf = sdf.toPandas()
    srows = [tuple(r) for r in spdf.itertuples(index=False)]
    # Hash hazard: raw timestamp outputs with sub-second precision hash
    # differently between Arrow (ns) and DuckDB (µs) even for equal
    # instants. Entry queries must emit epoch-micros BIGINT or strings.
    ts_cols = [c for c, t in sdf.dtypes if t.startswith("timestamp")]
    if ts_cols:
        import datetime as _dt

        if any(
            isinstance(v, _dt.datetime) and v.microsecond != 0
            for r in srows
            for v in r
        ):
            return [
                f"hash-hazard: µs-precision timestamp column(s) {ts_cols} "
                "— emit epoch micros BIGINT instead"
            ]
    dres = con.execute(sql)
    dcols = [d[0] for d in dres.description]
    ddf = dres.df()
    drows = [tuple(r) for r in ddf.itertuples(index=False)]
    if sorted(scols) != sorted(dcols):
        return [f"cols {scols} vs {dcols}"]
    problems = []
    if len(srows) != len(drows):
        problems.append(f"count {len(srows)} vs {len(drows)}")
    else:
        a, b = norm_rows(spdf, scols), norm_rows(ddf, dcols)
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        if diffs:
            problems.append("vals" + "".join(
                f"\n   spark={x[:120]}\n   duck ={y[:120]}" for x, y in diffs
            ))
    if len(srows) and len(drows):
        problems += [
            f"dtype {m}" for m in dtype_kind_mismatches(spdf, ddf, sorted(scols))
        ]
    return problems


def main():
    spark = get_spark("verify-entry", master="local[8]", shuffle_partitions=16)
    con = oracle_connection(SF_DIR)

    if ONLY is None:
        res = e.entry(spark)
        rows = res.collect()
        print(f"entry: {len(rows)} rows, schema={res.columns}")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if ONLY is not None and name not in ONLY:
            continue
        sdf = fn(spark, SF_DIR)
        if name not in oracles:
            print(f"{name:32s} rows-only: {sdf.count()} rows")
            continue
        problems = entry_problems(sdf, con, oracles[name])
        if problems:
            failures += 1
            print(f"{name:32s} FAIL " + "; ".join(problems))
        else:
            print(f"{name:32s} OK")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
