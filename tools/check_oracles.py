"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same sf dir; compare row count, column names, and an
order-insensitive value hash.

DRIVER-FAITHFUL: the driver converts oracle results through pandas
(``res.df()``), which turns DuckDB HUGEINT into float64 (``123`` →
``123.0``) and leaves list columns as unhashable python lists — both
historically invisible to a ``fetchall()``-based local gate (round-3
reds). This checker therefore (a) fetches the oracle side via pandas,
(b) normalizes with a type-preserving repr so an int/float dtype split
between Spark and the oracle is a mismatch, and (c) offers ``--audit``:
DESCRIBE every registered oracle and fail on any output column whose
DuckDB type pandas cannot round-trip losslessly (HUGEINT, DECIMAL,
LIST, STRUCT, ...).

Usage:
  python tools/check_oracles.py [sf_dir] [name_prefix]
  python tools/check_oracles.py --audit [sf_dir] [name_prefix]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = "region nation customer supplier part orders lineitem documents".split()

# DuckDB output types pandas cannot convert to a driver-hashable column.
# HUGEINT/UHUGEINT -> float64 (123 -> 123.0, breaking the int hash);
# DECIMAL -> decimal.Decimal objects; LIST/STRUCT/MAP -> unhashable
# python containers that crash the driver's sort_values.
BAD_TYPE_PREFIXES = ("HUGEINT", "UHUGEINT", "DECIMAL", "STRUCT", "MAP", "UNION")


def _bad_type(duck_type: str) -> bool:
    t = duck_type.upper()
    return t.startswith(BAD_TYPE_PREFIXES) or t.endswith("[]")


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def _norm(v):
    """Type-preserving cell normalization.

    Floats keep their '.0' (repr), so an integer column that pandas
    silently widened to float64 (the DuckDB HUGEINT path) hashes
    differently from Spark's long — exactly as the driver sees it.
    numpy scalars are unwrapped via .item() first.
    """
    if v is None:
        return "\x00"
    item = getattr(v, "item", None)
    if item is not None and type(v).__module__ == "numpy":
        v = item()
    if v != v:  # NaN (incl. pandas NaT-as-float); driver sees missing
        return "\x00"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _fresh_con(sf_dir: str):
    c = duckdb.connect()
    # explicit limits + a spill dir: large-sf oracle CTEs (the
    # recursive closure, blocked self-joins) otherwise hit DuckDB's
    # in-memory pool and fail with a hard bad-allocation.
    c.execute("SET memory_limit='48GB'")
    c.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):        # Spark-written (directory) parquet
            p = f"{p}/*.parquet"
        elif not os.path.exists(p):
            continue
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return c


def audit(sf_dir: str, prefix: str = "") -> int:
    """Type-audit every registered oracle: DESCRIBE (plan-only, no
    execution) and fail on driver-unhashable output column types."""
    import __spark_entry__ as e

    con = _fresh_con(sf_dir)
    os_ = e.oracle_sql()
    fail = 0
    for name, sql in sorted(os_.items()):
        if prefix and not name.startswith(prefix):
            continue
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as ex:
            print(f"{name:28s} DESCRIBE ERROR: {ex}")
            fail += 1
            con = _fresh_con(sf_dir)
            continue
        bad = [(c, t) for (c, t, *_rest) in desc if _bad_type(t)]
        if bad:
            fail += 1
            print(f"{name:28s} BAD TYPES: {bad}")
    print(f"audit: {len([n for n in os_ if not prefix or n.startswith(prefix)])} oracles, {fail} with driver-unhashable columns")
    return fail


def main(sf_dir: str, prefix: str = "") -> int:
    from openie_spark.session import get_spark

    import __spark_entry__ as e

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = _fresh_con(sf_dir)

    qs, os_ = e.queries(), e.oracle_sql()
    fail = 0
    for name, fn in qs.items():
        if prefix and not name.startswith(prefix):
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        if name not in os_:
            print(f"{name:28s} rows={len(srows):7d}  (no oracle — rows-only)")
            continue
        try:
            # pandas fetch = what the driver does; HUGEINT becomes
            # float64 here and the strict _norm makes that a mismatch.
            pdf = con.execute(os_[name]).df()
            dcols = list(pdf.columns)
            drows = [
                tuple(None if (x is None or (isinstance(x, float) and x != x)) else x
                      for x in row)
                for row in pdf.itertuples(index=False, name=None)
            ]
        except Exception as ex:
            print(f"{name:28s} ORACLE ERROR: {ex}")
            fail += 1
            # a DuckDB OOM poisons the connection (every later query
            # spuriously fails) — reconnect so failures stay per-query
            try:
                con.close()
            except Exception:
                pass
            con = _fresh_con(sf_dir)
            continue
        ok_n = len(srows) == len(drows)
        ok_c = sorted(scols) == sorted(dcols)
        ok_h = ok_c and value_hash(srows, scols) == value_hash(drows, dcols)
        status = "OK" if (ok_n and ok_c and ok_h) else "MISMATCH"
        print(f"{name:28s} rows={len(srows):7d}/{len(drows):7d} cols={'=' if ok_c else '!'} hash={'=' if ok_h else '!'} {status}")
        if status != "OK":
            fail += 1
            if not ok_c:
                print(f"   spark cols: {scols}\n   duck  cols: {dcols}")
            else:
                # show first differing rows for debug
                s = sorted(tuple(_norm(v) for v in r) for r in srows)
                d = sorted(tuple(_norm(v) for v in r) for r in drows)
                sd = [x for x in s if x not in set(map(tuple, d))][:3]
                ds = [x for x in d if x not in set(map(tuple, s))][:3]
                print(f"   spark-only: {sd}\n   duck-only:  {ds}")
    return fail


if __name__ == "__main__":
    argv = [a for a in sys.argv[1:]]
    do_audit = "--audit" in argv
    argv = [a for a in argv if a != "--audit"]
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    pfx = argv[1] if len(argv) > 1 else ""
    sys.exit(audit(sf, pfx) if do_audit else main(sf, pfx))
