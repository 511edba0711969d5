"""Local mirror of the driver's oracle-diff gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB at the given sf dir; compares row count,
column-name set, and an order-insensitive value hash (columns sorted by
name, rows sorted, floats rounded to 9 significant-ish decimals before
hashing). Exit 1 on any mismatch.

Usage: python tools/check_correctness.py [sf_dir] [name_filter] [--json PATH]

--json PATH additionally writes a driver-artifact-shaped record
(per-query rows_match/schema_match/hash_match/spark_rows/oracle_rows/err)
so full local gate runs can be committed alongside the driver's
50-entry windowed CORRECTNESS_r{N}.json (ADVICE r06: new registry
entries should always have recorded certification before their first
driver row).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import sys
from pathlib import Path

import duckdb


def normalize(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{normalize(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(normalize(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: --json requires a PATH operand", file=sys.stderr)
            return 2
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
    name_filter = argv[1] if len(argv) > 1 else None

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from user_feed_cdc_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    n_checked = 0
    record: dict[str, dict] = {}
    wanted = name_filter.split(",") if name_filter else None
    for name, fn in qs.items():
        if wanted and not any(w in name for w in wanted):
            continue
        n_checked += 1
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # a broken query must not void the run
            print(f"  {name:35s} ERROR {type(e).__name__}: {e}")
            failures.append(name)
            record[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(e).__name__}: {e}"[:300],
            }
            continue
        if name not in oracles:
            print(f"  {name:35s} rows-only: {len(srows)} rows")
            record[name] = {
                "rows_match": True, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None,
            }
            continue
        # Type gate FIRST: the driver hashes DuckDB HUGEINT (int128,
        # from un-cast SUM/list_sum over integers) and DECIMAL
        # differently than BIGINT, a class invisible to the Python-int
        # normalization below (r03 verdict: 7/7 hash failures were
        # exactly the HUGEINT-output oracles). Reject them locally.
        try:
            rel = con.sql(oracles[name])
            bad_types = [
                f"{c}:{t}"
                for c, t in zip(rel.columns, (str(t) for t in rel.types))
                if "HUGEINT" in str(t).upper() or "DECIMAL" in str(t).upper()
            ]
            dres = con.execute(oracles[name])
            dcols = [d[0] for d in dres.description]
            drows = dres.fetchall()
        except Exception as e:  # a broken ORACLE must not void the run either
            print(f"  {name:35s} ORACLE-ERROR {type(e).__name__}: {e}")
            failures.append(name)
            record[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": None,
                "err": f"oracle: {type(e).__name__}: {e}"[:300],
            }
            continue
        problems = []
        # The DRIVER's canonicalizer (pandas sort_values over all
        # columns) cannot hash list/map cells — an ARRAY/MAP-typed
        # output column crashes it even when the local gate passes
        # (r07: similarity_pandas_udf_normalize, text_hashed_features).
        # Reject them here so the failure surfaces before the driver.
        from pyspark.sql import types as _T

        complex_cols = [
            f.name
            for f in sdf.schema.fields
            if isinstance(f.dataType, (_T.ArrayType, _T.MapType))
        ]
        if complex_cols:
            problems.append(
                f"oracle-backed entry returns ARRAY/MAP columns "
                f"{complex_cols} — the driver canonicalizer cannot hash "
                "them; reshape to scalar columns (posexplode / array_join)"
            )
        if bad_types:
            problems.append(
                f"oracle emits driver-unhashable types {bad_types} — "
                "CAST the expression to BIGINT/DOUBLE in the oracle SQL"
            )
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh, dh = value_hash(scols, srows), value_hash(dcols, drows)
            if sh != dh:
                problems.append("value-hash mismatch")
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = sorted("|".join(normalize(r[i]) for i in order_s) for r in srows)
                dset = sorted("|".join(normalize(r[i]) for i in order_d) for r in drows)
                for a, b in zip(sset, dset):
                    if a != b:
                        problems.append(f"  first diff:\n   spark: {a}\n   duck : {b}")
                        break
        status = "OK" if not problems else "FAIL"
        print(f"  {name:35s} {status}  ({len(srows)} rows)")
        for p in problems:
            print(f"     {p}")
        if problems:
            failures.append(name)
        record[name] = {
            "rows_match": len(srows) == len(drows),
            "schema_match": sorted(scols) == sorted(dcols),
            "hash_match": not problems,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": "; ".join(problems)[:300] if problems else None,
        }

    if name_filter and n_checked == 0:
        print(f"no registry entry matches filter {name_filter!r}")
        return 1
    print(f"\n{n_checked - len(failures)}/{n_checked} checked queries match")
    if json_path:
        import json as _json

        with open(json_path, "w") as f:
            _json.dump(record, f, indent=1, sort_keys=True)
        print(f"wrote {json_path} ({len(record)} entries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
