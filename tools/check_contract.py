"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry against its ``oracle_sql()`` DuckDB equivalent
at a given sf dir and reports row-count / column / order-insensitive value
matches. Every verdict line ends with ``sha256=`` of the query's normalized
Spark rows (sorted column names and sorted stringified rows), so the outputs
of two checkouts compare with ``diff``. Usage::

    python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
                v = f"{v:.6f}"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in order]


def digest(norm_rows, norm_cols) -> str:
    """sha256 of :func:`normalize`'s output."""
    return hashlib.sha256(repr((norm_cols, norm_rows)).encode()).hexdigest()


def main():
    import duckdb

    import __spark_entry__ as entry_mod
    from nativeextractor_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("contract-check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        s_norm, s_cols = normalize(spark_rows, spark_cols)
        s_hash = digest(s_norm, s_cols)
        if name not in oracles:
            print(f"rows-only  {name}: {len(spark_rows)} rows sha256={s_hash}")
            continue
        try:
            res = con.execute(oracles[name])
            ora_cols = [d[0] for d in res.description]
            ora_arrow_types = {
                f.name: str(f.type) for f in res.fetch_record_batch().schema
            }
            res = con.execute(oracles[name])
            ora_rows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {e}")
            continue
        # the driver hashes TYPED values (arrow): a DuckDB HUGEINT/decimal
        # vs Spark bigint/double mismatch fails there even when the
        # stringified values below agree. r7 shipped exactly that red
        # (curate_corpus_metrics: oracle UNION ALL promoted to decimal128
        # while the local gate only warned on decimal256) — so since r8 the
        # gate compares the Spark ARROW schema against the oracle's and
        # FAILS on any same-named column whose arrow types differ.
        for c, t in ora_arrow_types.items():
            if any(k in t for k in ("decimal256", "decimal128", "int128", "halffloat")):
                print(f"WARN  {name}: oracle column {c} has exotic type {t}")
        # canonicalize arrow types to the PYTHON VALUE CLASS the driver's
        # hash sees: integer widths collapse (int32 and int64 both hash as
        # python int — quality/dup_span_stats were hash-green in r7 with
        # int32-vs-int64 columns), while decimal stays distinct from int
        # (the r7 red class: Decimal('N') hashes differently from N).
        def canon(t: str) -> str:
            if t.startswith(("int", "uint")):
                return "int"
            if t in ("float", "double", "halffloat"):
                return "float"
            if t.startswith(("decimal",)):
                return "decimal"
            if t in ("string", "large_string", "utf8", "large_utf8"):
                return "str"
            return t

        try:
            spark_arrow_types = {
                f.name: str(f.type) for f in df.toArrow().schema
            }
        except Exception as e:  # pragma: no cover - arrow conversion gap
            spark_arrow_types = None
            print(f"WARN  {name}: could not derive Spark arrow schema: {e}")
        type_mismatches = []
        if spark_arrow_types is not None:
            for c, t in ora_arrow_types.items():
                st = spark_arrow_types.get(c)
                if st is not None and canon(st) != canon(t):
                    type_mismatches.append(f"{c}: spark={st} oracle={t}")
        if type_mismatches:
            print(f"FAIL  {name}: arrow type mismatch ({'; '.join(type_mismatches)})")
        o_norm, o_cols = normalize(ora_rows, ora_cols)
        ok_cols = s_cols == o_cols
        ok_count = len(s_norm) == len(o_norm)
        ok_vals = s_norm == o_norm
        ok_types = not type_mismatches
        status = (
            "OK   " if (ok_cols and ok_count and ok_vals and ok_types) else "FAIL "
        )
        if status.startswith("FAIL"):
            failures.append(name)
        print(
            f"{status}{name}: rows {len(s_norm)}/{len(o_norm)}"
            f" cols={'OK' if ok_cols else f'{s_cols} vs {o_cols}'}"
            f" vals={'OK' if ok_vals else 'MISMATCH'}"
            f" sha256={s_hash}"
        )
        if not ok_vals and ok_cols:
            s_only = [r for r in s_norm if r not in set(o_norm)][:3]
            o_only = [r for r in o_norm if r not in set(s_norm)][:3]
            if s_only:
                print("   spark-only:", s_only)
            if o_only:
                print("   oracle-only:", o_only)
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
