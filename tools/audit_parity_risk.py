"""Audit the oracle catalog for the known local-green/driver-red classes.

The driver hashes query outputs with its own normalization; the local
harness (tools/check_oracles.py) normalizes floats at 10 significant
digits. Anything the two could round differently is a latent driver-only
mismatch — the class behind the one red driver row in project history
(r4 `m_mixture_epochs`, an uncast-HUGEINT oracle). This tool runs three
checks and prints one line per finding:

1. TYPE   — oracle final-projection columns typed HUGEINT/UHUGEINT/DECIMAL
            (width-unstable across engines; also enforced as
            tests/test_query_registry.py::test_no_hugeint_or_decimal_oracle_outputs).
2. FLOAT  — for every query whose oracle emits DOUBLE columns, compare the
            Spark and DuckDB result multisets at %.17g (bit-exact doubles).
            A query that matches here cannot be split by ANY float
            normalization a driver could use.
3. TIES   — every ORDER BY ... LIMIT in an oracle, for eyeballing that a
            unique tie-breaker key trails the ranking expression.

Usage: python tools/audit_parity_risk.py [sf_dir] [--window-only]
Exit code 1 if TYPE findings exist or any FLOAT comparison differs.
"""

from __future__ import annotations

import math
import re
import sys

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(cols, rows, fmt=".17g"):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else format(v, fmt)
        return str(v)

    return sorted("|".join(cell(r[i]) for i in order) for r in rows)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = args[0] if args else "/root/testdata/sf0.01"
    window_only = "--window-only" in sys.argv[1:]

    sys.path.insert(0, "/root/repo")
    from pdf_extractor_spark.queries import (
        _DRIVER_WINDOW,
        all_oracles,
        all_queries,
    )
    from pdf_extractor_spark.session import build_session

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    oracles = all_oracles()
    names = [
        n for n in oracles if not window_only or n in set(_DRIVER_WINDOW)
    ]

    bad_types, float_targets = [], []
    for n in names:
        rel = con.sql(oracles[n])
        for c, ty in zip(rel.columns, rel.types):
            ty = str(ty)
            if ty in ("HUGEINT", "UHUGEINT") or ty.startswith("DECIMAL"):
                bad_types.append((n, c, ty))
                print(f"TYPE  {n}.{c}: {ty}")
            if ty in ("DOUBLE", "FLOAT"):
                float_targets.append(n)
        for m in re.finditer(r"ORDER BY[^()]*?LIMIT \d+", oracles[n], re.I | re.S):
            print(f"TIES  {n}: {' '.join(m.group(0).split())[:140]}")

    float_targets = sorted(set(float_targets))
    diffs = []
    if float_targets:
        spark = build_session(
            app_name="parity-audit",
            master="local[8]",
            extra_conf={"spark.sql.shuffle.partitions": "8"},
        )
        qs = all_queries()
        for n in float_targets:
            sdf = qs[n](spark, sf)
            a = _canon(sdf.columns, [tuple(r) for r in sdf.collect()])
            rel = con.sql(oracles[n])
            b = _canon(rel.columns, rel.fetchall())
            status = "bit-exact" if a == b else "DIFF"
            if a != b:
                diffs.append(n)
            print(f"FLOAT {n}: {status}")
            spark.catalog.clearCache()
        spark.stop()

    print(
        f"\n{len(bad_types)} type findings, {len(diffs)} float diffs "
        f"of {len(float_targets)} float queries ({len(names)} audited)"
    )
    return 1 if (bad_types or diffs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
