"""Driver-hash dtype hazard audit across the oracle registry.

The per-round driver compares Spark and DuckDB results with a
dtype-sensitive value hash: a column that is int64 on one side and
float64 on the other mismatches even when every value is numerically
identical (str(9) != str(9.0)). The pytest oracle gate
(tests/oracle_utils.canon) deliberately canonicalizes integral floats
to the same token as ints — bit-exactness across engines is its job —
so it HIDES this class. The one instance found so far (DuckDB widening
SUM(BIGINT) to HUGEINT, which pandas lands as float64 against Spark's
int64) was caught by hand the day before the r11 driver run; this tool
makes that sweep mechanical.

For every registry key with an oracle it runs both engines at the
driver's correctness SF and flags any column whose pandas dtype KIND
differs (int vs float vs object vs datetime vs bool), plus object
columns whose Python payload types differ (Decimal vs str vs list).
Exit 1 on any hazard.

Usage: python tools/dtype_audit.py [--sf-dir DIR] [--keys k1,k2,...]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def _kind(series) -> str:
    k = series.dtype.kind  # i/u -> int, f -> float, M -> datetime, ...
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "M":
        return "datetime"
    if k == "b":
        return "bool"
    if k == "O":
        nn = series.dropna()
        return f"object<{type(nn.iloc[0]).__name__}>" if len(nn) else "object<empty>"
    return str(series.dtype)


def audit(keys, sf_dir: str) -> list[str]:
    import __spark_entry__ as entry_mod  # noqa: PLC0415
    from university_data_lakehouse_spark.session import get_spark  # noqa: PLC0415
    from oracle_utils import duck_con  # noqa: PLC0415

    spark = get_spark("dtype-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    con = duck_con(sf_dir)

    hazards: list[str] = []
    for key in keys:
        if key not in oracles:
            print(f"  {key}: rows-only key, skipped")
            continue
        try:
            sdf = qs[key](spark, sf_dir).toPandas()
            odf = con.sql(oracles[key]).df()
        except Exception as exc:  # an engine error is itself a finding
            hazards.append(f"{key}: ERROR {type(exc).__name__}: {exc}")
            print(f"  {key}: ERROR {exc}")
            continue
        cols_s, cols_o = sorted(sdf.columns), sorted(odf.columns)
        if cols_s != cols_o:
            hazards.append(f"{key}: column sets differ {cols_s} vs {cols_o}")
            continue
        bad = []
        for c in cols_s:
            ks, ko = _kind(sdf[c]), _kind(odf[c])
            if ks != ko:
                bad.append(f"{c}: spark={ks} oracle={ko}")
        if bad:
            hazards.append(f"{key}: " + "; ".join(bad))
            print(f"  {key}: HAZARD " + "; ".join(bad))
        else:
            print(f"  {key}: ok ({len(sdf)} rows)")
    return hazards


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--keys", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entry_mod  # noqa: PLC0415
    if args.keys:
        keys = args.keys.split(",")
    else:
        keys = list(entry_mod.queries())

    hazards = audit(keys, args.sf_dir)
    if hazards:
        print(f"dtype_audit: {len(hazards)} HAZARD(s) — the driver's "
              "dtype-sensitive hash would mismatch these keys:")
        for h in hazards:
            print(f"  {h}")
        return 1
    print(f"dtype_audit: OK — {len(keys)} keys, no cross-engine dtype "
          "divergence")
    return 0


if __name__ == "__main__":
    sys.exit(main())
