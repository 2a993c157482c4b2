#!/usr/bin/env python3
"""Compare the benchmark's generated tables with a reference copy.

    python3 perfbench/compare_data.py <reference_dir> <generated_dir>

Both directories hold `<table>.parquet` files. For every table it
prints the row counts, and for every scalar column the distinct count,
min, max and the share of the most frequent value (skew) on both sides.
Schemas that differ are flagged. Exits 1 if a table or its schema differs
in row count or column types, else 0.
"""
import sys

import duckdb

from oracle import TABLES


def column_stats(con, path, col):
    """(distinct count, min, max, share of the most frequent value); min
    and max are cut to 24 characters for printing."""
    n, lo, hi, top = con.execute(
        f'SELECT count(DISTINCT "{col}"), min("{col}"), max("{col}"), '
        f'(SELECT max(c) FROM (SELECT count(*) c FROM read_parquet(?) GROUP BY "{col}")) '
        f"/ count(*) FROM read_parquet(?)", [path, path]).fetchone()
    return n, str(lo)[:24], str(hi)[:24], top


def compare(ref, gen, out=sys.stdout):
    con = duckdb.connect()
    ok = True
    for t in TABLES:
        a, b = f"{ref}/{t}.parquet", f"{gen}/{t}.parquet"
        schema_a = con.execute("DESCRIBE SELECT * FROM read_parquet(?)", [a]).fetchall()
        schema_b = con.execute("DESCRIBE SELECT * FROM read_parquet(?)", [b]).fetchall()
        rows = [con.execute("SELECT count(*) FROM read_parquet(?)", [p]).fetchone()[0]
                for p in (a, b)]
        same = rows[0] == rows[1] and [c[:2] for c in schema_a] == [c[:2] for c in schema_b]
        ok &= same
        print(f"{t}: rows {rows[0]} / {rows[1]}{'' if same else '  DIFFERS'}", file=out)
        for col, ty, *_ in schema_a:
            if ty.endswith("[]"):
                continue
            x, y = column_stats(con, a, col), column_stats(con, b, col)
            print(f"  {col:16s} distinct {x[0]:>6} / {y[0]:<6} top share "
                  f"{x[3]:.3f} / {y[3]:.3f}  range {x[1]}..{x[2]} / {y[1]}..{y[2]}", file=out)
    return ok


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    sys.exit(0 if compare(sys.argv[1], sys.argv[2]) else 1)
