"""Dev loop: run every declared query vs its oracle at a given SF.

Usage: python tests/run_parity.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from glaciersgee_spark.session import get_spark  # noqa: E402
from tests.parity import compare, make_duck  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    # Result lines must start at column 0 so `grep -c '^✓'` counts the
    # passes of a `> log 2>&1` run: get_spark turns Spark's console
    # progress bar off, and stdout is flushed line by line so no result
    # line is split by a stderr write.
    sys.stdout.reconfigure(line_buffering=True)
    spark = get_spark("parity")
    con = make_duck(sf_dir)
    qs, oracles = queries(), oracle_sql()
    failed = 0
    for name, fn in sorted(qs.items()):
        if only and not any(o in name for o in only):
            continue
        t0 = time.monotonic()
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                n = df.count()
                print(f"  {name:28s} rows-only n={n} ({time.monotonic()-t0:.1f}s)")
                if n == 0:
                    print(f"    WARNING: {name} returned 0 rows")
                continue
            m = compare(name, df, oracles[name], con)
        except Exception as e:  # noqa: BLE001
            failed += 1
            print(f"✗ {name:28s} EXCEPTION: {type(e).__name__}: {str(e)[:500]}")
            continue
        if m is None:
            print(f"✓ {name:28s} ({time.monotonic()-t0:.1f}s)")
        else:
            failed += 1
            print(f"✗ {m}")
    print(f"\n{'FAIL' if failed else 'OK'}: {failed} mismatching queries")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
