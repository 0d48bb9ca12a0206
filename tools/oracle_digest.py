"""Digest every registered DuckDB oracle at one sf dir — no Spark.

Prints one line per query: name, row count and the sha256 of its sorted,
normalised rows (the normalisation ``verify_local.py`` compares with).
Two trees whose oracle text differs but whose answers agree print the
same lines, so diffing the output is the check for an oracle refactor.
Usage:

    python tools/oracle_digest.py <sf_dir> [name-prefix ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from verify_local import _norm_rows, duckdb_views  # noqa: E402

from goodreads_pyspark_spark.queries import all_oracles  # noqa: E402


def main() -> int:
    sf_dir, prefixes = sys.argv[1], tuple(sys.argv[2:])
    con = duckdb_views(sf_dir)
    t0 = time.time()
    for name, sql in all_oracles().items():
        if prefixes and not name.startswith(prefixes):
            continue
        at = con.execute(sql).arrow()
        cols = list(at.column_names)
        rows = _norm_rows(cols, [tuple(d[c] for c in cols) for d in at.to_pylist()])
        h = hashlib.sha256(repr((sorted(cols), rows)).encode()).hexdigest()
        print(f"{name} {len(rows)} {h}")
    print(f"# {time.time() - t0:.1f}s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
