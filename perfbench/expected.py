"""Regenerate ``expected.json``: one value-hash per batch face, computed by
the face's DuckDB oracle (``QuerySpec.oracle``) over the benchmark's
generated tables, normalized like ``tools/check_correctness.py``.

    python3 perfbench/expected.py

Run from the repository root after changing ``tables.py``, ``batch.SF`` or
a face's oracle. The iterative oracles are recursive SQL and take a while,
which is why the hashes are stored rather than computed per run.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    from perfbench import batch, tables
    from tools.check_correctness import value_hash
    from trike_spark.registry import REGISTRY, load_all_query_modules

    load_all_query_modules()
    faces: dict[str, str] = {}
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".expected-") as tmp:
        tables.write_tables(tmp, batch.SF, order_seed=None)
        con = duckdb.connect()
        for name in os.listdir(tmp):
            con.execute(f"CREATE VIEW {name.removesuffix('.parquet')} AS SELECT * FROM '{tmp}/{name}'")
        for face in batch.FACES:
            t0 = time.perf_counter()
            rel = con.sql(REGISTRY[face].oracle)
            cols, rows = list(rel.columns), rel.fetchall()
            faces[face] = value_hash(cols, rows)
            print(f"{face}: {len(rows)} rows, {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    out = {"sf": batch.SF, "content_seed": tables.CONTENT_SEED, "faces": faces}
    with open(batch.EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
