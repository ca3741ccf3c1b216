"""Pin the expected result of every benchmarked query.

Generates the benchmark's data (``datagen.py``) at each scale factor
the benchmark uses (sf0.1 for measurement, sf0.001 for the self-check),
runs the DuckDB oracle from ``torua_spark.queries`` of each query in
``run.ANALYTICS`` over it and writes the row count and value hash
(``check.digest``) to ``expected.json``. The benchmark compares every
run's Spark results against these pins.

Run from the repository root:

    python3 perfbench/pin.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import check  # noqa: E402
import datagen  # noqa: E402
from run import ANALYTICS  # noqa: E402


def oracle_sql(con) -> dict[str, str]:
    from torua_spark.queries import all_oracle_sql, oracle_renderers

    sqls = {n: s for n, s in all_oracle_sql().items() if n in ANALYTICS}
    n_emb = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    for name, render in oracle_renderers().items():
        if name in sqls:
            sqls[name] = render(n_emb)
    return sqls


def pin(sf: float) -> dict:
    from torua_spark.sources.catalog import TABLES

    with tempfile.TemporaryDirectory() as tmp:
        data_dir = os.path.join(tmp, f"sf{sf:g}")
        datagen.write(data_dir, sf)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        sqls = oracle_sql(con)
        missing = sorted(set(ANALYTICS) - set(sqls))
        if missing:
            raise SystemExit(f"no oracle for {missing}")
        pinned = {}
        for name in sorted(sqls):
            res = con.execute(sqls[name])
            cols = [d[0] for d in res.description]
            n, h = check.digest(cols, res.fetchall())
            pinned[name] = {"rows": n, "hash": h}
            print(f"sf{sf:g} oracle {name}: {n} rows", flush=True)
    return pinned


def main() -> int:
    out = {"data_seed": datagen.DATA_SEED,
           "sf": {f"{sf:g}": pin(sf) for sf in check.SCALES}}
    with open(check.EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {check.EXPECTED_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
