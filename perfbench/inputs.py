"""Write a ``curation_batch`` run's inputs: the seeded tables and the
DuckDB oracle result of every query the run may execute.

Usage: python3 perfbench/inputs.py <out_dir> <sf> <seed> <query>...

It runs as a child of the benchmark, before the session starts, so the
memory of building the tables and of DuckDB stays out of the measured
driver process. Tables go to ``<out_dir>/tables``; each query's oracle
result is pickled to ``<out_dir>/oracle/<query>.pkl``.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import datagen  # noqa: E402


def main(argv: list[str]) -> int:
    out_dir, sf, seed, names = argv[0], float(argv[1]), int(argv[2]), argv[3:]
    tables = os.path.join(out_dir, "tables")
    datagen.write(tables, sf, seed)

    import duckdb

    from ytspark.queries import registry

    reg = registry()
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    oracle = os.path.join(out_dir, "oracle")
    os.makedirs(oracle, exist_ok=True)
    for name in names:
        con.execute(reg[name].oracle).df().to_pickle(os.path.join(oracle, f"{name}.pkl"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
