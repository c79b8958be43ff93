"""Expected results from the catalog's DuckDB oracles.

Each catalog query carries a DuckDB SQL twin. Run over the same generated
parquet files, it gives the value hash the engine's result must match.

    python3 -m perfbench.oracle --workload W --seed S --data DIR --threads N

writes the seed's input tables to DIR and the expected hashes of the
workload's checked queries to DIR/expected.json.
"""

from __future__ import annotations

import argparse
import json
import os

from perfbench import datagen
from perfbench.datagen import TABLES
from perfbench.stats import value_hash
from perfbench.workloads import WORKLOADS

EXPECTED = "expected.json"


def expected_hashes(sf_dir: str, names, threads: int) -> dict[str, str]:
    """``{query: value_hash}`` for every name whose oracle runs; a query
    whose oracle raises maps to ``"oracle error: ..."``, which no engine
    result can match, so it counts as failed."""
    import duckdb

    from cam_etl_spark.plans import QUERIES

    out: dict[str, str] = {}
    con = duckdb.connect(config={"threads": threads})
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in names:
            try:
                rel = con.sql(QUERIES[name].oracle_text())
                out[name] = value_hash(rel.fetchall(), rel.columns)
            except duckdb.Error as e:
                out[name] = f"oracle error: {type(e).__name__}: {str(e)[:200]}"
    finally:
        con.close()
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--threads", type=int, required=True)
    args = ap.parse_args(argv)
    # runs beside the session start of the timed process: yield the CPU
    os.nice(19)
    wl = WORKLOADS[args.workload]
    datagen.write_tables(args.data, wl.sf, args.seed)
    expected = expected_hashes(args.data, wl.checked, args.threads)
    with open(os.path.join(args.data, EXPECTED), "w", encoding="utf-8") as fh:
        json.dump(expected, fh)


if __name__ == "__main__":
    main()
