"""Recompute ``oracle_hashes.json``: the DuckDB oracle's result hash of every
query in the batch_curation mix, on the tables ``datagen`` writes.

Run from the repository root after changing the mix or ``datagen``:

    python3 perfbench/make_oracle.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from curation import HASHES, MIX, result_hash  # noqa: E402
from harness import ROOT  # noqa: E402


def main() -> None:
    import duckdb

    sys.path.insert(0, ROOT)
    import __spark_entry__

    from streaming_amqp_spark.tables import TABLE_NAMES

    sql = __spark_entry__.oracle_sql()
    tmp = tempfile.mkdtemp(prefix="perfbench-oracle-")
    try:
        datagen.write_tables(tmp)
        con = duckdb.connect()
        for name in TABLE_NAMES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"'{os.path.join(tmp, name + '.parquet')}'")
        hashes = {}
        for q in MIX:
            rel = con.sql(sql[q])
            hashes[q] = result_hash(list(rel.columns), rel.fetchall())
            print(q, hashes[q], flush=True)
        con.close()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(HASHES, "w") as f:
        json.dump({"scale": datagen.SCALE, "data_seed": datagen.DATA_SEED,
                   "hashes": hashes}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
