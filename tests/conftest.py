from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from streaming_amqp_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("streaming_amqp_spark-tests", master="local[4]",
                  extra_confs={"spark.sql.shuffle.partitions": "4"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session", autouse=True)
def _private_index_root(tmp_path_factory):
    """Every test's ``ensure_*`` index lands under one per-session tmp
    dir, never the machine-wide ``INDEX_ROOT`` that oracle sweeps and bench
    serve: the store allows one writer per index path."""
    from streaming_amqp_spark.operators import index_store

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            index_store, "INDEX_ROOT", str(tmp_path_factory.mktemp("index_root"))
        )
        yield


def envelope_rows(read_result) -> list[tuple]:
    """Flatten a reader ``read()`` result — an iterator of envelope row
    tuples OR pyarrow RecordBatches (the sources ship columnar since the
    Arrow-batched decode) — into a list of row tuples in schema order."""
    rows: list[tuple] = []
    for el in read_result:
        if hasattr(el, "to_pylist"):  # pa.RecordBatch
            rows.extend(tuple(d.values()) for d in el.to_pylist())
        else:
            rows.append(el)
    return rows
