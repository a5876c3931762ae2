"""The session-artifact rule for ``tables.shared_cache``: only a relation
that at least two registered queries read is session-cached, keyed by a
literal kind plus ``sf_dir`` and operator constants — so the kinds one
corpus creates fit the LRU cap and never evict one another."""

from __future__ import annotations

import ast
from pathlib import Path

import streaming_amqp_spark
from streaming_amqp_spark.tables import _SHARED_CACHE_CAP

_PACKAGE = Path(streaming_amqp_spark.__file__).resolve().parent


def _shared_cache_kinds() -> dict[str, list[str]]:
    """kind -> call sites, for every ``shared_cache(spark, (kind, ...), build)``
    call in the package; a key whose kind is not a string literal is
    reported under ``None``."""
    kinds: dict[str, list[str]] = {}
    for path in sorted(_PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "shared_cache"
            ):
                continue
            key = node.args[1] if len(node.args) > 1 else None
            first = key.elts[0] if isinstance(key, ast.Tuple) and key.elts else None
            kind = (
                first.value
                if isinstance(first, ast.Constant) and isinstance(first.value, str)
                else None
            )
            site = f"{path.relative_to(_PACKAGE)}:{node.lineno}"
            kinds.setdefault(kind, []).append(site)
    return kinds


def test_shared_cache_kinds_fit_the_cap():
    kinds = _shared_cache_kinds()
    assert None not in kinds, f"kind is not a string literal at {kinds.get(None)}"
    assert len(kinds) <= _SHARED_CACHE_CAP, sorted(kinds)


def test_minhash_recall_keeps_only_session_artifacts(spark, sf_dir):
    """dedup_minhash_recall's capped exact truth side is read by this one
    query, so it is materialized per query: the registry ends up with
    only the LSH side's shingle index and band stats."""
    from streaming_amqp_spark.operators.dedup import dedup_minhash_recall
    from streaming_amqp_spark.tables import clear_shared_cache

    clear_shared_cache(spark)
    dedup_minhash_recall(spark, sf_dir).collect()
    assert sorted(spark._saq_shared_cache) == [
        ("band_stats", sf_dir),
        ("doc_shingles", sf_dir),
    ]
