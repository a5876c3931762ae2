"""The session-artifact rule for ``tables.shared_cache``: only a relation
that at least two registered queries read is session-cached, keyed by a
literal kind plus ``sf_dir`` and operator constants — and the registry
holds one corpus at a time."""

from __future__ import annotations

import ast
from pathlib import Path

import streaming_amqp_spark

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


def test_shared_cache_kinds_are_literals():
    kinds = _shared_cache_kinds()
    assert None not in kinds, f"kind is not a string literal at {kinds.get(None)}"


def test_second_corpus_unpersists_the_first(spark):
    """A key from another corpus (``key[1]``) unpersists and drops every
    entry of the registry's corpus; a key from the same corpus evicts
    nothing; a dropped key asked for again is rebuilt, never served as
    a stale unpersisted handle."""
    from streaming_amqp_spark.tables import shared_cache

    # isolate from caches other tests created in this shared session
    saved = getattr(spark, "_saq_shared_cache", None)
    spark._saq_shared_cache = None
    try:
        built: list[tuple] = []

        def get(*key):
            def build():
                built.append(key)
                return spark.range(len(built)).toDF("v")

            return shared_cache(spark, key, build)

        first = [get("kind_a", "/corpus/a"), get("kind_b", "/corpus/a", 3)]
        assert get("kind_a", "/corpus/a") is first[0]  # hit
        assert all(df.is_cached for df in first)
        assert sorted(spark._saq_shared_cache) == [
            ("kind_a", "/corpus/a"),
            ("kind_b", "/corpus/a", 3),
        ]

        other = get("kind_a", "/corpus/b")
        assert list(spark._saq_shared_cache) == [("kind_a", "/corpus/b")]
        assert not any(df.is_cached for df in first)
        assert other.is_cached

        n_built = len(built)
        again = get("kind_a", "/corpus/a")
        assert len(built) == n_built + 1 and again.is_cached
        assert again is not first[0] and not other.is_cached
    finally:
        spark._saq_shared_cache = saved


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
