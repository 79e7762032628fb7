"""The ``@substrate`` registry: one session-keyed cache per shared
intermediate. Warm-up, teardown and the liveness check all derive from
it, so no hand-kept list can miss a substrate."""

from __future__ import annotations

import ast
import glob
import os

import pytest

from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark import registry
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
    doc_tokens,
    load_table,
    release_local_checkpoint,
    warm_substrates,
)

SF = "/root/testdata/sf0.001"

_QUERIES = registry.queries()
_SUBSTRATES = registry.substrates()

#: single-consumer substrates, each with its reason next to its builder
_SINGLE_CONSUMER = {"order_value_pivot"}


def _call_graph() -> tuple[dict[str, set[str]], dict[str, str]]:
    """(function name -> names it calls, query name -> function name)
    over the package's module-level functions. Same-named helpers in
    different modules merge, which can only add edges."""
    pkg = os.path.dirname(registry.__file__)
    calls: dict[str, set[str]] = {}
    query_fn: dict[str, str] = {}
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in tree.body:
            if not isinstance(node, ast.FunctionDef):
                continue
            for deco in node.decorator_list:
                if isinstance(deco, ast.Call) and getattr(deco.func, "id", "") == "query":
                    query_fn[deco.args[0].value] = node.name
            called = calls.setdefault(node.name, set())
            for sub in ast.walk(node):
                if isinstance(sub, ast.Call):
                    name = getattr(sub.func, "id", None) or getattr(sub.func, "attr", None)
                    if name:
                        called.add(name)
    return calls, query_fn


def _reaches(calls: dict[str, set[str]], start: str) -> set[str]:
    seen: set[str] = set()
    todo = [start]
    while todo:
        for name in calls.get(todo.pop(), ()):
            if name not in seen:
                seen.add(name)
                todo.append(name)
    return seen


@pytest.mark.parametrize("name", sorted(_SUBSTRATES))
def test_substrate_consumers_are_registered_and_at_least_two(name):
    # the r12 rule: a substrate read by one query is per-query work
    # that a checkpoint only slows down; order_value_pivot is the one
    # documented exception
    consumers = _SUBSTRATES[name].consumers
    assert len(set(consumers)) == len(consumers)
    assert set(consumers) <= set(_QUERIES)
    assert len(consumers) >= 2 or name in _SINGLE_CONSUMER


def test_declared_consumers_match_the_call_graph():
    # every registered query that calls a builder (directly or through
    # helpers) is declared, and every declared consumer calls it
    calls, query_fn = _call_graph()
    for name, sub in _SUBSTRATES.items():
        reached = {q for q, fn in query_fn.items() if sub.__name__ in _reaches(calls, fn)}
        assert set(sub.consumers) == reached, name


def test_warm_substrates_builds_every_registered_substrate(spark, monkeypatch):
    # stub builds: the loop itself is under test, not the 20 real
    # builds (the consumer tests run those)
    built = []
    for name, sub in _SUBSTRATES.items():
        monkeypatch.setattr(
            sub, "build", lambda s, d, *args, name=name: built.append((name, args))
        )
    try:
        timings = warm_substrates(spark, SF)
    finally:
        for sub in _SUBSTRATES.values():
            sub.clear()
    assert list(timings) == [
        label for sub in _SUBSTRATES.values() for label in sub.variants
    ]
    assert [name for name, _ in built] == [
        name for name, sub in _SUBSTRATES.items() for _ in sub.variants
    ]
    assert {"dedup_components", "price_classes_grouped", "price_classes"} <= set(timings)
    # the ANN routes are one substrate, built once per route
    assert [args for name, args in built if name == "ann_result"] == [
        ("lsh",),
        ("ivf12",),
        ("auto",),
    ]
    # the clustering is keyed on the corpus file's identity
    st = os.stat(os.path.join(SF, "documents.parquet"))
    assert ("dedup_components", (st.st_mtime_ns, st.st_size)) in built


def test_session_stop_clears_every_substrate_including_dedup_clustering(spark):
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_analytics import (
        q_dedup_components,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.session import (
        _hook_substrate_eviction,
    )

    q_dedup_components(spark, SF)
    assert _SUBSTRATES["dedup_components"].entries

    class FakeSession:
        def stop(self):
            pass

    fake = FakeSession()
    _hook_substrate_eviction(fake)
    fake.stop()
    assert {n: len(s.entries) for n, s in _SUBSTRATES.items() if s.entries} == {}


def test_released_checkpoint_is_rebuilt_for_its_consumers(spark):
    # fault injection: a local checkpoint has no lineage, so once its
    # blocks are gone every plan over the cached frame fails with
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; the registry must rebuild
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_text import (
        q_token_count,
    )

    before = sorted(q_token_count(spark, SF).collect())
    dead = doc_tokens(spark, SF)
    assert release_local_checkpoint(dead)
    assert sorted(q_token_count(spark, SF).collect()) == before
    fresh = doc_tokens(spark, SF)
    assert fresh is not dead
    assert doc_tokens(spark, SF) is fresh  # live again: a plain hit


def test_hits_without_checkpoint_blocks_never_rebuild(spark):
    # file plans, lazy checkpoints that never ran, empty and
    # zero-partition results have no blocks to lose, so the liveness
    # check must not turn every hit into a rebuild
    builds = []

    def build(spark, sf_dir, kind):
        builds.append(kind)
        if kind == "plan":
            return load_table(spark, "region", sf_dir)
        if kind == "lazy":
            return spark.range(4).localCheckpoint(eager=False)
        if kind == "empty":
            return spark.range(0, 8, numPartitions=2).filter("id < 0").localCheckpoint()
        if kind == "no_partitions":
            rdd = spark.sparkContext.emptyRDD()
            return spark.createDataFrame(rdd, "a int").localCheckpoint()
        return spark.range(4).localCheckpoint(), ["not a frame"]

    sub = registry.Substrate("probe", build)
    kinds = ("plan", "lazy", "empty", "no_partitions", "live_tuple")
    for kind in kinds:
        first = sub(spark, SF, kind)
        assert sub(spark, SF, kind) is first
    assert builds == list(kinds)
    assert "probe" not in registry.substrates()  # built, never registered
