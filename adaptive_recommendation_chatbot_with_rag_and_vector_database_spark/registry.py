"""Query registry: the driver-facing catalog of implemented operators.

Every operator from SURVEY.md §2 registers here as a named query
``(spark, sf_dir) -> DataFrame`` plus, when SQL-expressible, a DuckDB
oracle twin. Registration happens at import time via the ``@query``
decorator in the ``queries_*`` modules.

Determinism rules applied throughout (SURVEY §7 "determinism
discipline"):
- every float output column is rounded (4-6 decimals) in BOTH the Spark
  query and the oracle SQL, so value hashes are robust to summation
  order;
- every top-k cut orders by the rounded score with an id tie-break;
- column names are aliased identically on both sides.

Intermediates that several queries share register via ``@substrate``:
one session-keyed cache per builder, which bench warm-up and session
teardown both walk.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
from collections.abc import Callable
from importlib import import_module

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLE: dict[str, str] = {}
_SUBSTRATES: dict[str, Substrate] = {}

_MODULES = (
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_relational",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_vector",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_text",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_streaming",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_analytics",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_warehouse",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_pipeline",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_scale",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_curation",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_retrieval",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_spark4",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_governance",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_frequency",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_graphstats",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_hygiene",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_trainset",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_temporal",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_measurement",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_ledger",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_mlops",
    "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_stats",
)


def query(name: str, oracle: str | None = None):
    """Register ``fn`` as queries()[name]; ``oracle`` is the DuckDB SQL
    twin (omit only for genuinely non-SQL-expressible operators — the
    driver then records a weaker rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn

    return deco


class Substrate:
    """A shared intermediate ``build(spark, sf_dir, *args)`` memoized
    per (applicationId, sf_dir, *args), so no session reads another's
    entries. ``consumers`` names the queries that read it; ``variants``
    maps each warm-up label to its extra arguments (a tuple, or a
    callable of ``sf_dir`` for a key read from the corpus files),
    default ``{name: ()}``. A hit is served only while the checkpoints
    behind it still hold all their partitions; else it is rebuilt."""

    def __init__(self, name, build, consumers=(), variants=None):
        functools.update_wrapper(self, build)
        self.build = build
        self.consumers = tuple(consumers)
        self.variants = variants or {name: ()}
        #: key -> (value, checkpoint blocks the value reads)
        self.entries: dict[tuple, tuple] = {}

    def __call__(self, spark: SparkSession, sf_dir: str, *args):
        sc = spark.sparkContext
        key = (sc.applicationId, sf_dir, *args)
        hit = self.entries.get(key)
        if hit is not None and _blocks_alive(sc, hit[1]):
            return hit[0]
        value = self.build(spark, sf_dir, *args)
        self.entries[key] = (value, _checkpoint_blocks(value))
        return value

    def clear(self) -> int:
        """Drop every entry; returns how many there were."""
        n = len(self.entries)
        self.entries.clear()
        return n


def substrate(name: str, consumers: tuple[str, ...], variants: dict | None = None):
    """Register the decorated builder as :class:`Substrate` ``name``."""

    def deco(build) -> Substrate:
        _SUBSTRATES[name] = Substrate(name, build, consumers, variants)
        return _SUBSTRATES[name]

    return deco


def substrates() -> dict[str, Substrate]:
    """Substrates of the modules imported so far; ``_load()`` imports all."""
    return dict(_SUBSTRATES)


def _checkpoint_blocks(value) -> tuple[tuple[int, int], ...]:
    """(rdd id, partitions) of each LogicalRDD leaf of the frames in
    ``value`` whose local checkpoint has run. File plans, lazy
    checkpoints not yet run and zero-partition results have none."""
    blocks = []
    for df in value if isinstance(value, tuple) else (value,):
        if not isinstance(df, DataFrame):
            continue
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "LogicalRDD":
                continue
            rdd = leaf.rdd()
            n = rdd.getNumPartitions()
            if n and rdd.isCheckpointed():
                blocks.append((rdd.id(), n))
    return tuple(blocks)


def _blocks_alive(sc: SparkContext, blocks) -> bool:
    """True while every checkpoint in ``blocks`` is still persisted
    with all partitions cached. A local checkpoint has no lineage: once
    its blocks are released or lost with an executor, plans over it
    fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. ``statusStore().rdd``
    is the one-RDD form of ``getRDDStorageInfo()``, which lists all."""
    if not blocks:
        return True
    jsc = sc._jsc.sc()
    persistent, store = jsc.getPersistentRDDs(), jsc.statusStore()
    try:
        return all(
            persistent.contains(i) and store.rdd(i).numCachedPartitions() == n
            for i, n in blocks
        )
    except Py4JJavaError:  # no storage entry: nothing cached
        return False


def _load() -> None:
    for mod in _MODULES:
        import_module(mod)


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def oracle_fingerprint(sql: str) -> str:
    """Whitespace-normalized sha256 of an oracle SQL string, so
    formatting-only edits don't re-queue a query but any semantic edit
    does."""
    return hashlib.sha256(" ".join(sql.split()).encode()).hexdigest()


def _blessed_fingerprints() -> dict[str, str]:
    """name -> oracle fingerprint at the time the driver hash-verified
    it (maintained by ``bless.py``, run at round start BEFORE any
    oracle edits, so 'current text' there == 'text the driver ran')."""
    try:
        with open(os.path.join(_repo_root(), "ORACLE_VERIFIED.json")) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return {}
    return data if isinstance(data, dict) else {}


def _verified_names() -> set[str]:
    """Names already hash-verified (or rows-only-verified for queries
    that still have no oracle) by a past driver CORRECTNESS run.

    The driver evaluates the registry in insertion order with a budget
    (round 1 stopped at 50 of 78), so ``queries()`` front-loads the
    not-yet-verified names to rotate coverage across rounds. Reads the
    ``CORRECTNESS_r*.json`` files the driver leaves at the repo root;
    with none present this is empty and plain registration order wins.

    A hash pass only counts while the oracle SQL is UNCHANGED since the
    pass: the fingerprint recorded in ORACLE_VERIFIED.json must match
    the current text. Editing an oracle (round-2 lesson:
    q_source_formats grew an XML column after its round-1 pass and
    silently kept verified status) re-queues the query for driver
    re-verification.
    """
    names: set[str] = set()
    blessed = _blessed_fingerprints()
    for path in sorted(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            rows_only_ok = (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            # A rows-only pass counts as verified only while the query
            # still has no oracle — adding one re-queues it for a full
            # hash check next round.
            if rows_only_ok and name not in _ORACLE:
                names.add(name)
            elif row.get("hash_match") and name in _ORACLE:
                if blessed.get(name) == oracle_fingerprint(_ORACLE[name]):
                    names.add(name)
    return names


def _prioritized(mapping: dict) -> dict:
    verified = _verified_names()
    out = {k: v for k, v in mapping.items() if k not in verified}
    out.update((k, v) for k, v in mapping.items() if k in verified)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load()
    return _prioritized(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load()
    return _prioritized(_ORACLE)
