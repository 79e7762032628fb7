from __future__ import annotations

from pyspark.sql import functions as F

from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions.chunker import (
    chunk_documents,
    split_text_recursive,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.retrieval import (
    REFUSAL_PREFIX,
    build_chunk_index,
    postprocess_answer,
    postprocess_answers,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.plans.flagship import (
    flagship,
)

from conftest import SF_DIR


def test_chunk_documents_matches_pure_function(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20).cache()
    chunks = chunk_documents(docs).orderBy("doc_id", "chunk_id").collect()
    expected = {}
    for row in docs.collect():
        expected[row.doc_id] = split_text_recursive(row.text or "")
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.text))
    for doc_id, pairs in by_doc.items():
        assert [t for _, t in sorted(pairs)] == expected[doc_id]
        assert [i for i, _ in sorted(pairs)] == list(range(len(pairs)))


def test_build_chunk_index_schema_and_norm(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    idx = build_chunk_index(docs)
    rows = idx.limit(5).collect()
    assert rows
    for r in rows:
        assert len(r.embedding) == 64
        assert len(r.content_hash) == 64  # sha2-256 hex
        s = sum(x * x for x in r.embedding)
        assert abs(s - 1.0) < 1e-4


def test_flagship_end_to_end(spark):
    out = flagship(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) == 4  # k=4, reference retriever default
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    # every row carries the same stuffed context, best chunk first
    contexts = {r.context for r in rows}
    assert len(contexts) == 1
    ctx = contexts.pop()
    best = max(rows, key=lambda r: r.score)
    assert ctx.startswith(best.text)
    for r in rows:
        assert r.text in ctx
    # deterministic across runs
    rows2 = flagship(spark, SF_DIR).collect()
    assert [(r.doc_id, r.chunk_id) for r in rows] == [
        (r.doc_id, r.chunk_id) for r in rows2
    ]


def test_postprocess_answers(spark):
    df = spark.createDataFrame(
        [
            ("The context provided does not contain specific information about X.",),
            ("First line.\nSecond line.",),
            ("Single line answer",),
        ],
        ["answer"],
    )
    got = [r.answer for r in postprocess_answers(df).collect()]
    assert got == [
        "I'm sorry, I can only answer questions related to the provided context.",
        "First line.",
        "Single line answer",
    ]


def _column_postprocess(spark, answers: list) -> list:
    df = spark.createDataFrame([(a,) for a in answers], "answer string")
    return [r.answer for r in postprocess_answers(df).collect()]


def test_postprocess_answer_edge_cases_match_column_form(spark):
    cases = [
        REFUSAL_PREFIX,
        REFUSAL_PREFIX + " about llamas.\nSecond line.",
        "Sorry: " + REFUSAL_PREFIX + " here.",
        "First line.\r\nSecond line.",
        "\nafter a leading newline",
        "",
        None,
    ]
    assert [postprocess_answer(a) for a in cases] == _column_postprocess(spark, cases)


def test_postprocess_answer_property_matches_column_form(spark):
    """Hypothesis: the driver-side scalar twin agrees with the Column
    form on generated answers. Fragments bias the strings towards the
    rule's edges (refusal prefix anywhere, line breaks of every kind);
    one Spark job checks a whole generated batch."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    fragment = st.one_of(
        st.sampled_from(
            [REFUSAL_PREFIX, REFUSAL_PREFIX[:20], "\n", "\r\n", "\r", " ", ""]
        ),
        st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12),
    )
    answer = st.one_of(st.none(), st.lists(fragment, max_size=5).map("".join))

    @settings(max_examples=15, deadline=None)
    @given(st.lists(answer, min_size=1, max_size=40))
    def check(answers):
        assert [postprocess_answer(a) for a in answers] == _column_postprocess(
            spark, answers
        )

    check()
