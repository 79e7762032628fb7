"""Self-tests of the benchmark: the tail-percentile rule, generator
determinism, and that every output check rejects a corrupted result.
No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen, stats
from perfbench.trace import _union_ms


# -- tail percentile -------------------------------------------------------


@pytest.mark.parametrize(
    "n, p", [(5, None), (10, None), (11, 9), (20, 50), (100, 90), (1000, 99)]
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_is_the_highest_such_percentile():
    for n in range(11, 400):
        p = stats.tail_percentile(n)
        beyond = lambda q: n - int(np.ceil(q / 100 * n))  # noqa: E731
        assert beyond(p) >= 10
        assert p == 99 or beyond(p + 1) < 10


def test_percentile_nearest_rank():
    assert stats.percentile(list(range(1, 101)), 90) == 90
    assert stats.percentile([3.0], 50) == 3.0


# -- generators ------------------------------------------------------------


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_generators_are_deterministic_per_seed(seed):
    assert gen.corpus(seed, 50) == gen.corpus(seed, 50)
    assert gen.sessions(seed, 5) == gen.sessions(seed, 5)
    texts = gen.pdf_texts(seed, 3)
    assert texts == gen.pdf_texts(seed, 3)
    assert gen.append_texts(seed, 0, 4, texts, 0.5) == gen.append_texts(seed, 0, 4, texts, 0.5)
    a = [gen.make_pdf(t, random.Random(seed)) for t in texts]
    b = [gen.make_pdf(t, random.Random(seed)) for t in texts]
    assert a == b


def test_generators_differ_across_seeds():
    assert gen.corpus(1, 20) != gen.corpus(2, 20)
    assert gen.sessions(1, 3) != gen.sessions(2, 3)
    assert gen.pdf_texts(1, 2) != gen.pdf_texts(2, 2)


def test_sessions_have_anaphoric_follow_ups():
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.engine import (
        history_aware_rewrite,
    )

    for script in gen.sessions(3, 20):
        history = [{"role": "user", "content": script["asks"][0]},
                   {"role": "assistant", "content": "x"}]
        for q in script["asks"][1:]:
            assert history_aware_rewrite(q, history) != q


def test_pdf_text_shape():
    (text,) = gen.pdf_texts(4, 1)
    assert 7_000 < len(text) < 13_000
    assert "\n\n" in text and text.count("\n") > 40


def test_append_batch_repeats_uploaded_texts():
    base = gen.pdf_texts(5, 10)
    batch = gen.append_texts(5, 0, 4, base, dup_share=0.5)
    assert sum(t in base for t in batch) == 2


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_generated_pdfs_extract_to_their_text(seed):
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.binary_docs import (
        pdf_extractor,
    )

    rng = random.Random(seed)
    for text in gen.pdf_texts(seed, 30):
        pdf = gen.make_pdf(text, rng)
        assert pdf.count(b"/Type /Page ") > 1  # multi-page
        assert pdf_extractor(pdf) == text


@pytest.mark.xfail(strict=True, reason="fallback PDF parser strips CR/LF off raw Flate bytes")
def test_flate_stream_ending_in_newline_byte_keeps_its_text():
    """Open question 3 in NOTES.md: the generator pads around this."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.binary_docs import (
        pdf_fallback_extract,
    )

    pad = 0
    while not zlib.compress(b"BT (hello) Tj " + b" " * pad + b"ET").endswith(b"\n"):
        pad += 1
    data = zlib.compress(b"BT (hello) Tj " + b" " * pad + b"ET")
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(data)).encode()
        + b" >>\nstream\n" + data + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert pdf_fallback_extract(pdf) == "hello"


# -- output checks -----------------------------------------------------------


@pytest.fixture
def snapshot(tmp_path):
    rng = np.random.default_rng(0)
    n = 40
    emb = rng.normal(size=(n, 8)).astype(np.float32)
    table = pa.table({
        "doc_id": pa.array(np.arange(n) // 2, pa.int64()),
        "chunk_id": pa.array(np.arange(n) % 2, pa.int32()),
        "text": [f"line {i}\nmore {i}" for i in range(n)],
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
    })
    pq.write_table(table, tmp_path / "part-0.parquet")
    return checks.IndexSnapshot(str(tmp_path)), emb


def test_exact_topk_accepts_the_reference(snapshot):
    snap, emb = snapshot
    q = emb[3] + 0.1
    expected = snap.exact_topk(q, 4)
    assert checks.check_exact_topk(expected, expected, snap.key_score(q)) == []
    assert checks.recall(expected, expected) == 1.0


def test_exact_topk_rejects_a_swapped_id(snapshot):
    snap, emb = snapshot
    q = emb[3] + 0.1
    expected = snap.exact_topk(q, 4)
    outsider = snap.exact_topk(q, 10)[9]
    got = expected[:3] + [outsider]
    assert checks.check_exact_topk(got, expected, snap.key_score(q))
    assert checks.recall(got, expected) == 0.75


def test_exact_topk_rejects_a_reordering_and_a_short_result(snapshot):
    snap, emb = snapshot
    q = emb[5]
    expected = snap.exact_topk(q, 4)
    swapped = [expected[1], expected[0]] + expected[2:]
    assert checks.check_exact_topk(swapped, expected, snap.key_score(q))
    assert checks.check_exact_topk(expected[:3], expected, snap.key_score(q))


def test_exact_topk_breaks_ties_by_id(tmp_path):
    vec = pa.array([[1.0, 0.0]] * 3, pa.list_(pa.float32()))
    table = pa.table({"doc_id": pa.array([5, 2, 2], pa.int64()),
                      "chunk_id": pa.array([0, 1, 0], pa.int32()),
                      "text": ["a", "b", "c"], "embedding": vec})
    pq.write_table(table, tmp_path / "p.parquet")
    snap = checks.IndexSnapshot(str(tmp_path))
    assert [r[:2] for r in snap.exact_topk([1.0, 0.0], 3)] == [(2, 0), (2, 1), (5, 0)]


def _chunk_snapshot(tmp_path, rows):
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "chunk_id": pa.array([r[1] for r in rows], pa.int32()),
        "text": [r[2] for r in rows],
        "embedding": pa.array([[1.0]] * len(rows), pa.list_(pa.float32())),
    })
    pq.write_table(table, tmp_path / "p.parquet")
    return checks.IndexSnapshot(str(tmp_path))


def test_chunk_check_accepts_a_faithful_index(tmp_path):
    snap = _chunk_snapshot(tmp_path, [(1, 0, "ab cd"), (1, 1, "ef"), (2, 0, "gh")])
    assert checks.check_chunks(snap, {1: "ab cd\n\nef", 2: "gh"}, 10) == []


def test_chunk_check_rejects_a_dropped_chunk(tmp_path):
    snap = _chunk_snapshot(tmp_path, [(1, 0, "ab cd"), (2, 0, "gh")])
    assert checks.check_chunks(snap, {1: "ab cd\n\nef", 2: "gh"}, 10)


def test_chunk_check_rejects_repeats_oversize_and_missing_documents(tmp_path):
    texts = {1: "ab cd\n\nef", 2: "gh"}
    rep = _chunk_snapshot(tmp_path, [(1, 0, "ab cd"), (1, 1, "ef"), (1, 1, "ef"), (2, 0, "gh")])
    assert checks.check_chunks(rep, texts, 10)
    assert checks.check_chunks(rep, texts, 3)
    gone = _chunk_snapshot(tmp_path, [(1, 0, "ab cd"), (1, 1, "ef")])
    assert checks.check_chunks(gone, texts, 10)


def test_count_check_rejects_a_non_zero_reindex():
    assert checks.check_count(0, 0) == []
    assert checks.check_count(3, 0)
    assert checks.check_count(11, 12)


# -- trace helpers -----------------------------------------------------------


def test_union_of_job_intervals():
    assert _union_ms([]) == 0.0
    assert _union_ms([(0, 10), (5, 20), (30, 35)]) == 25.0


# -- process clean-up ------------------------------------------------------


def test_stop_processes_waits_for_orphaned_grandchildren():
    # a child that leaves a grandchild behind, as a JVM leaves its Python
    # workers: the run must not return before the grandchild has ended
    script = (
        "import os, subprocess, sys\n"
        "sys.path.insert(0, 'perfbench')\n"
        "import run\n"
        "run._adopt_orphans()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 2 & echo $!'], capture_output=True, text=True)\n"
        "pid = int(out.stdout)\n"
        "run._stop_processes(grace=30)\n"
        "print(os.path.exists(f'/proc/{pid}'))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", script], cwd=root,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "False"
