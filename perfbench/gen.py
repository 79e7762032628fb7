"""Seeded input generators for the user-path benchmark.

Everything the engine receives is made here from an integer seed, with
``random.Random`` only, so the same seed yields byte-identical inputs on
every machine:

- ``corpus``: short documents in the shape of the ``documents`` fixture
  (whitespace-separated words from a small technical vocabulary, 8-100
  words each).
- ``sessions``: chat scripts. Each opens with a standalone question,
  follows with short anaphoric turns (so a history-aware rewrite
  fires), then names a hybrid-search query.
- ``pdf_texts`` / ``make_pdf``: multi-page documents with paragraphs and
  lines, about 10 KB of text each, written as FlateDecode content
  streams that show text with ``Tj``, ``'`` and ``TJ``, the subset the
  engine's pure-Python PDF parser reads.
- ``append_texts``: later upload batches, a share of which repeat the
  text of an already indexed file under a new name.
"""

from __future__ import annotations

import os
import random
import zlib

# the fixture corpus draws from these words (documents.parquet)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

# extra words for the longer uploaded documents
PDF_VOCAB = VOCAB + (
    "index chunk embedding cosine answer context session history prompt "
    "retriever pinecone upload page model token latency cache shuffle stage "
    "executor driver partition plan memory disk network replica cluster"
).split()

OPENERS = (
    "how does {a} {b} work with {c}",
    "explain the {a} {b} and {c} path",
    "why is {a} {b} faster than {c} {d}",
    "what limits {a} {b} when the {c} grows",
    "compare {a} {b} against {c} {d} for large data",
)
FOLLOW_UPS = (
    "what about {a}?",
    "why is that {a}?",
    "and their {a}?",
    "more on it?",
    "how about {a} {b}?",
)
HYBRID = "{a} {b} {c} {d}"


def _words(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    return [rng.choice(vocab) for _ in range(n)]


def _fill(rng: random.Random, template: str) -> str:
    # every slot draws a content word (never the stopword "a"/"the")
    content = [w for w in VOCAB if w not in ("a", "the")]
    return template.format(**{k: rng.choice(content) for k in "abcd"})


def corpus(seed: int, n_docs: int) -> list[tuple[int, str]]:
    """``n_docs`` fixture-shaped documents as ``(doc_id, text)``."""
    rng = random.Random(f"corpus:{seed}")
    return [
        (i, " ".join(_words(rng, VOCAB, rng.randint(8, 100))))
        for i in range(n_docs)
    ]


def sessions(seed: int, n: int, follow_ups: int = 2) -> list[dict]:
    """``n`` chat scripts: ``{"asks": [...], "hybrid": str}``; the first
    ask stands alone, the rest are short anaphoric follow-ups."""
    rng = random.Random(f"sessions:{seed}")
    out = []
    for _ in range(n):
        asks = [_fill(rng, rng.choice(OPENERS))]
        asks += [_fill(rng, rng.choice(FOLLOW_UPS)) for _ in range(follow_ups)]
        out.append({"asks": asks, "hybrid": _fill(rng, HYBRID)})
    return out


def _paragraph(rng: random.Random) -> list[str]:
    lines = []
    for _ in range(rng.randint(2, 6)):
        words = _words(rng, PDF_VOCAB, rng.randint(6, 14))
        words[0] = words[0].capitalize()
        lines.append(" ".join(words) + rng.choice((".", ",", ";", ".")))
    return lines


def pdf_text(rng: random.Random, target_chars: int) -> str:
    """One document: paragraphs (blank-line separated) of lines."""
    paras: list[str] = []
    size = 0
    while size < target_chars:
        para = "\n".join(_paragraph(rng))
        paras.append(para)
        size += len(para) + 2
    return "\n\n".join(paras)


def pdf_texts(seed: int, n: int, target_chars: int = 10_000) -> list[str]:
    rng = random.Random(f"pdf:{seed}")
    return [
        pdf_text(rng, rng.randint(target_chars * 4 // 5, target_chars * 6 // 5))
        for _ in range(n)
    ]


def append_texts(
    seed: int, batch: int, n: int, existing: list[str], dup_share: float
) -> list[str]:
    """Upload batch ``batch``: ``n`` texts, ``dup_share`` of them copies
    of already indexed texts (new file, same content), the rest new."""
    rng = random.Random(f"append:{seed}:{batch}")
    n_dup = int(round(n * dup_share))
    dups = [rng.choice(existing) for _ in range(n_dup)]
    fresh = pdf_texts(seed * 1000 + batch + 1, n - n_dup, 2_000)
    return dups + fresh


def _literal(s: str) -> bytes:
    esc = s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    return b"(" + esc.encode("latin-1") + b")"


def _show_line(line: str, first: bool, use_tj: bool) -> bytes:
    """Content-stream operators that append ``line`` to the extracted
    text, preceded by a newline unless it is the document's first."""
    if use_tj and " " in line:
        # TJ array with a kerning number between two halves; TJ adds no
        # newline, so an empty next-line show (') supplies it
        cut = line.rindex(" ")
        arr = b"[" + _literal(line[:cut]) + b" -120 " + _literal(line[cut:]) + b"] TJ\n"
        return arr if first else b"() '\n" + arr
    return _literal(line) + (b" Tj\n" if first else b" '\n")


def make_pdf(text: str, rng: random.Random, lines_per_page: int = 40) -> bytes:
    """A multi-page PDF whose page text, concatenated, is ``text``."""
    lines = text.split("\n")
    pages = [lines[i : i + lines_per_page] for i in range(0, len(lines), lines_per_page)]
    streams = []
    for p, page in enumerate(pages):
        ops = b"BT /F1 11 Tf 72 760 Td 14 TL\n"
        for j, line in enumerate(page):
            ops += _show_line(line, p == 0 and j == 0, rng.random() < 0.3)
        data = zlib.compress(ops + b"ET")
        # The engine's fallback parser strips CR/LF from both ends of
        # the raw stream bytes before inflating, so a Flate stream whose
        # checksum ends in such a byte loses its page silently (see
        # NOTES.md, open question 3). Pad the operators until it does
        # not, so the workload measures extraction, not that defect.
        while data[-1:] in (b"\r", b"\n"):
            ops += b" "
            data = zlib.compress(ops + b"ET")
        streams.append(data)
    n = len(pages)
    # objects: 1 catalog, 2 pages, 3 font, then (page, content) pairs
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(n)).encode()
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [" + kids + b"] /Count " + str(n).encode() + b" >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for i, data in enumerate(streams):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /Contents "
            + str(5 + 2 * i).encode()
            + b" 0 R /Resources << /Font << /F1 3 0 R >> >> >>"
        )
        objs.append(
            b"<< /Filter /FlateDecode /Length "
            + str(len(data)).encode()
            + b" >>\nstream\n"
            + data
            + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref}\n%%EOF\n"
    ).encode()
    return bytes(out)


def write_pdfs(directory: str, texts: list[str], prefix: str, seed: int) -> list[str]:
    """Write ``texts`` as ``<prefix>-<i>.pdf`` files; returns the paths."""
    rng = random.Random(f"pdfbytes:{seed}:{prefix}")
    paths = []
    for i, text in enumerate(texts):
        path = os.path.join(directory, f"{prefix}-{i:05d}.pdf")
        with open(path, "wb") as fh:
            fh.write(make_pdf(text, rng))
        paths.append(path)
    return paths
