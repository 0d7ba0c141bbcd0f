"""Seeded input generators for the four benchmark workloads.

Everything here is a pure function of ``random.Random(seed)`` (or a numpy
``default_rng(seed)``): the same seed writes the same bytes and sets the
same mtimes, so two runs of one seed see identical inputs. Office formats
come from the repository's own independent emitters
(``tests/ecma376_emitter.py`` for docx/pptx, ``tests/cfb_emitter.py`` for
msg); nothing is fetched.
"""

from __future__ import annotations

import io
import os
import random
import re
import zipfile

import numpy as np

from tests.cfb_emitter import emit_msg
from tests.ecma376_emitter import emit_docx, emit_pptx

KINDS = ("txt", "html", "docx", "pptx", "msg")
# fixed epoch for generated mtimes: the refresh diff compares mtimes, so
# they are set explicitly instead of inherited from the wall clock
MTIME_BASE = 1_700_000_000


def _vocabulary(n: int) -> list[str]:
    """A fixed pseudo-word vocabulary (seed-independent)."""
    onsets = "b c d f g h k l m n p r s t v w z".split()
    vowels = "a e i o u".split()
    codas = ["", "n", "r", "s", "t", "l"]
    words = [
        o1 + v1 + o2 + v2 + c
        for o1 in onsets for v1 in vowels for o2 in onsets
        for v2 in vowels for c in codas
    ]
    return random.Random(0).sample(words, n)


VOCAB = _vocabulary(2000)
# the near-dup corpus mirrors the registry's sf documents: short texts
# over a small technical vocabulary, so random docs share shingles
DEDUP_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("de", 0.14), ("fr", 0.15), ("es", 0.15))


def words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(VOCAB, k=n)


def _pinned_zip(data: bytes) -> bytes:
    """The emitters stamp zip members with the wall clock; re-pack with a
    fixed member time so a seed always gives the same bytes."""
    out = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(data)) as src, \
            zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as dst:
        for info in src.infolist():
            dst.writestr(zipfile.ZipInfo(info.filename, (2023, 11, 14, 0, 0, 0)),
                         src.read(info), zipfile.ZIP_DEFLATED)
    return out.getvalue()


def _encode(kind: str, text_words: list[str], title: str) -> bytes:
    """One file's bytes in ``kind``'s container format."""
    if kind == "txt":
        return " ".join(text_words).encode()
    # paragraphs / slides of 40 words
    paras = [
        " ".join(text_words[i : i + 40]) for i in range(0, len(text_words), 40)
    ]
    if kind == "html":
        body = "".join(f"<p>{p}</p>" for p in paras)
        return f"<html><head><title>{title}</title></head><body>{body}</body></html>".encode()
    if kind == "docx":
        return _pinned_zip(emit_docx([[("text", p)] for p in paras]))
    if kind == "pptx":
        return _pinned_zip(emit_pptx([[p] for p in paras]))
    if kind == "msg":
        return emit_msg(
            subject=title, sender="kb@example.com", to="team@example.com",
            body="\n".join(paras),
        )
    raise ValueError(kind)


def file_name(i: int) -> str:
    return f"doc{i:05d}.{KINDS[i % len(KINDS)]}"


def write_file(root: str, i: int, rng: random.Random, revision: int,
               n_words: tuple[int, int]) -> str:
    """Write file ``i`` at ``revision`` and stamp its mtime. The first
    word is a revision marker (``revNNNN``), so a check can tell which
    revision of the text reached the sink. Returns the path."""
    name = file_name(i)
    kind = name.rsplit(".", 1)[1]
    body = [f"rev{revision:04d}"] + words(rng, rng.randint(*n_words) - 1)
    path = os.path.join(root, f"d{i % 16:02d}", name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(_encode(kind, body, f"article {i}"))
    mtime = MTIME_BASE + 1000 * revision + i % 997
    os.utime(path, (mtime, mtime))
    return path


def write_file_corpus(root: str, seed: int, n_files: int,
                      n_words: tuple[int, int] = (200, 800)) -> list[str]:
    """``n_files`` files, equal shares of txt/html/docx/pptx/msg, each of
    ``n_words`` words, spread over 16 directories."""
    rng = random.Random(seed)
    return [write_file(root, i, rng, 0, n_words) for i in range(n_files)]


def touch_delta(root: str, seed: int, n_files: int, share: float,
                revision: int, n_words: tuple[int, int] = (200, 800)
                ) -> tuple[list[str], list[str]]:
    """Rewrite a seeded ``share`` of the files: half modified in place
    (new text, newer mtime), half new files numbered past ``n_files``.
    Returns ``(modified_names, added_names)``."""
    rng = random.Random(seed * 1_000_003 + revision)
    n = max(2, round(n_files * share))
    modified = sorted(rng.sample(range(n_files), n // 2))
    added = list(range(n_files, n_files + n - n // 2))
    for i in modified + added:
        write_file(root, i, rng, revision, n_words)
    return [file_name(i) for i in modified], [file_name(i) for i in added]


def vector_corpus(seed: int, n_rows: int, dim: int, words_per_row: int = 12):
    """Seeded retrieval corpus: unit-free float32 vectors plus short texts
    over ``VOCAB``. Returns ``(ids, vectors, texts, n_tokens)``."""
    g = np.random.default_rng(seed)
    vecs = g.standard_normal((n_rows, dim), dtype=np.float32)
    idx = g.integers(0, len(VOCAB), size=(n_rows, words_per_row))
    vocab = np.asarray(VOCAB)
    texts = [" ".join(row) for row in vocab[idx]]
    ids = np.arange(n_rows, dtype=np.int64)
    n_tokens = np.full(n_rows, words_per_row, dtype=np.int32)
    return ids, vecs, texts, n_tokens


# the registry's near-dup recipe: every 7th doc gets a copy with its first
# token stripped (queries_catalog._NEARDUP_CORPUS_SQL)
_FIRST_TOKEN = re.compile(r"^[^ \x09-\x0D]+[ \x09-\x0D]*")
NEAR_COPY_OFFSET = 1_000_000


def dedup_documents(seed: int, n_docs: int) -> list[tuple[int, str, str]]:
    """``(doc_id, text, lang)`` rows shaped like the sf ``documents``
    table: 2-100 words over a small vocabulary, plus a seeded share of
    exact duplicates."""
    rng = random.Random(seed)
    langs, weights = zip(*LANGS)
    rows: list[tuple[int, str, str]] = []
    for i in range(n_docs):
        if rows and rng.random() < 0.05:
            text = rng.choice(rows)[1]
        else:
            text = " ".join(rng.choices(DEDUP_VOCAB, k=rng.randint(2, 100)))
        rows.append((i, text, rng.choices(langs, weights)[0]))
    return rows


def near_copies(docs: list[tuple[int, str, str]]) -> list[tuple[int, str, str]]:
    return [
        (d + NEAR_COPY_OFFSET, _FIRST_TOKEN.sub("", t, count=1), lang)
        for d, t, lang in docs
        if d % 7 == 0
    ]
