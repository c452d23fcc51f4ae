"""Seeded input generator for the benchmark.

Everything the engine reads is made here from one seed, with numpy's
``default_rng`` only, and written as parquet with pyarrow (no Spark), so
the same seed always yields byte-identical files and the program under
test never sees the repository's shipped test data.

Corpus shape (what the engine's behaviour depends on):

* a Zipf(-Mandelbrot) vocabulary of ``VOCAB_WORDS`` pseudo-words, with
  the six quality stopwords at its head, so BM25 posting lists range
  from the whole corpus down to single documents;
* log-normal document lengths, so documents split into several
  128-character chunks;
* Zipf-skewed tenants in the ``source`` owner column;
* one planted rare token per document (``rare_token``), the known
  answer for keyword probes and for read-after-write checks;
* for the curation corpus: planted exact-duplicate, near-duplicate and
  contamination families plus junk and foreign-language documents, with
  their ground truth returned alongside the files;
* Zipf query pools built from the same vocabulary.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_WORDS = 30_000
#: Quality stopwords (``textstats.STOPWORDS``) lead the vocabulary, the
#: way function words lead any natural-language frequency table.
HEAD_WORDS = ("the", "a", "and", "of", "is", "to")
#: Query terms skip the head ranks: users search for content words.
QUERY_MIN_RANK = 20
TENANTS = 12
LANGS = ("en", "de", "fr", "es")
CURATE_SOURCES = ("web", "news", "books", "wiki", "code")
#: Mixture rates of the curation sample (per ``source``); others keep all.
CURATE_RATES = {"web": 0.3, "news": 0.6}
CURATE_DEFAULT_RATE = 1.0

_ONSETS = "b c d f g h j k l m n p r s t v w z br dr gr kr pl st tr sh ch".split()
_VOWELS = "a e i o u ai ea io ou".split()


def zipf_probs(n: int, s: float = 1.0, q: float = 2.7) -> np.ndarray:
    """Zipf-Mandelbrot weights ``1/(rank+q)^s`` over ``n`` ranks."""
    w = 1.0 / np.power(np.arange(n, dtype=np.float64) + q, s)
    return w / w.sum()


def make_vocab(rng: np.random.Generator, n: int, avoid=()) -> list[str]:
    """``n`` distinct lowercase pseudo-words (2-4 syllables), none of
    which is in ``avoid`` or contains a digit (rare tokens do)."""
    seen = set(avoid)
    out: list[str] = []
    while len(out) < n:
        k = int(rng.integers(2, 5))
        on = rng.integers(0, len(_ONSETS), k)
        vo = rng.integers(0, len(_VOWELS), k)
        w = "".join(_ONSETS[a] + _VOWELS[b] for a, b in zip(on, vo))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def rare_token(seed: int, doc_id: int) -> str:
    """The planted token of one document: unique to it by construction
    (vocabulary words carry no digits)."""
    return f"q{seed}x{doc_id}z"


def md5_bucket(doc_id: int, buckets: int = 1000) -> int:
    """``operators.sampling.hash_bucket`` recomputed in Python (the
    expected side of the curation sample check)."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:7], 16) % buckets


@dataclass
class Corpus:
    """Generated documents as parallel lists (doc_id order)."""

    doc_id: list[int]
    text: list[str]
    lang: list[str]
    source: list[str]

    def table(self) -> pa.Table:
        return pa.table(
            {
                "doc_id": pa.array(self.doc_id, pa.int64()),
                "text": pa.array(self.text, pa.string()),
                "lang": pa.array(self.lang, pa.string()),
                "source": pa.array(self.source, pa.string()),
                "n_chars": pa.array([len(t) for t in self.text], pa.int64()),
            }
        )


class TextModel:
    """Draws words, lengths and tenants for one seed."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.vocab = np.array(
            list(HEAD_WORDS)
            + make_vocab(self.rng, VOCAB_WORDS - len(HEAD_WORDS), HEAD_WORDS),
            dtype=object,
        )
        self.p_word = zipf_probs(VOCAB_WORDS)
        self.p_tenant = zipf_probs(TENANTS, s=1.1, q=1.0)
        self.tenants = [f"t{i:02d}" for i in range(TENANTS)]

    def lengths(self, n: int, lo: int = 20, hi: int = 400) -> np.ndarray:
        """Log-normal word counts (median ~110 words, ~8 chunks)."""
        raw = self.rng.lognormal(mean=np.log(110), sigma=0.45, size=n)
        return np.clip(raw.astype(np.int64), lo, hi)

    def words(self, n: int) -> list[str]:
        return list(self.vocab[self.rng.choice(VOCAB_WORDS, n, p=self.p_word)])

    def docs(self, ids: list[int], lo: int = 20) -> Corpus:
        """Documents ``ids`` with a planted rare token each."""
        lens = self.lengths(len(ids), lo=lo)
        flat = self.words(int(lens.sum()))
        texts, pos = [], 0
        for i, n in zip(ids, lens):
            ws = flat[pos : pos + int(n)]
            pos += int(n)
            at = int(self.rng.integers(0, min(len(ws), 12) + 1))
            ws.insert(at, rare_token(self.seed, i))
            texts.append(" ".join(ws))
        langs = self.rng.choice(len(LANGS), len(ids), p=[0.85, 0.05, 0.05, 0.05])
        owners = self.rng.choice(TENANTS, len(ids), p=self.p_tenant)
        return Corpus(
            list(ids),
            texts,
            [LANGS[k] for k in langs],
            [self.tenants[k] for k in owners],
        )

    def query_pool(self, n: int, lo: int = 2, hi: int = 4) -> list[str]:
        """``n`` distinct multi-word queries over content-word ranks."""
        p = self.p_word[QUERY_MIN_RANK:] / self.p_word[QUERY_MIN_RANK:].sum()
        seen: dict[str, None] = {}
        while len(seen) < n:
            k = int(self.rng.integers(lo, hi + 1))
            idx = self.rng.choice(len(p), k, replace=False, p=p) + QUERY_MIN_RANK
            seen.setdefault(" ".join(self.vocab[idx]), None)
        return list(seen)


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """Dashboard events: Zipf-active users, a fixed event-type mix."""
    kinds = np.array(["view", "click", "signup", "purchase", "error"], dtype=object)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(
                rng.choice(users, n, p=zipf_probs(users, s=1.1, q=1.0)).astype(np.int64)
            ),
            "event_type": pa.array(
                kinds[rng.choice(5, n, p=[0.5, 0.3, 0.08, 0.07, 0.05])], pa.string()
            ),
            "value": pa.array(np.round(rng.gamma(2.0, 5.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd")


# -- serving corpus ----------------------------------------------------------


@dataclass
class ServeInputs:
    sf_dir: str
    corpus: Corpus
    queries: list[str]
    #: A pool of document ids reserved for documents added later
    #: (ingest); ids below ``next_id`` are in the served corpus.
    next_id: int
    model: TextModel
    n_events: int


def make_serve_inputs(
    seed: int, out_dir: str, n_docs: int, n_queries: int, n_events: int = 20_000
) -> ServeInputs:
    """``documents``/``events`` parquet for an engine, plus a query pool."""
    os.makedirs(out_dir, exist_ok=True)
    model = TextModel(seed)
    corpus = model.docs(list(range(n_docs)))
    write_table(corpus.table(), os.path.join(out_dir, "documents.parquet"))
    write_table(
        events_table(model.rng, n_events, users=500),
        os.path.join(out_dir, "events.parquet"),
    )
    return ServeInputs(
        out_dir, corpus, model.query_pool(n_queries), n_docs, model, n_events
    )


# -- curation corpus ---------------------------------------------------------


@dataclass
class CurateInputs:
    train_path: str
    bench_path: str
    n_train: int
    #: ids removed by exact dedup (every non-lowest id of a family).
    exact_removed: set[int]
    #: near-duplicate families (each a sorted id list, base doc first).
    near_families: list[list[int]]
    #: training ids sharing a 5-word shingle with the benchmark set.
    contaminated: set[int]
    #: ids that fail the quality filter / carry an unkept language.
    junk: set[int]
    foreign: set[int]
    source: dict[int, str] = field(default_factory=dict)
    tokens: dict[int, int] = field(default_factory=dict)


def _mutate(model: TextModel, text: str) -> str:
    """A near-duplicate: substitute about 1 word in 60 with a different
    word (never the planted token, which stays the family's marker)."""
    ws = text.split(" ")
    slots = [j for j, w in enumerate(ws) if not w.startswith("q")]
    for j in model.rng.choice(slots, max(1, len(ws) // 60), replace=False):
        new = ws[j]
        while new == ws[j]:
            new = model.words(1)[0]
        ws[j] = new
    return " ".join(ws)


def make_curate_inputs(seed: int, out_dir: str, n_base: int) -> CurateInputs:
    """Training corpus of about ``1.3 * n_base`` docs plus a held-out
    benchmark set, every planted family recorded as ground truth.

    Benchmark documents draw from a vocabulary disjoint from the
    training vocabulary, so a training doc shares a 5-word shingle
    with the benchmark set exactly when one was spliced into it."""
    os.makedirs(out_dir, exist_ok=True)
    model = TextModel(seed)
    rng = model.rng
    base = model.docs(list(range(n_base)), lo=90)
    base.lang = ["en"] * n_base
    base.source = [
        CURATE_SOURCES[k]
        for k in rng.choice(len(CURATE_SOURCES), n_base, p=zipf_probs(5, q=1.0))
    ]
    ids, texts = list(base.doc_id), list(base.text)
    langs, sources = list(base.lang), list(base.source)
    nxt = n_base

    def add(text: str, lang: str, src: str) -> int:
        nonlocal nxt
        ids.append(nxt)
        texts.append(text)
        langs.append(lang)
        sources.append(src)
        nxt += 1
        return nxt - 1

    picks = rng.permutation(n_base)
    n_fam = n_base // 20
    exact_fams = picks[:n_fam]
    near_fams = picks[n_fam : 2 * n_fam]
    cont_docs = picks[2 * n_fam : 3 * n_fam]
    foreign_docs = picks[3 * n_fam : 3 * n_fam + n_fam // 2]

    exact_removed: set[int] = set()
    for b in exact_fams:
        for c in range(int(rng.integers(1, 4))):
            t = texts[b] if c % 2 == 0 else texts[b].replace(" ", "  ", 1)
            exact_removed.add(add(t, langs[b], sources[b]))

    near_families: list[list[int]] = []
    for b in near_fams:
        fam, seen = [int(b)], {texts[b]}
        for _ in range(int(rng.integers(1, 4))):
            # two variants may draw the same substitution: redraw, or
            # they would be exact duplicates of each other
            variant = _mutate(model, texts[b])
            while variant in seen:
                variant = _mutate(model, texts[b])
            seen.add(variant)
            fam.append(add(variant, langs[b], sources[b]))
        near_families.append(fam)

    bench_vocab = np.array(make_vocab(rng, 3000, set(model.vocab)), dtype=object)
    n_bench = max(50, n_base // 100)
    bench_texts = [
        " ".join(bench_vocab[rng.integers(0, len(bench_vocab), int(n))])
        for n in model.lengths(n_bench, lo=40)
    ]
    contaminated: set[int] = set()
    for b in cont_docs:
        src = bench_texts[int(rng.integers(0, n_bench))].split(" ")
        at = int(rng.integers(0, len(src) - 8))
        ws = texts[b].split(" ")
        cut = int(rng.integers(1, len(ws)))
        texts[b] = " ".join(ws[:cut] + src[at : at + 8] + ws[cut:])
        contaminated.add(int(b))

    foreign = set(int(b) for b in foreign_docs)
    for b in foreign:
        langs[b] = "xx"
    junk: set[int] = set()
    for _ in range(n_fam):
        k = int(rng.integers(3, 10))
        junk.add(add(" ".join(model.words(k) + [rare_token(seed, nxt)]), "en", "web"))

    n_train = len(ids)
    train = Corpus(ids, texts, langs, sources)
    train_path = os.path.join(out_dir, "train")
    os.makedirs(train_path, exist_ok=True)
    write_table(train.table(), os.path.join(train_path, "documents.parquet"))
    bench_path = os.path.join(out_dir, "bench")
    os.makedirs(bench_path, exist_ok=True)
    bench = Corpus(
        list(range(10_000_000, 10_000_000 + n_bench)),
        bench_texts,
        ["en"] * n_bench,
        ["bench"] * n_bench,
    )
    write_table(bench.table(), os.path.join(bench_path, "documents.parquet"))
    return CurateInputs(
        train_path,
        bench_path,
        n_train,
        exact_removed,
        near_families,
        contaminated,
        junk,
        foreign,
        source=dict(zip(ids, sources)),
        tokens={i: len([w for w in t.split(" ") if w]) for i, t in zip(ids, texts)},
    )
