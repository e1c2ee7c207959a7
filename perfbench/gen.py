"""Seeded inputs for the benchmark.

Everything the program sees is produced here from one integer seed: the
document corpus (written as ``documents.parquet`` in the schema the engine's
corpus adapter reads) and the request streams the HTTP clients send. The same seed gives
byte-identical parquet and identical request streams.

Corpus shape:

- vocabulary of lowercase ASCII letter words drawn with Zipf weights, so
  document frequency runs from a handful of documents to nearly all of
  them: common terms overflow the global index's exact-uid tier
  (``uid_max`` uids per partition x language cell) while rare and mid
  terms stay inside it;
- lognormal document lengths, 5 languages with skewed shares, ~50
  sources with Zipf shares;
- planted exact duplicates (same text, new id) and near duplicates (one
  token substituted);
- every token is a lowercase alphanumeric run, so the engine's ``word``
  tokenizer and ``LcNoDiacritics`` normalizer are the identity and the
  pure-Python oracle in :mod:`oracle` is exact;
- a fresh-article batch (new ids past the corpus) for the incremental
  flush, each document carrying :data:`MARKER`, a token no other document
  holds;
- 64-d embeddings drawn from a Gaussian mixture, with planted near
  duplicates, for the curation pass.
"""

from __future__ import annotations

import io
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The seed used while the benchmark was written and tuned; claims should
# also hold on HOLDOUT_SEED, which no tuning run used.
TUNING_SEED = 1
HOLDOUT_SEED = 90210

LANGS = ("en", "de", "fr", "es", "it")
LANG_SHARES = (0.60, 0.12, 0.10, 0.10, 0.08)
N_SOURCES = 50
SOURCE_ZIPF_S = 0.8
VOCAB_SIZE = 3000
WORD_ZIPF_S = 1.05
LEN_MU, LEN_SIGMA = 4.0, 0.5  # lognormal token count: median ~55
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
# planted only in the fresh batch: vocabulary words hold no digit
MARKER = "zz0fresh"
EMB_DIM, EMB_CENTERS = 64, 16


@dataclass
class Corpus:
    ids: list[int]
    texts: list[str]
    langs: list[str]
    sources: list[str]
    exact_dups: list[tuple[int, int]] = field(default_factory=list)  # (dup, original)
    near_dups: list[tuple[int, int]] = field(default_factory=list)  # (dup, original)

    def table(self) -> pa.Table:
        return pa.table(
            {
                "doc_id": pa.array(self.ids, pa.int64()),
                "text": pa.array(self.texts, pa.string()),
                "lang": pa.array(self.langs, pa.string()),
                "source": pa.array(self.sources, pa.string()),
                "n_chars": pa.array([len(t) for t in self.texts], pa.int64()),
            }
        )


def parquet_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue()


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct 2-4 syllable words of lowercase letters."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Generator:
    """All inputs of one benchmark run, derived from ``seed``."""

    def __init__(self, seed: int, n_docs: int):
        self.seed, self.n_docs = seed, n_docs
        self.vocab = vocabulary(np.random.default_rng([seed, 0]), VOCAB_SIZE)
        p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -WORD_ZIPF_S
        self.word_p = p / p.sum()
        sp = np.arange(1, N_SOURCES + 1, dtype=np.float64) ** -SOURCE_ZIPF_S
        self.source_p = sp / sp.sum()
        self.corpus = self._corpus(np.random.default_rng([seed, 1]), n_docs)

    # -- documents ---------------------------------------------------------

    def _docs(self, rng, n_docs: int):
        lens = np.clip(rng.lognormal(LEN_MU, LEN_SIGMA, n_docs).astype(int), 12, 400)
        tok = rng.choice(len(self.vocab), size=int(lens.sum()), p=self.word_p)
        texts, off = [], 0
        for n in lens:
            words = [self.vocab[j] for j in tok[off : off + n]]
            off += n
            texts.append(" ".join(words))
        langs = [LANGS[i] for i in rng.choice(len(LANGS), size=n_docs, p=LANG_SHARES)]
        sources = [f"s{i:02d}" for i in rng.choice(N_SOURCES, size=n_docs, p=self.source_p)]
        return texts, langs, sources

    def _corpus(self, rng, n: int) -> Corpus:
        texts, langs, sources = self._docs(rng, n)
        c = Corpus(list(range(n)), texts, langs, sources)
        # plant duplicates over the second half, copying from the first:
        # 2% exact copies and 3% one-token substitutions (3-shingle
        # Jaccard >= 0.9 for documents of 60+ tokens)
        half = n // 2
        picks = rng.permutation(np.arange(half, n))
        n_exact, n_near = n // 50, (3 * n) // 100
        for k, dup in enumerate(picks[: n_exact + n_near]):
            orig = int(rng.integers(0, half))
            words = texts[orig].split(" ")
            if k < n_exact:
                c.exact_dups.append((int(dup), orig))
            else:
                pos = int(rng.integers(0, len(words)))
                words[pos] = self.vocab[int(rng.integers(0, len(self.vocab)))]
                while " ".join(words) == texts[orig]:
                    words[pos] = self.vocab[int(rng.integers(0, len(self.vocab)))]
                c.near_dups.append((int(dup), orig))
            c.texts[dup] = " ".join(words)
        return c

    def fresh_batch(self, n: int) -> Corpus:
        """``n`` new documents with ids after the corpus's, drawn like the
        corpus, each holding :data:`MARKER` at a random position."""
        rng = np.random.default_rng([self.seed, 2])
        texts, langs, sources = self._docs(rng, n)
        marked = []
        for t in texts:
            words = t.split(" ")
            words.insert(int(rng.integers(0, len(words) + 1)), MARKER)
            marked.append(" ".join(words))
        return Corpus(list(range(self.n_docs, self.n_docs + n)), marked, langs, sources)

    def embeddings(self, n: int) -> tuple[pa.Table, list[tuple[int, int]]]:
        """``n`` float32 vectors (``vec_id`` 0..n-1, the contiguous ids the
        similarity operators' self-queries assume) around
        :data:`EMB_CENTERS` Gaussian centres, and the planted near-duplicate
        pairs ``(dup, original)``: 3% of the second half copies a vector of
        the first half plus tiny noise."""
        rng = np.random.default_rng([self.seed, 4])
        centers = rng.normal(0.0, 1.0, (EMB_CENTERS, EMB_DIM))
        label = rng.integers(0, EMB_CENTERS, n)
        vecs = centers[label] + rng.normal(0.0, 0.6, (n, EMB_DIM))
        half = n // 2
        dups = [int(d) for d in rng.permutation(np.arange(half, n))[: (3 * n) // 100]]
        pairs = []
        for d in dups:
            o = int(rng.integers(0, half))
            vecs[d] = vecs[o] + rng.normal(0.0, 0.01, EMB_DIM)
            label[d] = label[o]
            pairs.append((d, o))
        table = pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
                "label": pa.array(label, pa.int32()),
            }
        )
        return table, pairs

    # -- requests ----------------------------------------------------------

    def term_bands(self) -> dict[str, list[str]]:
        """Terms by document frequency over the corpus: rare (2-20 docs),
        mid (21 docs to 15% of docs) and common (>50% of docs)."""
        df: dict[str, int] = {}
        for t in self.corpus.texts:
            for w in set(t.split(" ")):
                df[w] = df.get(w, 0) + 1
        n = self.n_docs
        bands = {"rare": [], "mid": [], "common": []}
        for w in self.vocab:  # vocabulary order keeps this deterministic
            d = df.get(w, 0)
            if 2 <= d <= 20:
                bands["rare"].append(w)
            elif 20 < d <= 0.15 * n:
                bands["mid"].append(w)
            elif d > 0.5 * n:
                bands["common"].append(w)
        return bands


KINDS = ("bool_rare", "bool_common", "bool_or", "fielded", "wildcard", "bm25", "phrase")


class Requests:
    """Request builder over one generator's corpus. A request is a
    ``(kind, path, params, ast)`` tuple (see :meth:`make`); ``params``
    always carries ``limit=100``, one UI page."""

    def __init__(self, gen: Generator, rng: np.random.Generator):
        self.rng = rng
        self.bands = gen.term_bands()
        self.tokens = [t.split(" ") for t in gen.corpus.texts]

    def _pick(self, seq):
        return seq[int(self.rng.integers(0, len(seq)))]

    def _doc_terms(self, *bands: str) -> list[str]:
        """Distinct terms, one from each named band, that co-occur in one
        document, so their conjunction has at least one answer."""
        for _ in range(500):
            toks = set(self._pick(self.tokens))
            out: list[str] = []
            for band in bands:
                cand = sorted(toks.intersection(self.bands[band]).difference(out))
                if not cand:
                    break
                out.append(self._pick(cand))
            else:
                return out
        raise RuntimeError(f"no document holds terms of bands {bands}")

    def make(self, kind: str, rank: int) -> tuple[str, str, dict, tuple | None]:
        """One request of ``kind``: ``(kind, path, params, ast)``, where
        ``ast`` is the boolean expression as nested tuples (the oracle's
        input; :func:`render` gives the query string) or None for the
        ranked and phrase routes. The request's shape (term count, which
        field clause, prefix or suffix wildcard) follows from ``rank``, its
        position among the pool's requests of that kind, so every seed
        asks the same shapes at the same ranks and seeds differ only in
        the terms, fields and phrases drawn."""
        lim = {"limit": "100"}
        r = self.rng
        if kind == "bool_rare":
            a, b = self._doc_terms("mid", "rare")
            ast = ("and", ("text", a), ("text", b))
        elif kind == "bool_common":
            ts = self._doc_terms(*["common"] * (2 + rank % 3))
            ast = ("and", *(("text", t) for t in ts))
            if rank // 3 % 2:
                ast += (("eq", "LANG", self._pick(LANGS)),)
        elif kind == "bool_or":
            a, b = self._pick(self.bands["rare"]), self._pick(self.bands["mid"])
            # NOT over a single-valued field: over multi-valued TEXT the
            # engine follows the reference's per-value reading (NOT
            # TEXT == c holds when SOME token differs from c)
            src = f"s{int(r.integers(0, 10)):02d}"
            ast = ("and", ("or", ("text", a), ("text", b)), ("not", ("eq", "SOURCE", src)))
        elif kind == "fielded":
            t = ("text", self._pick(self.bands["mid"]))
            shape = rank % 3
            if shape == 0:
                ast = ("and", ("eq", "SOURCE", f"s{int(r.integers(0, 10)):02d}"), t)
            elif shape == 1:
                ast = ("and", ("eq", "LANG", self._pick(LANGS)), t)
            else:
                lo = int(r.integers(0, N_SOURCES - 5))
                ast = ("and", ("range", f"s{lo:02d}", f"s{lo + 4:02d}"), t)
        elif kind == "wildcard":
            w = self._pick(self.bands["mid"])
            pat = f"{w[:4]}.*" if rank % 2 == 0 else f".*{w[-4:]}"
            ast = ("and", ("re", pat), ("text", self._pick(self.bands["common"])))
        elif kind == "bm25":
            return kind, "/bm25", {"terms": ",".join(self._doc_terms("mid", "mid")), **lim}, None
        elif kind == "phrase":
            toks = self._pick([t for t in self.tokens if len(t) >= 3])
            i = int(r.integers(0, len(toks) - 2))
            n = 2 + rank % 2
            return kind, "/phrase", {"terms": ",".join(toks[i : i + n]), **lim}, None
        else:
            raise ValueError(kind)
        return kind, "/query", {"query": render(ast), **lim}, ast

    def distinct(self, n: int) -> list[tuple]:
        """``n`` pairwise-distinct requests, kinds in strict rotation."""
        out, seen = [], set()
        while len(out) < n:
            kind = KINDS[len(out) % len(KINDS)]
            for _ in range(1000):
                req = self.make(kind, len(out) // len(KINDS))
                key = (req[1], tuple(sorted(req[2].items())))
                if key not in seen:
                    break
            else:
                raise RuntimeError(f"no new distinct {kind} request")
            seen.add(key)
            out.append(req)
        return out


def marker_request() -> tuple:
    """The request whose answer is exactly the fresh batch (its page of
    100 holds every fresh document)."""
    ast = ("text", MARKER)
    return "marker", "/query", {"query": render(ast), "limit": "100"}, ast


def all_docs_request() -> tuple:
    """Every document, as ids only and without a page limit: the answer
    must hold the whole corpus."""
    ast = ("or", *(("eq", "LANG", lang) for lang in LANGS))
    return "all_docs", "/query", {"query": render(ast), "ids": "1"}, ast


def render(node) -> str:
    """Query-language text of an expression tuple."""
    op = node[0]
    if op == "text":
        return f"TEXT == '{node[1]}'"
    if op == "eq":
        return f"{node[1]} == '{node[2]}'"
    if op == "range":
        return f"SOURCE >= '{node[1]}' and SOURCE <= '{node[2]}'"
    if op == "re":
        return f"TEXT =~ '{node[1]}'"
    if op == "not":
        return f"not {render(node[1])}"
    if op == "and":
        return " and ".join(
            f"({render(c)})" if c[0] == "or" else render(c) for c in node[1:]
        )
    if op == "or":
        return " or ".join(render(c) for c in node[1:])
    raise ValueError(op)


# seed of the Zipf rank draws: fixed, so every workload seed sees the same
# access pattern (which kind and which rank within it, hence the same plan
# cache hits and misses) and seeds differ only in the terms asked
ZIPF_RANK_SEED = 7


def zipf_stream(pool: list, n: int, s: float = 1.1) -> list:
    """``n`` requests from ``pool``: kinds in fixed rotation, and within a
    kind Zipf(s) by position in the pool, so the hot head is the pool's
    first request of each kind."""
    rng = np.random.default_rng(ZIPF_RANK_SEED)
    by_kind: dict[str, list] = {}
    for req in pool:
        by_kind.setdefault(req[0], []).append(req)
    kinds = list(by_kind)
    per_kind = -(-n // len(kinds))
    draws = {}
    for k in kinds:
        w = np.arange(1, len(by_kind[k]) + 1, dtype=np.float64) ** -s
        draws[k] = rng.choice(len(by_kind[k]), size=per_kind, p=w / w.sum())
    return [
        by_kind[kinds[i % len(kinds)]][draws[kinds[i % len(kinds)]][i // len(kinds)]]
        for i in range(n)
    ]
