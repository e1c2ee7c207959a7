"""Pure-Python answer checker for the benchmark's requests.

An inverted index over the generated documents answers every request
shape the generator emits. Generated tokens are lowercase alphanumeric
runs, so whitespace splitting is exactly the engine's ``word`` tokenizer
plus ``LcNoDiacritics`` normalizer on this input.
"""

from __future__ import annotations

import re
from collections import defaultdict


class Oracle:
    def __init__(self):
        self.tokens: dict[int, list[str]] = {}
        self.postings: dict[str, set[int]] = defaultdict(set)
        self.fields: dict[tuple[str, str], set[int]] = defaultdict(set)
        self.sources: set[str] = set()

    def add(self, corpus) -> None:
        for i, text, lang, src in zip(
            corpus.ids, corpus.texts, corpus.langs, corpus.sources
        ):
            toks = text.split(" ")
            self.tokens[i] = toks
            for t in toks:
                self.postings[t].add(i)
            self.fields[("LANG", lang)].add(i)
            self.fields[("SOURCE", src)].add(i)
            self.sources.add(src)

    # -- expected answers --------------------------------------------------

    def eval(self, node) -> set[int]:
        op = node[0]
        if op == "text":
            return set(self.postings.get(node[1], ()))
        if op == "eq":
            return set(self.fields.get((node[1], node[2]), ()))
        if op == "range":  # SOURCE between lo and hi, inclusive
            out: set[int] = set()
            for s in self.sources:
                if node[1] <= s <= node[2]:
                    out |= self.fields[("SOURCE", s)]
            return out
        if op == "re":
            pat = re.compile(node[1])
            out = set()
            for t, ids in self.postings.items():
                if pat.fullmatch(t):
                    out |= ids
            return out
        if op == "and":
            sets = [self.eval(c) for c in node[1:] if c[0] != "not"]
            out = set.intersection(*sets)
            for c in node[1:]:
                if c[0] == "not":
                    if c[1][0] != "eq":
                        # over multi-valued TEXT the engine reads NOT per
                        # value, which this set difference does not model
                        raise ValueError("NOT is only checked over single-valued fields")
                    out -= self.eval(c[1])
            return out
        if op == "or":
            return set().union(*(self.eval(c) for c in node[1:]))
        raise ValueError(f"unknown node {op}")

    def all_terms(self, terms: list[str]) -> set[int]:
        return set.intersection(*(set(self.postings.get(t, ())) for t in terms))

    def phrase(self, terms: list[str]) -> set[int]:
        n = len(terms)
        return {
            d
            for d in self.all_terms(terms)
            if any(self.tokens[d][i : i + n] == terms for i in range(len(self.tokens[d])))
        }

    def expected(self, req) -> set[int]:
        kind, path, params, ast = req
        if path == "/query":
            return self.eval(ast)
        terms = params["terms"].split(",")
        return self.all_terms(terms) if path == "/bm25" else self.phrase(terms)

    # -- checks ------------------------------------------------------------

    def check(self, req, ids: list[int], expected: set[int] | None = None) -> str | None:
        """None when ``ids`` is a correct page for ``req``, else the reason."""
        exp = self.expected(req) if expected is None else expected
        limit = int(req[2].get("limit", 0)) or len(exp)
        if len(set(ids)) != len(ids):
            return "duplicate ids"
        stray = set(ids) - exp
        if stray:
            return f"{len(stray)} ids outside the expected set"
        if len(ids) != min(limit, len(exp)):
            return f"count {len(ids)} != min({limit}, {len(exp)})"
        return None
