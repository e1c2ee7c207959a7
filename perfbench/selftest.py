"""The benchmark's own tests: seed discipline, the metric contract, the
oracle and span arithmetic, and a tiny-scale smoke run of each workload,
untraced and traced (the traced runs include the write path and the
curation pass).

    python3 -m pytest perfbench/selftest.py -q -p no:cacheprovider

The file name does not match pytest's `test_*.py` pattern on purpose: a
plain `pytest` at the repository root collects the repository's own suite
only, and the smoke runs (a Spark session each, about a minute apiece)
run only when this file is named on the command line.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from oracle import Oracle  # noqa: E402
from spans import Span, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _inputs(seed: int, n: int = 400):
    g = gen.Generator(seed, n)
    reqs = gen.Requests(g, np.random.default_rng([seed, 3])).distinct(60)
    emb, pairs = g.embeddings(n)
    return (
        gen.parquet_bytes(g.corpus.table()),
        reqs,
        gen.parquet_bytes(g.fresh_batch(20).table()),
        gen.parquet_bytes(emb),
        pairs,
    )


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs(gen.TUNING_SEED) == _inputs(gen.TUNING_SEED)
    pool = _inputs(gen.TUNING_SEED)[1]
    assert gen.zipf_stream(pool, 500) == gen.zipf_stream(pool, 500)


def test_holdout_seed_gives_other_inputs():
    assert gen.HOLDOUT_SEED != gen.TUNING_SEED
    a, b = _inputs(gen.TUNING_SEED), _inputs(gen.HOLDOUT_SEED)
    assert all(x != y for x, y in zip(a, b))


def _shape(req):
    """A request with its terms, fields' values and phrases taken out."""
    kind, _path, params, ast = req

    def walk(node):
        op = node[0]
        if op in ("and", "or", "not"):
            return (op, *map(walk, node[1:]))
        if op == "eq":
            return (op, node[1])
        if op == "re":
            return (op, node[1].startswith(".*"))
        return (op,)

    return kind, walk(ast) if ast is not None else len(params["terms"].split(","))


def test_seeds_differ_only_in_the_terms_asked():
    # a request's shape follows from its rank within its kind, so two
    # seeds ask the same shapes in the same order
    a, b = (
        gen.Requests(gen.Generator(s, 400), np.random.default_rng([s, 3])).distinct(60)
        for s in (gen.TUNING_SEED, gen.HOLDOUT_SEED)
    )
    assert [_shape(r) for r in a] == [_shape(r) for r in b]
    assert len({_shape(r) for r in a}) > len(gen.KINDS)
    assert a != b


def test_fresh_batch_alone_holds_the_marker():
    g = gen.Generator(3, 400)
    fresh = g.fresh_batch(50)
    assert fresh.ids == list(range(400, 450))
    assert all(gen.MARKER in t.split(" ") for t in fresh.texts)
    assert not any(gen.MARKER in t.split(" ") for t in g.corpus.texts)
    o = Oracle()
    o.add(g.corpus)
    o.add(fresh)
    assert o.expected(gen.marker_request()) == set(fresh.ids)
    assert o.expected(gen.all_docs_request()) == set(range(450))


def test_embeddings_plant_near_duplicates():
    g = gen.Generator(3, 400)
    table, pairs = g.embeddings(400)
    assert table.column("vec_id").to_pylist() == list(range(400))
    vecs = np.array(table.column("embedding").to_pylist())
    assert vecs.shape == (400, gen.EMB_DIM) and len(pairs) == 12
    for d, o in pairs:
        a, b = vecs[d], vecs[o]
        assert a @ b / np.linalg.norm(a) / np.linalg.norm(b) > 0.999


def test_corpus_spans_both_sides_of_the_exact_uid_tier():
    # a common term must exceed uid_max docs in some partition x language
    # cell (count-only tier); rare terms stay far inside it
    from accumulo_wikisearch_spark.config import EngineConfig

    uid_max = EngineConfig().uid_max
    g = gen.Generator(gen.TUNING_SEED, run.N_DOCS)
    bands = g.term_bands()
    assert bands["rare"] and bands["mid"] and bands["common"]
    cells: dict = {}
    for i, t, lang in zip(g.corpus.ids, g.corpus.texts, g.corpus.langs):
        if bands["common"][0] in t.split(" "):
            key = (i % 8, lang)
            cells[key] = cells.get(key, 0) + 1
    assert max(cells.values()) > uid_max


def test_generated_tokens_are_lowercase_alnum_with_planted_duplicates():
    g = gen.Generator(3, 400)
    for text in g.corpus.texts:
        assert all(re.fullmatch(r"[a-z0-9]+", t) for t in text.split(" "))
    texts = g.corpus.texts
    assert g.corpus.exact_dups and all(texts[d] == texts[o] for d, o in g.corpus.exact_dups)
    for d, o in g.corpus.near_dups:
        a, b = texts[d].split(" "), texts[o].split(" ")
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) == 1


def test_metric_contract():
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    layer = {m["name"]: m for m in BENCH["per_layer"]}
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    assert {k: m["unit"] for k, m in e2e.items()} == metrics.END_TO_END
    assert {k: m["unit"] for k, m in layer.items()} == metrics.PER_LAYER
    assert not set(e2e) & set(layer)
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in BENCH["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert sorted(w["name"] for w in BENCH["workloads"]) == sorted(run.WORKLOADS)
    assert 1 <= len(BENCH["paths"]) <= 16 and 1 <= BENCH["run_seconds"] <= 60


def test_oracle_answers():
    c = gen.Corpus([1, 2, 3], ["aa cc", "aa", "bb cc"], ["en", "de", "en"], ["s01", "s02", "s03"])
    o = Oracle()
    o.add(c)
    assert o.eval(("and", ("text", "aa"), ("text", "cc"))) == {1}
    assert o.eval(("or", ("text", "aa"), ("text", "bb"))) == {1, 2, 3}
    assert o.eval(("and", ("text", "cc"), ("not", ("eq", "SOURCE", "s01")))) == {3}
    assert o.eval(("and", ("range", "s02", "s03"), ("re", ".*c"))) == {3}
    assert o.eval(("and", ("eq", "LANG", "en"), ("re", "a.*"))) == {1}
    assert o.phrase(["aa", "cc"]) == {1} and o.phrase(["cc", "aa"]) == set()
    with pytest.raises(ValueError):
        o.eval(("and", ("text", "aa"), ("not", ("text", "cc"))))
    req = ("bool", "/query", {"query": "", "limit": "1"}, ("text", "cc"))
    assert o.check(req, [3]) is None
    assert o.check(req, [2]) is not None  # outside the expected set
    assert o.check(req, []) is not None  # short page


def test_self_times_add_up_to_the_request():
    # client 0..10 > handler 1..10.5 (outlives the client) > two children
    spans = [
        Span(1, "client.request", None, 1, 0.0, 10.0),
        Span(2, "serving.handle", 1, 1, 1.0, 10.5),
        Span(3, "api.call.query", 2, 1, 2.0, 4.0),
        Span(4, "serving.collect", 2, 1, 5.0, 9.0),
        Span(5, "plans.plan", 3, 1, 2.5, 3.5),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(1.0) and st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_emits_every_declared_metric(workload, trace, monkeypatch, capsys):
    monkeypatch.setattr(run, "N_DOCS", 400)
    monkeypatch.setattr(run, "N_DISTINCT", 40)
    # main() points these at its run directory, which it removes at exit
    monkeypatch.setattr(tempfile, "tempdir", tempfile.gettempdir())
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    # a seed per case: get_engine caches engines by corpus path, and the
    # run directory is named by workload, seed and (here shared) pid
    seed = str(5 + trace)
    rc = run.main(["--workload", workload, "--seed", seed, "--seconds", "1", "--trace", str(trace)])
    line = capsys.readouterr().out.strip().splitlines()[-1]
    out = json.loads(line)
    assert rc == 0 and out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    elif workload == "search_unique":  # the traced write path ran and healed
        assert out["metrics"]["api.heals"]["value"] >= 1
        assert out["metrics"]["compaction.compact_ms"]["value"] > 0
    else:  # the traced curation pass ran
        assert out["metrics"]["dedup.planted_pair_recall"]["value"] > 0
        assert out["metrics"]["curate.docs_per_s"]["value"] > 0
