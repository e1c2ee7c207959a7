"""The curation pass of a traced ``search_zipf`` run.

After the window, one client runs the corpus-curation operators once over
the workload's own corpus and a generated embedding table, each step in
its own span: MinHash-LSH near-duplicate pairs, exact duplicates,
duplicated spans, text quality, SemDeDup, IVF-PQ top-k in memory and on
disk, and the brute-force top-k that scores the IVF-PQ paths' recall.
These operators never touch the facade or the planner, so no search
request reaches them.

Correctness: every planted exact duplicate must be reported; a missing
one is a failed operation. The share of planted near duplicates found
(MinHash-LSH pairs, SemDeDup drops) and the IVF-PQ recall@10 are
reported, not gated: all are approximate by design.
"""

from __future__ import annotations

import time

N_QUERIES = 10  # self-queries of the top-k steps (vec_ids 0..9)
K = 10

# (span name, per-layer metric) of each step, in the order they run
STEPS = (
    ("dedup.minhash_lsh", "dedup.minhash_lsh_ms"),
    ("dedup.exact", "dedup.exact_ms"),
    ("dedup.spans", "dedup.spans_ms"),
    ("textstats.quality", "textstats.quality_ms"),
    ("similarity.semdedup", "similarity.semdedup_ms"),
    ("similarity.ivf_pq", "similarity.ivf_pq_ms"),
    ("similarity.ivf_pq_disk", "similarity.ivf_pq_disk_ms"),
    ("similarity.bruteforce", "similarity.bruteforce_ms"),
)


def _topk(rows) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
    return out


def _recall(approx: dict, exact: dict) -> float:
    hits = sum(len(approx.get(q, set()) & ns) for q, ns in exact.items())
    return hits / sum(len(ns) for ns in exact.values())


def curate_pass(run, corpus_dir: str) -> dict:
    """Run every step once; return the pass's counts and measurements."""
    import pyarrow.parquet as pq

    from accumulo_wikisearch_spark.operators import dedup, similarity, textstats

    spark, tr = run.spark, run.tracer
    corpus = run.gen.corpus
    emb_table, emb_pairs = run.gen.embeddings(len(corpus.ids))
    emb_dir = run.workdir / "embeddings"
    emb_dir.mkdir()
    pq.write_table(emb_table, emb_dir / "embeddings.parquet")
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    emb = spark.read.parquet(str(emb_dir / "embeddings.parquet"))
    queries = similarity.self_queries(emb, N_QUERIES)

    def step(name, fn):
        with tr.span(name, req=next(run.ops)):
            return fn()

    t0 = time.perf_counter()
    pairs = step("dedup.minhash_lsh", lambda: dedup.minhash_lsh_pairs(docs).collect())
    exact = step("dedup.exact", lambda: dedup.exact_duplicates(docs).collect())
    step("dedup.spans", lambda: dedup.duplicated_spans(docs).collect())
    step("textstats.quality", lambda: textstats.text_quality(docs).collect())
    keep = step("similarity.semdedup", lambda: similarity.semdedup_keep(emb).collect())
    ivf_pq = step("similarity.ivf_pq", lambda: similarity.topk_ivf_pq(emb, queries, k=K).collect())

    def on_disk():
        path = str(run.workdir / "ivf_pq")
        cents, books = similarity.write_ivf_pq_index(emb, path)
        q8 = similarity.self_queries_q8(emb, N_QUERIES)
        return similarity.topk_ivf_pq_on_disk(spark, path, cents, books, q8, k=K).collect()

    ivf_pq_disk = step("similarity.ivf_pq_disk", on_disk)
    brute = step("similarity.bruteforce", lambda: similarity.topk_bruteforce(emb, queries, k=K).collect())
    wall_s = time.perf_counter() - t0

    found = {tuple(sorted((int(r["a_id"]), int(r["b_id"])))) for r in pairs}
    near = {tuple(sorted(p)) for p in corpus.near_dups}
    exact_found = {int(r["doc_id"]) for r in exact}
    missing = [d for d, _ in corpus.exact_dups if d not in exact_found]
    dropped = {int(r["vec_id"]) for r in keep if not r["keep"]}
    truth = _topk(brute)
    return dict(
        attempted=len(STEPS),
        failed=1 if missing else 0,
        why=[f"curation: planted exact duplicates not found: {missing[:5]}"] if missing else [],
        curate=dict(
            wall_s=wall_s,
            n_docs=len(corpus.ids),
            planted_pair_recall=len(found & near) / len(near),
            ann_recall=_recall(_topk(ivf_pq), truth),
            ann_recall_disk=_recall(_topk(ivf_pq_disk), truth),
            semdedup_planted_recall=sum(d in dropped for d, _ in emb_pairs) / len(emb_pairs),
        ),
    )
