"""``curate``: the data engineer's curation pipeline —
``pipeline.curate_documents`` over a seeded corpus with planted exact and
near duplicates at fixed shares, then retrieval with
``similarity.cosine_topk`` (exact) and ``similarity.ivf_topk`` (ANN) for
seeded batches of query vectors.

CPU-bound Python/Arrow work plus iterative dedup rounds and persisted
stages, with little I/O: exercises ``operators.*`` and ``pipeline`` and
barely touches ``converter``/``copy``.  Runs as part of the
``analyze`` workload.  Untraced iterations run the single ``curate_documents`` plan (lazy stage
counts ride its one action); traced iterations materialize each stage
operator on its own (persisted and counted inside its span) to give stage
self times.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow.parquet as pq

from harness import median

N_BASE_DOCS = 400          # + 10% exact dups, 10% near dups, 5% junk, 8 eval docs
N_VECTORS = 1000
N_QUERIES = 32
QUERY_BATCHES = 1          # retrieval operations per kind and iteration
TOP_K = 10
TOKEN_BUDGET = 16_000      # about half the deduplicated tokens
RECALL_FLOOR = 0.9         # planted duplicates removed ÷ planted
IVF_RECALL_FLOOR = 0.5
STAGES = ["input", "quality_filter", "exact_dedup", "near_dedup", "decontaminated", "token_budget"]


class Curate:
    name = "curate"

    def generate(self, rng: np.random.Generator, root: str) -> dict:
        import datagen

        corpus = datagen.documents(rng, N_BASE_DOCS)
        vecs, queries = datagen.embeddings(rng, N_VECTORS, N_QUERIES)
        os.makedirs(root, exist_ok=True)
        pq.write_table(corpus.documents, f"{root}/documents.parquet")
        pq.write_table(vecs, f"{root}/embeddings.parquet")
        pq.write_table(queries, f"{root}/queries.parquet")
        return {"root": root, "corpus": corpus, "vecs": vecs, "queries": queries}

    def setup(self, ctx, state: dict) -> None:
        corpus = state["corpus"]
        docs = corpus.documents
        state["norm_text"] = dict(zip(
            docs.column("doc_id").to_pylist(),
            (re.sub(r"\s+", " ", t.lower()).strip() for t in docs.column("text").to_pylist())))
        state["planted"] = set(corpus.exact_of) | set(corpus.near_of)
        state["planted_pairs"] = {(b, d) for d, b in corpus.near_of.items()}
        # exact top-k by numpy: the independent answer for cosine_topk
        c = np.stack(state["vecs"].column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        q = np.stack(state["queries"].column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        cos = np.round((q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1)), 6)
        cids = state["vecs"].column("vec_id").to_numpy()
        qids = state["queries"].column("vec_id").to_pylist()
        state["cos"] = {qid: dict(zip(cids.tolist(), cos[j])) for j, qid in enumerate(qids)}
        state["kth"] = {qid: np.sort(cos[j])[-TOP_K] for j, qid in enumerate(qids)}
        state["corpus_ids"] = set(cids.tolist())
        state["batches"] = [b.tolist() for b in np.array_split(np.array(qids), QUERY_BATCHES)]
        state["stages"] = None

    def trace_targets(self, eng) -> tuple[list, set]:
        ops = eng.operators
        targets = [
            (ops.text, "document_profile", "operators.text.document_profile"),
            (ops.dedup, "fingerprint_dedup", "operators.dedup.fingerprint_dedup"),
            (ops.dedup, "lsh_candidate_pairs", "operators.dedup.lsh_candidate_pairs"),
            (ops.dedup, "connected_groups", "operators.dedup.connected_groups"),
            (ops.dedup, "benchmark_overlap", "operators.dedup.benchmark_overlap"),
            (ops.selection, "select_token_budget", "operators.selection.select_token_budget"),
            (ops.selection, "pack_token_sequences", "operators.selection.pack_token_sequences"),
        ]
        materialize = {name for _, _, name in targets}
        return targets + [(eng.catalog, "load_table", "catalog.load_table")], materialize

    def iteration(self, ctx, state: dict, i: int) -> dict:
        from pyspark.sql import functions as F

        eng, spark, root = ctx.eng, ctx.spark, state["root"]

        def curate():
            docs = eng.catalog.load_table(spark, root, "documents")
            out, report = eng.pipeline.curate_documents(
                docs, benchmark_pred=F.col("source") == "eval", token_budget=TOKEN_BUDGET,
                with_counts="lazy")
            rows = out.select("doc_id", "n_tokens").collect()
            report.resolve()
            report.release()
            return [(r.doc_id, r.n_tokens) for r in rows], dict(report.stages)

        res = {"curated": ctx.op("pipeline.curate_documents", curate), "cosine": {}, "ivf": {}}
        corpus = spark.read.parquet(f"{root}/embeddings.parquet")
        queries = spark.read.parquet(f"{root}/queries.parquet")
        sim = eng.operators.similarity
        for fn, key in ((sim.cosine_topk, "cosine"), (sim.ivf_topk, "ivf")):
            for batch in state["batches"]:
                q = queries.filter(F.col("vec_id").isin(batch))
                rows = ctx.op(f"operators.similarity.{fn.__name__}", lambda fn=fn, q=q: [
                    (r.query_id, r.match_id)
                    for r in fn(q, corpus, k=TOP_K).select("query_id", "match_id").collect()])
                for qid, mid in rows or []:
                    res[key].setdefault(qid, set()).add(mid)
        return res

    def check(self, ctx, state: dict, res: dict) -> list[str]:
        bad = []
        if res["curated"] is None:
            return bad
        rows, stages = res["curated"]
        counts = [stages.get(s, -1) for s in STAGES]
        if counts != sorted(counts, reverse=True) or min(counts) <= 0:
            bad.append(f"curate: stage counts not monotone and positive: {counts}")
        if stages.get("packed") != stages.get("token_budget"):
            bad.append(f"curate: packed {stages.get('packed')} != selected {stages.get('token_budget')}")
        if sum(n for _, n in rows) > TOKEN_BUDGET:
            bad.append("curate: selected tokens exceed the budget")
        texts = [state["norm_text"][d] for d, _ in rows]
        if len(set(texts)) != len(texts):
            bad.append("curate: a duplicate fingerprint survived")
        if state["stages"] is None:
            state["stages"] = stages
        elif stages != state["stages"]:
            bad.append(f"curate: stage counts changed between iterations: {stages} vs {state['stages']}")
        exact_of, near_of = state["corpus"].exact_of, state["corpus"].near_of
        exact_removed = stages["quality_filter"] - stages["exact_dedup"]
        near_removed = stages["exact_dedup"] - stages["near_dedup"]
        if exact_removed != len(exact_of):
            bad.append(f"curate: exact dedup removed {exact_removed}, planted {len(exact_of)}")
        recall = min(exact_removed + near_removed, len(state["planted"])) / len(state["planted"])
        if recall < RECALL_FLOOR:
            bad.append(f"curate: planted-duplicate recall {recall:.3f} < {RECALL_FLOOR}")
        if not _is_topk(res["cosine"], state):
            bad.append("curate: cosine_topk differs from the exact numpy top-k")
        ivf_ids = set().union(*res["ivf"].values()) if res["ivf"] else set()
        if not ivf_ids <= state["corpus_ids"]:
            bad.append("curate: ivf_topk returned ids outside the corpus")
        res["ivf_recall"] = _recall(res["ivf"], res["cosine"])
        if res["ivf_recall"] < IVF_RECALL_FLOOR:
            bad.append(f"curate: ivf_topk recall@{TOP_K} {res['ivf_recall']:.3f} < {IVF_RECALL_FLOOR}")
        return bad

    def end_iteration(self, ctx, state: dict, res: dict) -> None:
        """In traced iterations, measure dedup quality from the materialized
        operator outputs, then release them."""
        calls = ctx.calls
        if not calls:
            return
        pairs_calls = calls.get("operators.dedup.lsh_candidate_pairs", [])
        if pairs_calls:
            _, pairs_df, n_pairs = pairs_calls[-1]
            pairs = {(r.id_a, r.id_b) for r in pairs_df.collect()}
            res["candidate_pairs"] = n_pairs
            res["pair_precision"] = len(pairs & state["planted_pairs"]) / len(pairs) if pairs else 0.0
        removed = set()
        for args, out, _ in calls.get("operators.dedup.fingerprint_dedup", []):
            removed |= {r.doc_id for r in args[0].select("doc_id").collect()} - {
                r.doc_id for r in out.select("doc_id").collect()}
        for _, groups, _ in calls.get("operators.dedup.connected_groups", []):
            removed |= {r.doc_id for r in groups.filter("doc_id != group_id").collect()}
        res["planted_recall"] = len(removed & state["planted"]) / len(state["planted"])
        for recs in calls.values():
            for _, out, _ in recs:
                if hasattr(out, "unpersist"):
                    out.unpersist()

    def layer_metrics(self, tr, state: dict, iters: list[tuple[int, dict]]) -> dict:
        m: dict[str, list[float]] = {}
        names = [
            "pipeline.curate_documents", "operators.text.document_profile",
            "operators.dedup.fingerprint_dedup", "operators.dedup.lsh_candidate_pairs",
            "operators.dedup.connected_groups", "operators.dedup.benchmark_overlap",
            "operators.selection.select_token_budget", "operators.selection.pack_token_sequences",
            "operators.similarity.cosine_topk", "operators.similarity.ivf_topk",
        ]
        for i, res in iters:
            for n in names:
                m.setdefault(f"{n}_s", []).append(sum(s.duration for s in tr.named(n, i)))
            pipe = tr.named("pipeline.curate_documents", i)
            m.setdefault("pipeline.spark_jobs", []).append(sum(tr.inclusive(s)["jobs"] for s in pipe))
            m.setdefault("pipeline.slot_util", []).append(tr.slot_util(pipe))
            for key, name in (("candidate_pairs", "operators.dedup.candidate_pairs"),
                              ("pair_precision", "operators.dedup.pair_precision"),
                              ("planted_recall", "operators.dedup.planted_recall"),
                              ("ivf_recall", "operators.similarity.ivf_recall_at_10")):
                if key in res:
                    m.setdefault(name, []).append(res[key])
            m.setdefault("catalog.load_table_s", []).append(
                sum(s.duration for s in tr.named("catalog.load_table", i)))
            m.setdefault("catalog.load_table_calls", []).append(len(tr.named("catalog.load_table", i)))
        return {k: median(v) for k, v in m.items()}


def _recall(approx: dict, exact: dict) -> float:
    hits = sum(len(approx.get(q, set()) & ids) for q, ids in exact.items())
    total = sum(len(ids) for ids in exact.values())
    return hits / total if total else 0.0


def _is_topk(got: dict, state: dict, tol: float = 1e-5) -> bool:
    """Every query has k matches, each scoring at least the exact k-th best
    cosine (within float32 summation tolerance, so ties may fall either way)."""
    if set(got) != set(state["cos"]):
        return False
    return all(
        len(ids) == TOP_K and all(state["cos"][q][m] >= state["kth"][q] - tol for m in ids)
        for q, ids in got.items())
