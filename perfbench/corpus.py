"""Corpus-curation ops, part of the research_queries cycle.

A seeded synthetic corpus with planted exact and near duplicates goes
through exact dedup (``operators.dedup``), embedding
LSH near-dup pairs (``operators.similarity``), ``curate_corpus``
(``operators.curation``) and the bigram LM scorer (``operators.text``), each
as its query-registry entry.

Expectations: the registry's DuckDB oracle SQL for every op, plus planted
truth: every planted exact copy is flagged as a duplicate of its source.
"""

from __future__ import annotations

import os

import duckdb

from . import gen
from .harness import Ctx, Op

DOCS = 300
VECTORS = 150

#: registry query -> (operator module, input table)
OPS = {
    "dedup_exact": ("operators.dedup", "documents"),
    "embedding_neardup_lsh": ("operators.similarity", "embeddings"),
    "curated_corpus": ("operators.curation", "documents"),
    "bigram_perplexity": ("operators.text", "documents"),
}


class Corpus:
    def generate(self, seed: int, work: str, queries: dict) -> None:
        self.queries = queries
        self.dir = os.path.join(work, "corpus")
        self.warm_dir = os.path.join(work, "warm")
        self.planted = gen.write_corpus(os.path.join(self.dir, "documents.parquet"), seed, DOCS)
        gen.write_embeddings(os.path.join(self.dir, "embeddings.parquet"), seed, VECTORS)
        gen.write_corpus(os.path.join(self.warm_dir, "documents.parquet"), seed + 1, 60)

    def oracle(self) -> None:
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {n: con.execute(self.queries[n].sql).df() for n in OPS}
        finally:
            con.close()

    def warmup(self, ctx: Ctx) -> None:
        self.queries["dedup_exact"].fn(ctx.spark, self.warm_dir).toPandas()

    def _planted(self, name: str, out) -> list[str]:
        exact = self.planted
        if name == "dedup_exact":
            canon = dict(zip(out["doc_id"], out["canonical_id"]))
            dup = dict(zip(out["doc_id"], out["is_duplicate"]))
            bad = [d for d, s in exact.items()
                   if d not in canon or s not in canon or canon[d] != canon[s]
                   or not dup[max(d, s)]]
            return [f"planted exact copies not grouped with their source: {bad[:5]}"] if bad else []
        return []

    def _op(self, name: str) -> Op:
        from finiextestingide_spark.testing import compare_frames

        layer, table = OPS[name]

        def run(ctx: Ctx):
            with ctx.tracer.span(layer):
                return self.queries[name].fn(ctx.spark, self.dir).toPandas()

        def check(out) -> list[str]:
            return compare_frames(out, self.expected[name]) + self._planted(name, out)

        return Op(name, run, check, rows=VECTORS if table == "embeddings" else DOCS)

    def ops(self) -> list[Op]:
        return [self._op(n) for n in OPS]

    def trace_counters(self, ctx: Ctx) -> dict:
        from finiextestingide_spark.gate import llmdata
        from finiextestingide_spark.operators.similarity import lsh_neardup_pairs
        from finiextestingide_spark.sources.tables import load_table

        # candidate pairs: the same LSH call with a threshold every
        # candidate passes; counted once, before any timed op
        vec = load_table(ctx.spark, self.dir, "embeddings")
        args = dict(bands=llmdata._NDL_BANDS, extra_key="label")
        candidates = lsh_neardup_pairs(vec, llmdata._NDL_PLANES, -1.0, **args).count()
        verified = lsh_neardup_pairs(vec, llmdata._NDL_PLANES, llmdata._ND_MIN_COS, **args).count()
        return {
            "operators.similarity.candidate_pairs": float(candidates),
            "operators.similarity.verified_share": verified / max(candidates, 1),
        }

    def layer_metrics(self, ctx: Ctx, evlog) -> dict:
        self_s = ctx.tracer.self_s()
        return {f"{m}.self_s": self_s.get(m, 0.0) for m, _ in OPS.values()}
