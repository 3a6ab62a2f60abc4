"""corpus_dedup: the LLM-corpus dedup pipeline over seeded shards of a
generated corpus with a fixed share of exact and near duplicates.

Why: ``operators.dedup`` and ``operators.similarity`` would otherwise go
unmeasured, and the duplicate share is the input property those operators
depend on.  Set-up grows documents and embeddings from seeded originals and
keeps the ground-truth families; the timed stream runs ``exact_dedup``,
``minhash_signature``, ``minhash_lsh_pairs``, ``ngram_containment_pairs``,
``decontaminate`` against a held-out set and ``det_semantic_dedup`` on a
seeded shard each.

Oracle: exact dedup against a Python dict of texts; containment pairs and
decontamination counts against exact Python shingle sets; LSH recall
against the generator's families with a fixed floor; semantic dedup against
brute-force numpy cosine on the shard.
"""

from __future__ import annotations

import collections
import itertools
import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Op, check, tree_bytes
import datagen

N_BASE = 700
N_SHARDS = 4
DIM = 16
LSH_THRESHOLD = 0.5
# a shard holds 13-19 recall pairs at an expected recall of 0.92-0.95 (the
# 4x4 banding S-curve over their exact Jaccard), so 0.6 keeps a false alarm
# below ~1e-3 per run while broken banding or signatures fall far below it
LSH_RECALL_FLOOR = 0.6
CONTAIN_THRESHOLD = 0.9
SEM_THRESHOLD = 0.95
SEM_RECALL_FLOOR = 0.9
DECK = ["exact_dedup", "minhash_signature", "minhash_lsh_pairs", "ngram_containment",
        "decontaminate", "det_semantic_dedup"]


def _shingles(text: str, n: int) -> set:
    w = text.split(" ")
    if len(w) < n:
        return {text}
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


class CorpusDedup:
    deck_len = len(DECK)
    report_groups = {"docs_per_s": (tuple(DECK), "rows_per_s")}

    def __init__(self, spark, rd, seed, tracer):
        self.spark, self.rd, self.seed, self.T = spark, rd, seed, tracer
        self.rng = np.random.default_rng([seed, 40])
        self.deck = []
        self.recall, self.precision = [], []

    # -- set-up -------------------------------------------------------------------
    def setup(self, d: str) -> None:
        from aliyun_maxcompute_data_collectors_spark import session

        docs, family, mutated, held, emb = datagen.corpus(self.seed, N_BASE, dim=DIM)
        src = os.path.join(d, "src")
        datagen.write_parquet({"documents": docs, "embeddings": emb,
                               "heldout": pa.table({"doc_id": np.arange(len(held)), "text": held})},
                              src)
        # the package's loader registers the corpus tables; the ops read shards
        self.T.call("session.load_tables", session.load_tables, self.spark, src,
                    ["documents", "embeddings"])
        self.held_df = self.spark.read.parquet(os.path.join(src, "heldout.parquet"))
        ids = docs.column("doc_id").to_numpy()
        shard_of = ids % N_SHARDS
        self.shards = []
        texts = docs.column("text").to_pylist()
        vecs = np.array(emb.column("embedding").to_pylist(), dtype="float64")
        for s in range(N_SHARDS):
            sel = np.nonzero(shard_of == s)[0]
            dp = os.path.join(d, "shards", f"docs-{s}.parquet")
            ep = os.path.join(d, "shards", f"emb-{s}.parquet")
            os.makedirs(os.path.dirname(dp), exist_ok=True)
            pq.write_table(docs.take(sel), dp)
            pq.write_table(emb.take(sel), ep)
            self.shards.append({
                "docs": dp, "emb": ep, "n": len(sel),
                "ids": [int(ids[i]) for i in sel], "texts": [texts[i] for i in sel],
                "family": [int(family[i]) for i in sel],
                "mutated": [bool(mutated[i]) for i in sel], "vecs": vecs[sel]})
        self.held_grams = set().union(*(_shingles(h, 8) for h in held))
        self.docs_pa, self.emb_pa = docs, emb

    # -- op stream ----------------------------------------------------------------
    def next_op(self, i: int) -> Op:
        if not self.deck:
            self.deck = list(DECK)
        kind = self.deck.pop(0)
        sh = self.shards[int(self.rng.integers(0, N_SHARDS))]
        return getattr(self, "_op_" + kind)(kind, sh)

    def _docs(self, sh):
        return self.spark.read.parquet(sh["docs"])

    def _collect(self, name, fn, *args, **kw):
        df = self.T.call(name, fn, *args, **kw)
        return self.T.call(name + ".action", df.collect)

    def _op_exact_dedup(self, kind, sh):
        from aliyun_maxcompute_data_collectors_spark.operators import dedup
        first = {}
        for i, t in zip(sh["ids"], sh["texts"]):
            first[t] = min(i, first.get(t, i))
        want = sorted(first.values())
        return Op(kind, sh["n"], lambda: self._collect(
            "dedup.exact_dedup", dedup.exact_dedup, self._docs(sh), "doc_id", "text"),
            lambda rows: check(sorted(r["doc_id"] for r in rows) == want,
                               "exact_dedup keeps a different set than the Python reference"))

    def _op_minhash_signature(self, kind, sh):
        from aliyun_maxcompute_data_collectors_spark.operators import dedup

        def verify(rows):
            check(len(rows) == sh["n"], f"minhash_signature returned {len(rows)} rows")
            by_text = collections.defaultdict(set)
            text_of = dict(zip(sh["ids"], sh["texts"]))
            for r in rows:
                by_text[text_of[r[0]]].add(tuple(r[1:]))
            check(all(len(v) == 1 for v in by_text.values()),
                  "identical texts got different signatures")
        return Op(kind, sh["n"], lambda: self._collect(
            "dedup.minhash_signature", dedup.minhash_signature, self._docs(sh), "doc_id", "text"),
            verify)

    def _op_minhash_lsh_pairs(self, kind, sh):
        """Precision counts every same-family pair as true.  Recall is taken
        over the pairs with at most one mutated member (Jaccard >= ~0.8):
        two independently mutated copies sit near Jaccard 0.7, where 4 bands
        of 4 rows make them candidates only ~2/3 of the time by design."""
        from aliyun_maxcompute_data_collectors_spark.operators import dedup
        members = collections.defaultdict(list)
        for i, f, m in zip(sh["ids"], sh["family"], sh["mutated"]):
            members[f].append((i, m))
        family = {}
        truth = set()
        for ms in members.values():
            for (a, ma), (b, mb) in itertools.combinations(sorted(ms), 2):
                family[(a, b)] = True
                if not (ma and mb):
                    truth.add((a, b))

        def verify(rows):
            got = {(min(r["id1"], r["id2"]), max(r["id1"], r["id2"])) for r in rows}
            recall = len(got & truth) / len(truth) if truth else 1.0
            self.recall.append(recall)
            self.precision.append(sum(p in family for p in got) / len(got) if got else 1.0)
            check(recall >= LSH_RECALL_FLOOR,
                  f"minhash LSH recall {recall:.3f} below the floor {LSH_RECALL_FLOOR}")
        return Op(kind, sh["n"], lambda: self._collect(
            "dedup.minhash_lsh_pairs", dedup.minhash_lsh_pairs, self._docs(sh), "doc_id", "text",
            threshold=LSH_THRESHOLD), verify)

    def _op_ngram_containment(self, kind, sh):
        from aliyun_maxcompute_data_collectors_spark.operators import dedup
        grams = {i: _shingles(t, 5) for i, t in zip(sh["ids"], sh["texts"])}
        index = collections.defaultdict(list)
        for i, g in grams.items():
            for s in g:
                index[s].append(i)
        inter = collections.Counter()
        for ids in index.values():
            for a, b in itertools.combinations(sorted(ids), 2):
                inter[(a, b)] += 1
        want = {p for p, c in inter.items()
                if round(c / min(len(grams[p[0]]), len(grams[p[1]])), 4) >= CONTAIN_THRESHOLD}
        return Op(kind, sh["n"], lambda: self._collect(
            "dedup.ngram_containment_pairs", dedup.ngram_containment_pairs, self._docs(sh),
            "doc_id", "text", threshold=CONTAIN_THRESHOLD),
            lambda rows: check({(r["id1"], r["id2"]) for r in rows} == want,
                               "containment pairs differ from exact Python shingle sets"))

    def _op_decontaminate(self, kind, sh):
        from aliyun_maxcompute_data_collectors_spark.operators import dedup
        want = {}
        for i, t in zip(sh["ids"], sh["texts"]):
            c = len(_shingles(t, 8) & self.held_grams)
            if c:
                want[i] = c
        return Op(kind, sh["n"], lambda: self._collect(
            "dedup.decontaminate", dedup.decontaminate, self._docs(sh), self.held_df,
            "doc_id", "text"),
            lambda rows: check({r[0]: r[1] for r in rows} == want,
                               "decontaminate flags differ from exact Python 8-gram sets"))

    def _op_det_semantic_dedup(self, kind, sh):
        from aliyun_maxcompute_data_collectors_spark.operators import similarity
        v = sh["vecs"] / np.linalg.norm(sh["vecs"], axis=1, keepdims=True)
        cos = np.round(v @ v.T, 6)
        ids = sh["ids"]
        near = {ids[a]: {ids[b] for b in np.nonzero(cos[a] >= SEM_THRESHOLD)[0] if b != a}
                for a in range(len(ids))}
        # brute-force drops: every member of a cosine component but its min id
        seen, want_drop = set(), 0
        for a in ids:
            if a in seen:
                continue
            comp, stack = set(), [a]
            while stack:
                x = stack.pop()
                if x not in comp:
                    comp.add(x)
                    stack.extend(near[x] - comp)
            seen |= comp
            want_drop += len(comp) - 1

        def verify(rows):
            kept = {r["vec_id"] for r in rows}
            dropped = set(ids) - kept
            check(all(near[x] for x in dropped), "semantic dedup dropped a vector with no near twin")
            check(len(dropped) >= SEM_RECALL_FLOOR * want_drop,
                  f"semantic dedup dropped {len(dropped)} of {want_drop} brute-force duplicates")
        return Op(kind, sh["n"], lambda: self._collect(
            "similarity.det_semantic_dedup", similarity.det_semantic_dedup,
            self.spark.read.parquet(sh["emb"]), DIM, threshold=SEM_THRESHOLD), verify)

    def verify_end(self) -> list[str]:
        return []

    # -- space and layer extras -----------------------------------------------------------
    def space_sample(self):
        return tree_bytes(os.path.dirname(self.shards[0]["docs"])), sum(s["n"] for s in self.shards)

    def live_bytes_per_row(self) -> float:
        """The corpus written once, compacted: one file per table.  No op
        writes, so the ratio it gives is a constant of the seed."""
        total = 0
        for name, t in (("docs", self.docs_pa), ("emb", self.emb_pa)):
            path = os.path.join(self.rd.sub("live"), f"{name}.parquet")
            pq.write_table(t, path)
            total += os.path.getsize(path)
        return total / sum(s["n"] for s in self.shards)

    def layer_probes(self) -> dict:
        return {"dedup.lsh_recall": statistics.median(self.recall) if self.recall else 0.0,
                "dedup.lsh_precision": statistics.median(self.precision) if self.precision else 0.0}
