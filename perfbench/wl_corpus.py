"""The curation half of batch_analytics: one pass of LLM-data curation
calls per cycle.

Inputs: a generated document corpus with a fixed near-duplicate share
(edited copies) and exact-duplicate share (case/whitespace copies), plus
clustered 64-d embeddings with jittered copies. Work is string and array
kernels, n-gram explodes and candidate blow-up in self-joins. Outputs
are checked against plain-Python references: exact re-computation for
the per-document statistics, planted truth for language and PII,
brute-force Jaccard/cosine for the near-duplicate pairs, union-find for
the duplicate clusters.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np
import pandas as pd

import gen
from checks import frames_match

JACCARD = 0.8
COSINE = 0.95
SHINGLE_K = 5
LAYERS = ("dedup", "similarity", "textstats", "curation", "pipeline", "graph")


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    """The engine's character k-shingles: substrings at 1-based positions
    1..max(len-k+1, 1)."""
    n = max(len(text) - k + 1, 1)
    return {text[i:i + k] for i in range(n)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


class Workload:
    def __init__(self, run):
        self.run = run
        self.candidates: dict[str, float] = {}
        self.verified = 0

    def setup(self) -> None:
        from cl_data_frame_spark.sources import read_parquet
        run = self.run
        data = os.path.join(run.work_dir, "corpus")
        self.pdocs = gen.corpus(run.seed)
        self.pemb = gen.embeddings(run.seed)
        gen.write_table(self.pdocs.drop(columns=["dup_of", "dup_kind"]),
                        os.path.join(data, "documents.parquet"))
        gen.write_table(self.pemb, os.path.join(data, "embeddings.parquet"))
        self.docs, self.emb = [
            read_parquet(run.spark, os.path.join(data, f"{t}.parquet"))
            for t in ("documents", "embeddings")]
        self.n_docs, self.n_vec = len(self.pdocs), len(self.pemb)
        self.vecs = np.stack(self.pemb.embedding.to_numpy()).astype(np.float64)
        self.texts = self.pdocs.text.tolist()
        self._sh: dict[int, set] = {}
        run.notes.setdefault("rows", {}).update(
            documents=self.n_docs, embeddings=self.n_vec,
            near_dup_docs=int((self.pdocs.dup_kind == "near").sum()),
            exact_dup_docs=int((self.pdocs.dup_kind == "exact").sum()))

    def sh(self, i: int) -> set:
        if i not in self._sh:
            self._sh[i] = shingles(self.texts[i])
        return self._sh[i]

    # -- the pass ----------------------------------------------------------------

    def warm_up(self) -> None:
        """The first Python-worker-backed call pays most of the corpus
        calls' first-call cost."""
        self.op_pipeline_filter()

    def cycle(self, i: int) -> None:
        rng = np.random.default_rng([self.run.seed, i + 1])
        self.op_pipeline_filter()
        pairs = self.op_minhash()
        self.op_duplicate_clusters(pairs)
        self.op_repetition_stats()
        self.op_pii_redact()
        self.op_cosine_topk(int(rng.integers(0, self.n_vec)))
        self.op_embedding_near_duplicates()

    def _call(self, layer, fn, thunk):
        return self.run.call(f"operators.{layer}", fn, thunk)

    def _winners(self) -> list[int]:
        norm = self.pdocs.text.map(lambda t: re.sub(r"\s+", " ", t.strip()).lower())
        return self.pdocs.groupby(norm).doc_id.min().tolist()

    def op_pipeline_filter(self) -> None:
        from cl_data_frame_spark.operators import pipeline
        with self.run.op("pipeline_filter") as op:
            kept = self._call("pipeline", "pipeline_filter", lambda: pipeline
                              .pipeline_filter(self.docs).spark_df
                              .select("doc_id", "quality").toPandas())

            def check():
                winners = set(self._winners())
                return (0 < len(kept) <= len(winners)
                        and set(kept.doc_id) <= winners
                        and bool((kept.quality >= 0.5).all()))
            op.expect("pipeline survivors are exact-dedup winners", check)

    def op_minhash(self) -> pd.DataFrame:
        from cl_data_frame_spark.operators import dedup
        pairs = pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []})
        with self.run.op("minhash_near_duplicates") as op:
            pairs = self._call("dedup", "minhash_near_duplicates", lambda: dedup
                               .minhash_near_duplicates(
                                   self.docs, jaccard_threshold=JACCARD)
                               .spark_df.toPandas())
            self.verified = len(pairs)
            op.expect("near-dup pairs", lambda: self._check_pairs(pairs))
        return pairs

    def _check_pairs(self, pairs: pd.DataFrame) -> bool:
        """Every reported pair is a true pair with its exact Jaccard; every
        planted near-copy with Jaccard >= 0.9 in a seeded sample is found."""
        got = {(int(a), int(b)) for a, b in zip(pairs.id_a, pairs.id_b)}
        for a, b, j in zip(pairs.id_a, pairs.id_b, pairs.jaccard):
            exact = jaccard(self.sh(int(a)), self.sh(int(b)))
            if exact < JACCARD or abs(exact - j) > 1e-6:
                return False
        planted = self.pdocs[self.pdocs.dup_kind == "near"]
        sample = planted.sample(min(200, len(planted)),
                                random_state=self.run.seed)
        for i, j in zip(sample.doc_id, sample.dup_of):
            a, b = sorted((int(i), int(j)))
            if jaccard(self.sh(a), self.sh(b)) >= 0.9 and (a, b) not in got:
                return False
        return True

    def _pairs_frame(self, pairs: pd.DataFrame):
        from cl_data_frame_spark import SparkFrame
        return self.run.call("frame", "from_pandas", lambda: SparkFrame.from_pandas(
            self.run.spark, pairs[["id_a", "id_b"]]))

    def op_duplicate_clusters(self, pairs: pd.DataFrame) -> None:
        from cl_data_frame_spark.operators import dedup
        with self.run.op("duplicate_clusters") as op:
            pf = self._pairs_frame(pairs)
            got = self._call("graph", "duplicate_clusters", lambda: dedup
                             .duplicate_clusters(pf).spark_df.toPandas())
            op.expect("components", lambda: frames_match(
                got, _components(pairs)))

    def op_repetition_stats(self) -> None:
        from cl_data_frame_spark.operators import textstats
        with self.run.op("repetition_stats") as op:
            got = self._call("textstats", "repetition_stats", lambda: textstats
                             .repetition_stats(self.docs).spark_df.toPandas())
            op.expect("repetition stats", lambda: frames_match(
                got, _repetition(self.pdocs), atol=2e-6))

    def op_pii_redact(self) -> None:
        from cl_data_frame_spark.operators import curation
        with self.run.op("pii_redact") as op:
            got = self._call("curation", "pii_redact", lambda: curation
                             .pii_redact(self.docs).spark_df
                             .select("doc_id", "n_email", "n_phone", "redacted")
                             .toPandas())

            def check():
                want_email = [t.lower().count("@example.com") for t in self.texts]
                want_phone = [len(re.findall(r"555-\d{3}-\d{4}", t)) for t in self.texts]
                g = got.sort_values("doc_id")
                return (list(g.n_email) == want_email
                        and list(g.n_phone) == want_phone
                        and not g.redacted.str.lower().str.contains("@example.com").any())
            op.expect("planted PII found and redacted", check)

    def op_cosine_topk(self, q: int) -> None:
        from cl_data_frame_spark.operators import similarity
        query = [float(x) for x in self.vecs[q]]
        with self.run.op("cosine_topk") as op:
            got = self._call("similarity", "cosine_topk", lambda: similarity
                             .cosine_topk(self.emb, query, k=10).spark_df
                             .toPandas())

            def check():
                v = self.vecs
                cos = np.round(v @ v[q] / (np.linalg.norm(v, axis=1)
                                           * np.linalg.norm(v[q])), 6)
                order = np.lexsort((np.arange(len(v)), -cos))
                return list(got.vec_id) == [int(x) for x in order[:10]]
            op.expect("exact top-10", check)

    def op_embedding_near_duplicates(self) -> None:
        from cl_data_frame_spark.operators import dedup
        with self.run.op("embedding_near_duplicates") as op:
            got = self._call("dedup", "embedding_near_duplicates", lambda: dedup
                             .embedding_near_duplicates(
                                 self.emb, threshold=COSINE, block_col="label")
                             .spark_df.toPandas())

            def check():
                want = set()
                labels = self.pemb.label.to_numpy()
                norm = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
                for lab in np.unique(labels):
                    idx = np.flatnonzero(labels == lab)
                    sims = np.round(norm[idx] @ norm[idx].T, 6)
                    a, b = np.nonzero(np.triu(sims >= COSINE, k=1))
                    want |= {(int(idx[x]), int(idx[y])) for x, y in zip(a, b)}
                have = {(int(x), int(y)) for x, y in zip(got.id_a, got.id_b)}
                return have == want
            op.expect("blocked cosine pairs", check)

    # -- per-layer metrics -------------------------------------------------------

    def layer_metrics(self) -> dict:
        from stats import percentile
        run = self.run
        out = {}
        for key, recs in run.calls.items():
            layer, _, name = key.partition(".")[2].partition(".")
            if key.startswith("operators.") and layer in LAYERS:
                out[f"{layer}.{name}_s"] = percentile([c["wall_s"] for c in recs], 50)
        out.update(self.candidates)
        return out

    def after_window(self) -> None:
        """Traced runs only: count the banding candidates behind the
        verified pairs (a second, unverified call), outside the window."""
        from cl_data_frame_spark.operators import dedup
        from stats import ratio
        cand = dedup.minhash_near_duplicates(
            self.docs, jaccard_threshold=None).spark_df.count()
        self.candidates = {"dedup.candidate_pairs": cand,
                           "dedup.verified_pairs": self.verified,
                           "dedup.verify_ratio": ratio(self.verified, cand)}


# -- plain-Python references --------------------------------------------------

def _components(pairs: pd.DataFrame) -> pd.DataFrame:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(pairs.id_a, pairs.id_b):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = sorted(parent)
    comp = [find(n) for n in nodes]
    return pd.DataFrame({"node": nodes, "component": comp,
                         "is_canonical": [n == c for n, c in zip(nodes, comp)]})


def _repetition(pdocs: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for i, t in zip(pdocs.doc_id, pdocs.text):
        toks = t.split()
        uni = Counter(toks)
        bi = Counter(f"{a} {b}" for a, b in zip(toks, toks[1:]))
        n = len(toks)
        rows.append((int(i), n, round(len(uni) / n, 6),
                     round(max(uni.values()) / n, 6),
                     round(max(bi.values()) / sum(bi.values()), 6) if bi else np.nan))
    return pd.DataFrame(rows, columns=["doc_id", "n_tokens", "ttr",
                                       "top_unigram_frac", "top_bigram_frac"])
