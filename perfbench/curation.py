"""curation_dedup: a training-data curation batch job, one client.

exact_dedup -> add_text_features + quality gate -> minhash_pairs
(production xxhash path) -> minhash_clusters -> select_representatives
-> cap_per_group / train_val_test_split -> write. The string/array JVM
work and the LSH shuffles live here; exprlang, encode and model are
bypassed.

Checks: every reported pair's true shingle Jaccard is at least the
threshold and planted near-duplicate recall stays above a floor. The
written output is checked from both sides against the reported pairs'
connected components: nothing that must go survives (exact duplicates,
junk, a second member of a component, rows past the per-source cap)
and nothing that must stay is lost (a component without a member in the
output is allowed only when every source it spans is full to the cap),
every row carries its component's min id as its cluster, and every
split label is valid.
"""

from __future__ import annotations

import os
import re
from itertools import combinations

import duckdb

from perfbench.harness import Bench, expect

THRESHOLD = 0.5
SHINGLE_K = 5
NUM_HASHES, BANDS = 64, 16
QUALITY_GATE = 0.35
SOURCE_CAP = 135  # binds on about half of the sources
RECALL_FLOOR = 0.9
SPLITS = ("train", "val", "test")


def _norm(text: str) -> str:
    """norm_text_col's canonical form: lower, trim, collapse whitespace."""
    return re.sub(r"\s+", " ", text.strip().lower())


def shingles(text: str, k: int = SHINGLE_K) -> frozenset:
    t = _norm(text)
    return frozenset([t]) if len(t) <= k else frozenset(t[i:i + k] for i in range(len(t) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


class Curation:
    nominal_pass_s = 6.5  # warm pass on 4 cores; sets the pass count

    def __init__(self, meta: dict, work_dir: str):
        self.paths = meta["paths"]
        self.rows = meta["rows"]
        self.meta = meta
        self.out_dir = os.path.join(work_dir, "curated")
        self.last_pairs = 0

    def prepare_expected(self) -> None:
        """Shingle sets, the documents that reach minhash (exact-dedup
        survivors minus junk) and the planted near-duplicate pairs among
        them whose true Jaccard clears the threshold."""
        texts = self.meta["texts"]
        self.sh = {i: shingles(t) for i, t in texts.items()}
        keeper: dict[str, int] = {}
        for i in sorted(texts):
            keeper.setdefault(_norm(texts[i]), i)
        self.gated = set(keeper.values()) - set(self.meta["junk"])
        self.planted = {
            (a, b)
            for members in self.meta["clusters"]
            for a, b in combinations(sorted(members), 2)
            if a in self.gated and b in self.gated and jaccard(self.sh[a], self.sh[b]) >= THRESHOLD
        }

    def _gated(self, b):
        """read -> exact dedup -> text features + quality gate."""
        from pyspark.sql import functions as F

        from seafan_spark import Pipeline
        from seafan_spark.llmops import dedup, text
        from seafan_spark.sources import parquet_to_pipe

        docs = b.call("sources", parquet_to_pipe, b.spark, self.paths["docs"])
        marked = b.call("llmops.dedup", dedup.exact_dedup, docs, "text", "doc_id")
        kept = b.call("pipeline", marked.filter, F.col("is_dup") == 0.0)
        feats = b.call("llmops.text", text.add_text_features, kept.df, "text")
        feats = b.call("pipeline", Pipeline, feats)
        return b.call("pipeline", feats.filter, F.col("quality") >= QUALITY_GATE)

    def run_pass(self, b: Bench) -> None:
        from pyspark.sql import functions as F

        from seafan_spark import sampling
        from seafan_spark.llmops import dedup

        gated = self._gated(b)
        pairs = b.call("llmops.dedup", dedup.minhash_pairs, gated, "doc_id", "text",
                       NUM_HASHES, BANDS, SHINGLE_K, THRESHOLD)
        pairs = b.force(pairs, lambda: pairs.localCheckpoint(eager=True), self._check_pairs)
        cl = b.call("llmops.dedup", dedup.minhash_clusters, pairs)
        # singletons are their own cluster
        d = gated.df.join(cl.withColumnRenamed("id", "doc_id"), "doc_id", "left").withColumn(
            "cluster", F.coalesce(F.col("cluster"), F.col("doc_id"))
        )
        rep = b.call("llmops.dedup", dedup.select_representatives, d, "cluster", "doc_id", score_col="quality")
        capped = b.call("sampling", sampling.cap_per_group, rep, "source", "doc_id", SOURCE_CAP, score_col="quality")
        out = b.call("sampling", sampling.train_val_test_split, capped, "doc_id")
        out = out.select("doc_id", "source", "quality", "cluster", "split")
        b.force(out, lambda: out.write.mode("overwrite").parquet(self.out_dir), lambda _: self._check_output())

    def dedup_pair_counts(self, spark) -> tuple[int, int]:
        """(LSH candidate pairs, verified pairs) of the corpus, counted
        with the public signature and banding functions."""
        from pyspark.sql import functions as F

        from seafan_spark.llmops import dedup

        sig = dedup.minhash_signatures(self._gated(_Direct(spark)).df, "doc_id", "text", NUM_HASHES, SHINGLE_K)
        banded = dedup.band_signatures(sig, NUM_HASHES, BANDS)
        a, c = banded.alias("a"), banded.alias("c")
        cand = (
            a.join(c, (F.col("a.band") == F.col("c.band")) & (F.col("a.bucket") == F.col("c.bucket"))
                   & (F.col("a._id") < F.col("c._id")))
            .select(F.col("a._id"), F.col("c._id"))
            .distinct()
            .count()
        )
        return cand, self.last_pairs

    # ---------------------------------------------------------- checks ----
    def _check_pairs(self, pairs_ck) -> None:
        got = {(min(r[0], r[1]), max(r[0], r[1])) for r in pairs_ck.select("id_a", "id_b").collect()}
        self.pairs = got
        self.last_pairs = len(got)
        stray = [p for p in got if not set(p) <= self.gated]
        expect(not stray, f"{len(stray)} reported pairs hold a document the gate or exact dedup drops, e.g. {stray[:3]}")
        bad = [p for p in got if jaccard(self.sh[p[0]], self.sh[p[1]]) < THRESHOLD]
        expect(not bad, f"{len(bad)} reported pairs below Jaccard {THRESHOLD}, e.g. {bad[:3]}")
        recall = len(self.planted & got) / len(self.planted)
        expect(recall >= RECALL_FLOOR, f"planted near-dup recall {recall:.3f} < {RECALL_FLOOR}")

    def _components(self) -> dict[int, int]:
        """Gated document -> min id of its component under the reported pairs."""
        root = {i: i for i in self.gated}

        def find(i):
            while root[i] != i:
                root[i] = root[root[i]]
                i = root[i]
            return i

        for a, b in self.pairs:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
        return {i: find(i) for i in self.gated}

    def _check_output(self) -> None:
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT doc_id, source, cluster, split FROM read_parquet('{self.out_dir}/*.parquet')"
        ).fetchall()
        con.close()
        ids = {r[0] for r in rows}
        expect(rows and len(ids) == len(rows), "output empty or with repeated ids")
        extra = ids - self.gated
        expect(not extra, f"{len(extra)} exact duplicates or junk documents survived, e.g. {sorted(extra)[:3]}")
        comp = self._components()
        sources = self.meta["sources"]
        per_source: dict[str, int] = {}
        kept: dict[int, int] = {}
        for doc, src, cluster, split in rows:
            expect(src == sources[doc], f"document {doc} moved to source {src}")
            expect(split in SPLITS, f"bad split label {split!r}")
            expect(cluster == comp[doc], f"document {doc} in cluster {cluster}, its component's min id is {comp[doc]}")
            expect(kept.setdefault(comp[doc], doc) == doc, f"two members of component {comp[doc]} survived")
            per_source[src] = per_source.get(src, 0) + 1
        expect(max(per_source.values()) <= SOURCE_CAP, f"source cap exceeded: {max(per_source.values())}")
        spans: dict[int, set] = {}
        for doc, c in comp.items():
            spans.setdefault(c, set()).add(sources[doc])
        lost = [c for c, srcs in spans.items()
                if c not in kept and all(per_source.get(s, 0) < SOURCE_CAP for s in srcs)]
        expect(not lost, f"{len(lost)} components lost with room under the cap, e.g. {sorted(lost)[:3]}")


class _Direct:
    """Calls the program without timing or tracing."""

    def __init__(self, spark):
        self.spark = spark

    @staticmethod
    def call(layer, fn, *args, check=None, **kwargs):
        return fn(*args, **kwargs)
