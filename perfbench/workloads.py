"""The benchmark's workloads: set-up, one pass, and the check of its output.

A pass is what one client job pays: build the plan, run it, and bring the
result to the driver. Checks run after the pass, off the clock.
"""

from __future__ import annotations

import dataclasses
import tempfile

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import corpus

F1_GATE = 0.99
COSINE_TAU = 0.95
# Both LSH operators are parameterised for this recall on a pair AT the
# threshold (embedding_near_dup_pairs' default target_recall; MinHash's
# 16x4 bands give 0.9998 there), so the pairs they return must all be
# exact, but a few pairs of the exact reference may be missed.
RECALL_FLOOR = 0.995


def with_record_ids(df: DataFrame) -> DataFrame:
    """The fixture loader's derived id column (fixtures.load_files_df)."""
    return df.withColumn("record_id", F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256))


def load_files(spark, path: str) -> DataFrame:
    from sbb_ned_spark.functions.partitioning import ensure_min_parallelism

    return ensure_min_parallelism(spark.read.parquet(path))


def pair_quality(got: set, want: set) -> dict:
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1}


def check_clusters(rows, expected_ids: set, labeled) -> tuple[list[str], dict]:
    """Problems with one clusters output, and its pairwise quality.

    ``rows`` are (record_id, cluster_id). Every input record must appear
    exactly once, and pairwise F1 over the labelled pairs must reach the
    gate."""
    problems = []
    ids = [r for r, _ in rows]
    if len(ids) != len(set(ids)):
        problems.append(f"{len(ids) - len(set(ids))} record_ids appear more than once")
    if set(ids) != expected_ids:
        problems.append(
            f"{len(expected_ids - set(ids))} input records missing, "
            f"{len(set(ids) - expected_ids)} unknown records"
        )
    cluster = dict(rows)
    a = labeled.id_a.map(cluster)
    b = labeled.id_b.map(cluster)
    same = (a == b) & a.notna()
    pos = labeled.label == 1
    tp = int((same & pos).sum())
    fp = int((same & ~pos).sum())
    fn = int((~same & pos).sum())
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    if f1 < F1_GATE:
        problems.append(f"pairwise F1 {f1:.5f} < {F1_GATE}")
    return problems, {"f1": f1, "recall": recall}


class ErFull:
    """run_pipeline(light=True) over the ER corpus, no checkpoint."""

    name = "er_full"

    def __init__(self, spark, inputs: corpus.Inputs):
        self.spark = spark
        self.inputs = inputs
        self.n_files = inputs.n_er
        self.expected_ids = set(inputs.er_members.record_id)
        self.files = None

    def setup(self) -> None:
        self.files = load_files(self.spark, self.inputs.er_path)
        self.files.count()

    def run(self):
        from sbb_ned_spark.config import PipelineConfig
        from sbb_ned_spark.plans import pipeline

        res = pipeline.run_pipeline(self.files, PipelineConfig(), light=True)
        rows = [tuple(r) for r in res.clusters.select("record_id", "cluster_id").collect()]
        res.unpersist_all()
        return rows

    def check(self, rows) -> tuple[list[str], dict]:
        return check_clusters(rows, self.expected_ids, self.inputs.er_labeled)

    @staticmethod
    def same_output(a, b) -> bool:
        return sorted(a) == sorted(b)

    def probe_base(self):
        """Untraced set-up of the incremental probe: run_pipeline over 70%
        of the corpus into a fresh checkpoint (the split the CLI's
        --incremental uses). Returns the config and the other 30%."""
        from sbb_ned_spark.config import PipelineConfig
        from sbb_ned_spark.plans import pipeline

        state = tempfile.mkdtemp(prefix="state-")
        cfg = dataclasses.replace(PipelineConfig(), checkpoint_dir=state)
        part = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10))
        pipeline.run_pipeline(self.files.filter(part < 7), cfg).unpersist_all()
        return cfg, self.files.filter(part >= 7)

    @staticmethod
    def probe_update(cfg, batch):
        from sbb_ned_spark.plans import incremental

        res = incremental.incremental_update(batch, cfg)
        return [tuple(r) for r in res.clusters.select("record_id", "cluster_id").collect()]


def partition(rows) -> set:
    """The clusters as a set of record-id sets, whatever their labels."""
    groups: dict = {}
    for record, cluster in rows:
        groups.setdefault(cluster, set()).add(record)
    return {frozenset(g) for g in groups.values()}


class NearDup:
    """MinHash-LSH over the corpus content plus hyperplane-LSH near-dup
    pairs over its trigram vectors; no blocking, scoring or CC."""

    name = "near_dup"

    def __init__(self, spark, inputs: corpus.Inputs):
        self.spark = spark
        self.inputs = inputs
        self.n_files = inputs.n_nd
        self.files = self.vectors = None
        self.cos_must = self.cos_may = None

    def setup(self) -> None:
        from sbb_ned_spark.config import PipelineConfig
        from sbb_ned_spark.operators import blocking

        if self.vectors is not None:
            self.vectors.unpersist()
        self.files = with_record_ids(load_files(self.spark, self.inputs.nd_path))
        self.vectors = (
            blocking.record_features(self.files, PipelineConfig())
            .select(F.col("record_id").alias("vec_id"), F.col("trigram_vec").alias("embedding"))
            .persist()
        )
        self.vectors.count()

    def reference(self) -> None:
        """Brute-force cosine over the set-up vectors, off the clock. The
        operator rounds to 6 places before comparing with tau, and the sum
        order differs from numpy's, so pairs within 2e-6 of the rounding
        edge may fall either way."""
        pdf = self.vectors.toPandas()
        ids = pdf.vec_id.to_numpy()
        v = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
        norm = np.linalg.norm(v, axis=1)
        norm[norm == 0] = np.inf  # a zero vector has cosine 0 with everything
        u = v / norm[:, None]
        edge = COSINE_TAU - 5e-7
        must, may = set(), set()
        for lo in range(0, len(ids), 1024):
            c = u[lo : lo + 1024] @ u.T
            for i, j in zip(*np.nonzero(c >= edge - 2e-6)):
                i += lo
                if ids[i] < ids[j]:
                    (must if c[i - lo, j] >= edge + 2e-6 else may).add((ids[i], ids[j]))
        self.cos_must, self.cos_may = must, may

    def run(self):
        from sbb_ned_spark.operators import dedup, similarity_search

        mh = dedup.minhash_lsh_pairs(self.files, "record_id", "content", tau=corpus.JACCARD_TAU)
        emb = similarity_search.embedding_near_dup_pairs(self.vectors, tau=COSINE_TAU)
        return (
            [tuple(r) for r in mh.select("id_a", "id_b", "jaccard").collect()],
            [tuple(r) for r in emb.select("id_a", "id_b").collect()],
        )

    def check(self, out) -> tuple[list[str], dict]:
        """Every returned pair must be in the exact reference, with its
        exact value; each operator must recall at least RECALL_FLOOR."""
        if self.cos_must is None:
            self.reference()
        mh, emb = out
        ref = self.inputs.jaccard_ref
        got_mh, got_emb = {(a, b) for a, b, _ in mh}, set(emb)
        problems = []
        if len(got_mh) != len(mh) or len(got_emb) != len(emb):
            problems.append("a pair is returned twice")
        if got_mh - set(ref):
            problems.append(f"{len(got_mh - set(ref))} minhash pairs below the Jaccard threshold")
        off = [p for a, b, j in mh if (p := (a, b)) in ref and abs(j - float(ref[p])) > 5e-7]
        if off:
            problems.append(f"{len(off)} minhash Jaccard values differ from the exact ones")
        if got_emb - self.cos_must - self.cos_may:
            problems.append(
                f"{len(got_emb - self.cos_must - self.cos_may)} embedding pairs below tau"
            )
        for name, got, want in (
            ("minhash", got_mh, set(ref)),
            ("embedding", got_emb, self.cos_must),
        ):
            recall = len(got & want) / len(want) if want else 1.0
            if recall < RECALL_FLOOR:
                problems.append(f"{name} recall {recall:.5f} < {RECALL_FLOOR}")
        got = {("mh",) + p for p in got_mh} | {("emb",) + p for p in got_emb - self.cos_may}
        want = {("mh",) + p for p in ref} | {("emb",) + p for p in self.cos_must}
        return problems, pair_quality(got, want)

    @staticmethod
    def same_output(a, b) -> bool:
        return sorted(a[0]) == sorted(b[0]) and sorted(a[1]) == sorted(b[1])


WORKLOADS = {w.name: w for w in (ErFull, NearDup)}
