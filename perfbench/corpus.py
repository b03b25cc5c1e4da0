"""Seeded benchmark inputs, cached by seed, and the exact references they imply.

Everything here is a pure function of ``(scale, seed)``: the generated
corpus, its planted truth, the labelled pairs the F1 gate scores against,
and the exact shingle-Jaccard pair set the near-dup check compares with.
It is computed once per seed, off the clock, and cached under
``.perfbench_cache/`` in the checkout so a repeated seed skips the work.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections import defaultdict
from dataclasses import dataclass
from fractions import Fraction

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when anything below changes what a cached seed holds.
CACHE_VERSION = 2

# name -> (fixture scale, ER file budget, near-dup file budget); None takes
# the whole fixture. Each workload reads a prefix of whole planted
# entities, so every seed gives the same input size. An ER pass is
# latency-bound (~34 Spark jobs: ~10 s warm on 4 cores at 273 files and
# at 2,000 alike), and a run must fit the budget in README.md.
SCALES = {
    "default": ("small", 2000, 4000),
    "tiny": ("tiny", None, None),
}

JACCARD_TAU = 0.8
SHINGLE_K = 3
VENDORED_BASE = 999_999


@dataclass
class Inputs:
    er_path: str  # parquet: repo, path, commit, lang, content
    nd_path: str
    er_members: pd.DataFrame  # record_id, entity_id, family, base_i
    er_labeled: pd.DataFrame  # id_a, id_b, label
    jaccard_ref: dict  # (id_a, id_b) -> Fraction, every pair with J >= tau
    n_er: int
    n_nd: int


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    os.close(fd)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.replace(tmp, path)


def shingles(content: str, k: int = SHINGLE_K) -> frozenset:
    """The shingle set the dedup operators verify on: distinct k-grams of
    lowercase whitespace tokens joined by \\x01, raw tokens below k."""
    toks = content.lower().split()
    if len(toks) < k:
        return frozenset(toks)
    return frozenset("\x01".join(toks[i : i + k]) for i in range(len(toks) - k + 1))


def exact_jaccard_pairs(ids: list[str], texts: list[str], tau: float = JACCARD_TAU) -> dict:
    """Every pair with shingle Jaccard >= tau, exactly (prefix-filter join).

    Tokens are ordered rare-first; two sets with J >= tau must share a
    token within the first ``|x| - ceil(tau * |x|) + 1`` of each, so only
    prefix tokens are indexed and every candidate is verified on the full
    sets. Returns {(id_a, id_b): Fraction} with id_a < id_b."""
    t = Fraction(tau).limit_denominator(1000)
    sets = [shingles(x) for x in texts]
    freq: dict = defaultdict(int)
    for s in sets:
        for tok in s:
            freq[tok] += 1
    index: dict = defaultdict(list)
    cands: set = set()
    for i, s in enumerate(sets):
        if not s:
            continue
        ordered = sorted(s, key=lambda tok: (freq[tok], tok))
        need = -(-t.numerator * len(s) // t.denominator)  # ceil(tau * |s|)
        for tok in ordered[: len(s) - need + 1]:
            for j in index[tok]:
                cands.add((j, i))
            index[tok].append(i)
    out = {}
    for j, i in cands:
        a, b = sets[j], sets[i]
        inter = len(a & b)
        jac = Fraction(inter, len(a) + len(b) - inter)
        if jac >= t:
            ia, ib = sorted((ids[j], ids[i]))
            out[(ia, ib)] = jac
    return out


def _record_ids(files: pd.DataFrame) -> list[str]:
    from sbb_ned_spark.fixtures import record_id

    return [record_id(r, p, c) for r, p, c in zip(files.repo, files.path, files.commit)]


def _prefix(files: pd.DataFrame, members: pd.DataFrame, budget: int | None):
    """Whole planted entities in generation order until ``budget`` files,
    plus the vendored (hot-key) cluster, so the skew stays in the input."""
    if budget is None:
        return files, members
    base_of = dict(zip(members.record_id, members.base_i))
    base_i = pd.Series([base_of[r] for r in files.record_id], index=files.index)
    sizes = base_i[base_i != VENDORED_BASE].value_counts().sort_index()
    room = budget - int((base_i == VENDORED_BASE).sum())
    keep = set(sizes.index[sizes.cumsum() <= room]) | {VENDORED_BASE}
    files = files[base_i.isin(keep)]
    return files, members[members.base_i.isin(keep)]


def load_inputs(cache_root: str, scale: str, seed: int) -> Inputs:
    d = os.path.join(cache_root, f"{scale}_s{seed}_v{CACHE_VERSION}")
    done = os.path.join(d, "done.json")
    if not os.path.exists(done):
        _build(d, *SCALES[scale], seed)
    with open(done) as f:
        meta = json.load(f)
    jac = pd.read_parquet(os.path.join(d, "jaccard_ref.parquet"))
    return Inputs(
        er_path=os.path.join(d, "er_files.parquet"),
        nd_path=os.path.join(d, "nd_files.parquet"),
        er_members=pd.read_parquet(os.path.join(d, "er_members.parquet")),
        er_labeled=pd.read_parquet(os.path.join(d, "er_labeled.parquet")),
        jaccard_ref={
            (a, b): Fraction(int(n), int(m))
            for a, b, n, m in zip(jac.id_a, jac.id_b, jac.num, jac.den)
        },
        n_er=meta["n_er"],
        n_nd=meta["n_nd"],
    )


def _build(d: str, fixture_scale: str, er_budget, nd_budget, seed: int) -> None:
    from sbb_ned_spark import fixtures

    os.makedirs(d, exist_ok=True)
    files, members = fixtures.generate_files_pdf(fixture_scale, seed)
    files = files.assign(record_id=_record_ids(files))
    er_files, er_members = _prefix(files, members, er_budget)
    nd_files, _ = _prefix(files, members, nd_budget)
    labeled = fixtures.generate_labeled_pairs_pdf(er_members, seed=seed)
    ref = exact_jaccard_pairs(nd_files.record_id.tolist(), nd_files.content.tolist())
    cols = ["repo", "path", "commit", "lang", "content"]
    _write_parquet(er_files[cols], os.path.join(d, "er_files.parquet"))
    _write_parquet(nd_files[cols], os.path.join(d, "nd_files.parquet"))
    _write_parquet(er_members, os.path.join(d, "er_members.parquet"))
    _write_parquet(labeled[["id_a", "id_b", "label"]], os.path.join(d, "er_labeled.parquet"))
    _write_parquet(
        pd.DataFrame(
            [(a, b, v.numerator, v.denominator) for (a, b), v in sorted(ref.items())],
            columns=["id_a", "id_b", "num", "den"],
        ),
        os.path.join(d, "jaccard_ref.parquet"),
    )
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump({"n_er": len(er_files), "n_nd": len(nd_files), "seed": seed}, f)
    os.replace(tmp, os.path.join(d, "done.json"))
