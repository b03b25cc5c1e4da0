"""Deterministic synthetic `files` table with planted entity clusters.

Implements FIXTURES.md §1-3. Mirrors the reference's ground-truth pair
construction around a known true entity
(`/root/reference/qurator/sbb_ned/ground_truth/data_processor.py:296-308`):
each "base" file spawns a cluster of 1-8 variants via composable,
deterministic perturbations (fork copy, whitespace reformat, comment
edits, license-header swap, consistent identifier rename, statement
insert/delete, truncation). Adversarial skew is planted on purpose: one
license header shared across most files and one vendored utility file
duplicated across many repos — the hot blocking keys that exercise the
`max_frequency` cutoff (`index.py:652-653,669-674`) and AQE skew-join.

Everything is seeded (seed=42 default); no wall clock, no dict-order
dependence. Generation is plain numpy/pandas on the driver (fixture
code, not pipeline code) and is then parallelized as a Spark DataFrame.
"""

from __future__ import annotations

import hashlib
import itertools
from dataclasses import dataclass

import numpy as np
import pandas as pd

LANGS = ["python", "java", "c", "js", "go"]

SHARED_LICENSE = (
    "# Copyright (c) 2020-2024 The Example Authors.\n"
    "# Licensed under the Apache License, Version 2.0 (the 'License');\n"
    "# you may not use this file except in compliance with the License.\n"
    "# You may obtain a copy of the License at http://www.apache.org/licenses/\n"
)
ALT_LICENSES = [
    "# SPDX-License-Identifier: MIT\n# Permission is hereby granted, free of charge.\n",
    "# GNU General Public License v3.0 only.\n# This program is free software.\n",
    SHARED_LICENSE,  # the hot one — most files use it
    SHARED_LICENSE,
    SHARED_LICENSE,
]

_STEMS = ["parse", "load", "merge", "index", "score", "rank", "flush", "pack"]
_OPS = ["+", "-", "*", "%"]

PERTURBATIONS = (
    "copy",
    "reformat",
    "comment",
    "license",
    "rename",
    "insdel",
    "truncate",
)


@dataclass(frozen=True)
class FixtureScale:
    n_bases: int
    n_families: int
    vendored_copies: int


SCALES = {
    "tiny": FixtureScale(n_bases=55, n_families=10, vendored_copies=12),
    "small": FixtureScale(n_bases=1300, n_families=60, vendored_copies=40),
    "bench": FixtureScale(n_bases=26000, n_families=400, vendored_copies=200),
    "bench4": FixtureScale(n_bases=104000, n_families=1600, vendored_copies=800),
}


def record_id(repo: str, path: str, commit: str) -> str:
    """Stable record id; the Spark side computes the identical value via
    ``sha2(concat_ws(US, repo, path, commit), 256)``."""
    return hashlib.sha256("\x1f".join((repo, path, commit)).encode("utf-8")).hexdigest()


def _commit(rng: np.random.Generator) -> str:
    return "".join(rng.choice(list("0123456789abcdef"), size=40))


def _base_content(rng: np.random.Generator, base_i: int, family: int) -> tuple[str, list[str]]:
    """A base source file with a family-specific identifier vocabulary.

    Families give hard negatives: different bases in the same family share
    stems and structure (analog of ANN-neighborhood 'bad' candidates,
    `data_processor.py:296-308`) but are distinct entities.
    """
    n_idents = int(rng.integers(4, 9))
    idents = [
        f"{_STEMS[(family + k) % len(_STEMS)]}_f{family}_b{base_i}_{k}"
        for k in range(n_idents)
    ]
    lic = ALT_LICENSES[int(rng.integers(0, len(ALT_LICENSES)))]
    lines = [lic.rstrip("\n"), ""]
    n_funcs = int(rng.integers(2, 6))
    for f in range(n_funcs):
        a = idents[int(rng.integers(0, n_idents))]
        b = idents[int(rng.integers(0, n_idents))]
        c = int(rng.integers(1, 100))
        op = _OPS[int(rng.integers(0, len(_OPS)))]
        lines.append(f"def {a}_{f}({b}, limit={c}):")
        lines.append(f"    # compute {a} over {b} window")
        n_stmts = int(rng.integers(2, 7))
        for s in range(n_stmts):
            x = idents[int(rng.integers(0, n_idents))]
            y = idents[int(rng.integers(0, n_idents))]
            k = int(rng.integers(1, 50))
            lines.append(f"    {x}_{s} = {y} {op} {k}")
        lines.append(f"    return {a}_0 if limit > {c // 2} else {b}")
        lines.append("")
    return "\n".join(lines) + "\n", idents


def _perturb(
    content: str,
    idents: list[str],
    kind: str,
    rng: np.random.Generator,
    variant_i: int,
) -> str:
    if kind == "copy":
        return content
    if kind == "reformat":
        out = content.replace("    ", "  ").replace(" = ", "= ")
        return out.replace(", ", ",  ")
    if kind == "comment":
        lines = [
            (f"    # adjusted note v{variant_i}" if ln.strip().startswith("# compute") else ln)
            for ln in content.split("\n")
        ]
        return "\n".join(lines)
    if kind == "license":
        new_lic = ALT_LICENSES[int(rng.integers(0, len(ALT_LICENSES)))].rstrip("\n")
        lines = content.split("\n")
        # header block = leading comment lines
        i = 0
        while i < len(lines) and lines[i].startswith("#"):
            i += 1
        return "\n".join(new_lic.split("\n") + lines[i:])
    if kind == "rename":
        out = content
        for ident in idents:
            out = out.replace(ident, f"{ident}x{variant_i}")
        return out
    if kind == "insdel":
        lines = content.split("\n")
        pos = int(rng.integers(2, max(3, len(lines) - 2)))
        k = int(rng.integers(1, 80))
        lines.insert(pos, f"    aux_v{variant_i} = {k}")
        if len(lines) > 12:
            del lines[int(rng.integers(2, len(lines) - 2))]
        return "\n".join(lines)
    if kind == "truncate":
        lines = content.split("\n")
        keep = max(6, int(len(lines) * 0.8))
        return "\n".join(lines[:keep]) + "\n"
    raise ValueError(kind)


def generate_files_pdf(scale: str = "tiny", seed: int = 42) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Returns (files, memberships).

    files:        repo, path, commit, lang, content  (FIXTURES.md §1)
    memberships:  record_id, entity_id, family       (ground truth)
    """
    sc = SCALES[scale]
    rng = np.random.default_rng(seed)
    rows: list[tuple] = []
    members: list[tuple] = []

    for base_i in range(sc.n_bases):
        family = int(rng.integers(0, sc.n_families))
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        content, idents = _base_content(rng, base_i, family)
        n_variants = int(rng.integers(1, 9))
        entity_rids: list[str] = []
        for v in range(n_variants):
            kinds = (
                ["copy"]
                if v == 0
                else list(
                    rng.choice(PERTURBATIONS, size=int(rng.integers(1, 3)), replace=False)
                )
            )
            body = content
            for kind in kinds:
                body = _perturb(body, idents, str(kind), rng, v)
            repo = f"org{int(rng.integers(0, 40))}/proj{int(rng.integers(0, 50))}"
            path = f"src/pkg{family}/mod_{base_i}.{ {'python':'py','java':'java','c':'c','js':'js','go':'go'}[lang] }"
            commit = _commit(rng)
            rid = record_id(repo, path, commit)
            rows.append((repo, path, commit, lang, body))
            entity_rids.append(rid)
        eid = min(entity_rids)
        for rid in entity_rids:
            members.append((rid, eid, family, base_i))

    # vendored utility file: one cluster duplicated across many repos (skew)
    vend_content, vend_idents = _base_content(rng, 999_999, 0)
    vend_content = SHARED_LICENSE + vend_content
    vend_rids = []
    for i in range(sc.vendored_copies):
        repo = f"org{i % 40}/proj{int(rng.integers(0, 50))}"
        path = "vendor/util/strutil.py"
        commit = _commit(rng)
        rid = record_id(repo, path, commit)
        rows.append((repo, path, commit, "python", vend_content))
        vend_rids.append(rid)
    veid = min(vend_rids)
    for rid in vend_rids:
        members.append((rid, veid, -1, 999_999))

    files = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    memberships = pd.DataFrame(
        members, columns=["record_id", "entity_id", "family", "base_i"]
    )
    # primary key sanity: drop accidental (repo,path,commit) dupes deterministically
    files = files.drop_duplicates(subset=["repo", "path", "commit"], keep="first")
    memberships = memberships.drop_duplicates(subset=["record_id"], keep="first")
    return files, memberships


def generate_labeled_pairs_pdf(
    memberships: pd.DataFrame, seed: int = 42, max_pos_per_entity: int = 28
) -> pd.DataFrame:
    """labeled_pairs per FIXTURES.md §2.

    Positives: within-cluster combinations (`data_processor.py:191-196`).
    Negatives: cross-cluster pairs sharing a family (hard negatives from the
    same 'neighborhood', `data_processor.py:296-308`), balanced <= 1:1
    (`data_processor.py:205-208`).
    """
    rng = np.random.default_rng(seed + 1)
    pos: list[tuple] = []
    for eid, grp in memberships.groupby("entity_id", sort=True):
        rids = sorted(grp["record_id"].tolist())
        for a, b in itertools.islice(itertools.combinations(rids, 2), max_pos_per_entity):
            pos.append((a, b, 1, f"entity:{eid[:12]}"))

    neg: list[tuple] = []
    by_family = memberships[memberships["family"] >= 0].groupby("family", sort=True)
    for fam, grp in by_family:
        ents = grp.groupby("entity_id", sort=True)["record_id"].first()
        eids = sorted(ents.index.tolist())
        if len(eids) < 2:
            continue
        reps = {e: sorted(grp[grp.entity_id == e]["record_id"].tolist()) for e in eids}
        pairs = list(itertools.combinations(eids, 2))
        take = min(len(pairs), max(1, len(grp) // 2))
        idx = rng.permutation(len(pairs))[:take]
        for i in idx:
            ea, eb = pairs[int(i)]
            ra = reps[ea][int(rng.integers(0, len(reps[ea])))]
            rb = reps[eb][int(rng.integers(0, len(reps[eb])))]
            a, b = (ra, rb) if ra < rb else (rb, ra)
            neg.append((a, b, 0, f"family:{fam}"))

    n = min(len(neg), len(pos)) if pos else 0
    neg = neg[: max(n, len(neg) if not pos else n)]
    out = pd.DataFrame(pos + neg, columns=["id_a", "id_b", "label", "blocking_key"])
    return out.drop_duplicates(subset=["id_a", "id_b"], keep="first").reset_index(drop=True)


_FIXTURE_CACHE_DIR = "/tmp/sbb_ned_fixture_cache"
# bump on ANY change to the generators above: the /tmp cache is keyed by
# (scale, seed, version) — without the version, edits to generate_files_pdf
# would silently serve the stale pre-change corpus to benches/tests that
# survive across runs on the same machine
_GENERATOR_VERSION = 2


def fixture_parquet_path(scale: str, seed: int = 42) -> str:
    return f"{_FIXTURE_CACHE_DIR}/files_{scale}_s{seed}_v{_GENERATOR_VERSION}.parquet"


def ensure_files_parquet(scale: str = "tiny", seed: int = 42) -> str:
    """Materialize the generated corpus to parquet ONCE (atomic rename so
    concurrent bench subprocesses can't see a half-written file) and return
    the path. Shipping the corpus through spark.createDataFrame would
    serialize it into every task closure ('task of very large size'
    warnings) — reading it back as a parquet scan is both the realistic
    input shape and the scalable one."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = fixture_parquet_path(scale, seed)
    if not os.path.exists(path):
        pdf, _ = generate_files_pdf(scale, seed)
        os.makedirs(_FIXTURE_CACHE_DIR, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=_FIXTURE_CACHE_DIR, suffix=".tmp")
        os.close(fd)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
        os.replace(tmp, path)
    return path


def load_files_df(spark, scale: str = "tiny", seed: int = 42):
    """files as a Spark DataFrame (parquet-backed, see
    :func:`ensure_files_parquet`) with the derived per-row invariant columns
    (record_id, sha256 — input_hint; hashing precedent `webapp/app.py:289-291`)."""
    from sbb_ned_spark.functions.partitioning import ensure_min_parallelism
    from sbb_ned_spark.operators.blocking import with_ids

    # the fixture parquet is one row group -> 1 scan partition; without
    # the fan-out every per-row sha256 (and the whole features stage)
    # would run on one core
    df = ensure_min_parallelism(spark.read.parquet(ensure_files_parquet(scale, seed)))
    return with_ids(df)
