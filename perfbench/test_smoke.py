"""Smoke test of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once plain and once traced through the command in
BENCHMARK.json, checks that each metric BENCHMARK.json names is printed
with its unit, and shows that corrupted outputs fail the correctness
checks. Takes a few minutes: each run starts its own Spark JVM.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
SEED = 7


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2
    for m in BENCH["per_layer" if trace else "end_to_end"]:
        printed = result["metrics"][m["name"]]
        assert printed["unit"] == m["unit"], m["name"]
        assert isinstance(printed["value"], (int, float)), m["name"]


@pytest.fixture(scope="module")
def tiny():
    return corpus.load_inputs(os.path.join(ROOT, ".perfbench_cache"), "tiny", SEED)


def test_corrupted_clusters_fail_the_check(tiny):
    members = tiny.er_members
    ids = set(members.record_id)
    truth = list(zip(members.record_id, members.entity_id))
    problems, quality = workloads.check_clusters(truth, ids, tiny.er_labeled)
    assert problems == [] and quality["f1"] == 1.0

    one_cluster = [(r, "x") for r, _ in truth]  # every record merged
    assert workloads.check_clusters(one_cluster, ids, tiny.er_labeled)[0]
    split = [(r, r) for r, _ in truth]  # every record alone
    assert workloads.check_clusters(split, ids, tiny.er_labeled)[0]
    assert workloads.check_clusters(truth[1:], ids, tiny.er_labeled)[0]  # one lost
    assert workloads.check_clusters(truth + truth[:1], ids, tiny.er_labeled)[0]  # one twice


def test_exact_jaccard_reference_matches_brute_force():
    rng = random.Random(SEED)
    vocab = [f"t{i}" for i in range(12)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14))) for _ in range(80)]
    texts += texts[:10]  # exact duplicates
    ids = [f"{i:03d}" for i in range(len(texts))]
    want = {}
    for (i, a), (j, b) in itertools.combinations(enumerate(texts), 2):
        sa, sb = corpus.shingles(a), corpus.shingles(b)
        if sa and sb and len(sa & sb) / len(sa | sb) >= corpus.JACCARD_TAU:
            want[(ids[i], ids[j])] = len(sa & sb) / len(sa | sb)
    got = corpus.exact_jaccard_pairs(ids, texts)
    assert set(got) == set(want)
    assert all(abs(float(got[p]) - want[p]) < 1e-12 for p in want)
