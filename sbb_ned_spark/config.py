"""Pipeline configuration.

Mirrors the reference's operative constants (BASELINE.md table;
`/root/reference/qurator/sbb_ned/webapp/de-config.json`) re-expressed for
the code-ER workload:

- ``max_key_frequency``  <- hot-key cutoff ``max_frequency``=1000
  (`index.py:652-653, 669-674`): blocking keys matching more than this
  many records are dropped (skew mitigation — the reference's own).
- ``max_candidates_per_record`` <- ``max_candidates``=25
  (`webapp/de-config.json:32`): per-record candidate cap before scoring.
- ``decision_threshold`` <- service threshold analog
  (`webapp/de-config.json:35`, `models/decider.py:47-48`): accept edge if
  score >= threshold OR exact-content override (sha256 equality,
  analog of the exact lowercase surface==title override `decider.py:48`).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # --- Stage 1: blocking -------------------------------------------------
    # 16 bands x 4 rows: band-match recall at jaccard 0.8 is
    # 1-(1-0.8^4)^16 ≈ 0.9998 (vs 32 bands ≈ 1-3e-8) while HALVING the
    # minhash matrix, the posting table, and the pair-join fan-in — the
    # three dominant costs measured at bench4. Transitive clustering
    # bridges the residual band misses (F1 re-verified at small + bench).
    minhash_perms: int = 64           # signature length
    lsh_bands: int = 16               # bands (rows per band = perms // bands)
    shingle_size: int = 3             # token-shingle width for MinHash
    max_key_frequency: int = 200      # hot-key cutoff (reference: 1000 @ KB scale)
    max_candidates_per_record: int = 25  # reference max_candidates=25
    # hard per-record Stage-2 fan-in ceiling: a pair nominated by one
    # endpoint is still dropped when it exceeds this rank on the OTHER
    # endpoint (bounds a popular min-id record's pair count in huge blocks)
    max_fan_in: int = 100
    # pairs must share >= this many blocking keys. True near-dups share
    # many band keys (exact dups share all ~66); single-key collisions are
    # noise — measured at `small`: k=2 cuts candidate pairs 4x (59k->15k),
    # end-to-end F1 1.0 (transitive clustering bridges the 28 blocked
    # pairs), and removes the one single-key false positive k=1 admitted.
    min_shared_keys: int = 2
    min_token_len: int = 2
    # collapse exact content duplicates (same sha256) to one representative
    # BEFORE feature extraction: at 10^12 files the dominant duplicate mass
    # is byte-identical (vendored files, forks); representatives shrink
    # every downstream stage and the expansion join restores members with
    # their representative's cluster. Labels are unchanged: the min record
    # id of a cluster is always itself a representative.
    collapse_exact_dups: bool = True
    # Input-contract validation level for duplicate record_ids. The free
    # always-on guard (a count window riding stage 0's sha256 exchange)
    # catches the realistic case — the same record listed twice with the
    # same content. A record_id duplicated with DIFFERENT content (a
    # corrupt caller-supplied key: the id is sha2(repo,path,commit) when
    # derived, so this cannot happen on the derived path) lands in
    # different sha groups and slips that window; validate_unique_ids=True
    # closes it with one extra bare-id aggregation pass over the input
    # (narrow: 32-byte ids only, no content) before the pipeline runs —
    # opt-in because it is an extra action per run at 10^12 files.
    validate_unique_ids: bool = False

    # --- Stage 2: scoring ---------------------------------------------------
    # combined score = weighted blend of similarity families
    # (ANN dist ~ trigram cosine; match_coverage/uniqueness ~ token jaccard;
    #  BERT pair proba ~ skeleton sequence ratio; north_star families:
    #  token-set Levenshtein + path Jaro-Winkler). Weights sum to 1.
    w_token_jaccard: float = 0.28
    w_token_set_lev: float = 0.05
    w_skeleton_ratio: float = 0.34
    w_trigram_cosine: float = 0.20
    w_size_ratio: float = 0.05
    w_path_jw: float = 0.08
    # skeleton ratio: the bigram-multiset batch estimate scores every pair;
    # exact difflib runs ONLY when the blended score falls within this band
    # of decision_threshold (decision-ambiguous pairs — a small fraction)
    skel_exact_band: float = 0.12
    prefix_chars: int = 256           # cap for char-level comparisons

    # --- Stage 3: decision/clustering ----------------------------------------
    decision_threshold: float = 0.62
    cc_max_iterations: int = 25
    cc_checkpoint_every: int = 1      # checkpoint() each CC iteration
    # convergence-check cadence (name kept from the fingerprint era so
    # config hashes stay meaningful). Round 2 set this to 2 assuming a
    # converged star round is cheaper than a driver barrier; measured at
    # bench4/8-cores (round 3, interleaved) the opposite holds: each star
    # round is 4-5 small shuffles, so checking every round stops at the
    # true convergence point instead of overshooting — clusters stage
    # 33.6s -> 23.9/24.8s. Round 6 replaced the fingerprint-equality test
    # with the structural star-form test (clustering._converged_star_form),
    # which detects the fixpoint WITHOUT the extra confirm round.
    cc_fingerprint_every: int = 1

    # --- execution ------------------------------------------------------------
    shuffle_partitions: int = 32
    arrow_max_records_per_batch: int = 2048

    # --- checkpointing / lineage ----------------------------------------------
    checkpoint_dir: str | None = None  # stage-output table checkpoints (resume)
    # when > 0, the checkpointed features table is partitioned by
    # pmod(xxhash64(repo), N) — a bounded-cardinality repo bucket, the
    # Iceberg PARTITIONED BY spec the input_hint's table would carry
    features_partition_buckets: int = 0
    extra_spark_conf: dict = field(default_factory=dict)


DEFAULT_CONFIG = PipelineConfig()
