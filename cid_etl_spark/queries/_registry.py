"""Named engine queries with DuckDB oracle twins.

Each entry exercises one operator family from SURVEY §2 (or a
north-star extension) against the fixture tables.  Conventions that
make the driver's order-insensitive value-hash comparison stable:

- every computed column is aliased IDENTICALLY in Spark and SQL;
- money aggregates go through exact DECIMAL arithmetic, then one final
  ``round(..., 2)::double`` (operators.aggregates.decimal_sum/money) —
  double SUM order is non-associative, decimal SUM is exact;
- averages are ``round(decimal_sum::double / count, 6)``;
- ranking always carries a unique tiebreak column, and anything ranked
  on a float is rounded FIRST in both engines.

Queries without an oracle entry (minhash/simhash/embedding near-dup)
use hash functions DuckDB lacks; the driver records a rows-only check
for them (the math itself is covered by unit tests in tests/).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_SPARK: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _SPARK[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn

    return deco


#: Where the driver's per-round results live: one
#: ``CORRECTNESS_rNN.json`` per round at the repository root.
_CORRECTNESS_DIR = Path(__file__).resolve().parents[2]


def _verified_rounds(root: Path = _CORRECTNESS_DIR) -> list[frozenset[str]]:
    """The freshness ladder, oldest round first: for each
    ``CORRECTNESS_rNN.json`` under *root* (ordered by NN), the names
    whose ``hash_match`` is true.  No files, no ladder."""
    files = sorted(
        (int(m.group(1)), f)
        for f in root.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name))
    )
    return [
        frozenset(
            n for n, row in json.loads(f.read_text()).items()
            if row.get("hash_match") is True
        )
        for _, f in files
    ]


#: Rows to put at the very front of the next driver window (changed
#: plans, suspect rows).  Without an entry here the window is the
#: never-verified rows, then the stalest green rows.  Current entries:
#: the five stream rows (FileSystem-based checkpoint manager, sinks
#: read with the stream's schema), the rows whose constant table became
#: an inline VALUES list, the oracled rows of the embedding family
#: (moved into queries/embeddings.py, twins sharing one cosine, top-k
#: through operators.dedup.priority_dedup; the k-means cosine now
#: rounds through DECIMAL), the two run_batch rows (one digest helper,
#: VALUES output) and the star connected-components row (unlabeled
#: endpoints kept).
_DRIVER_WINDOW_PRIORITY: tuple[str, ...] = (
    "stream_hourly_events",
    "stream_sessionized_users",
    "stream_click_attribution",
    "stream_user_totals_stateful",
    "stream_dedup_admission",
    "range_join_acctbal_bands",
    "corpus_mixture_sample",
    "conformal_threshold_classifier",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh_probeall",
    "cosine_topk_ivf_fullprobe",
    "pq_adc_topk",
    "embedding_neardup_exact",
    "semantic_dedup_exact_embeddings",
    "hard_negative_mining",
    "knn_label_vote_embeddings",
    "kmeans_cluster_assign",
    "embedding_split_contamination",
    "embedding_outliers_by_label",
    "embedding_norms_arrow",
    "jl_projection_embeddings",
    "embedding_quantize_int8",
    "run_batch_fragments_verified",
    "run_batch_stats_verified",
    "dedup_clusters_star",
)


def _ordered_names(
    ladder: list[frozenset[str]] | None = None,
    priority: tuple[str, ...] = _DRIVER_WINDOW_PRIORITY,
) -> list[str]:
    """Registry order = the driver's verification budget (the driver
    checks the FIRST 50 entries of ``queries()`` each round):

    1. *priority* (:data:`_DRIVER_WINDOW_PRIORITY`), in its own order;
    2. oracled queries no driver round has hash-verified;
    3. verified oracled queries, OLDEST latest-green round first
       (name-sorted within a round), so each window re-verifies the
       rows whose last driver check is stalest;
    4. rows-only entries (no DuckDB oracle — a driver slot spent on
       them can only score ``err: no_oracle``) dead last.

    *ladder* defaults to :func:`_verified_rounds`, read from the
    ``CORRECTNESS_rNN.json`` files: a finished driver round is recorded
    by adding its file, with no code edit, and the next window rotates
    on its own.
    """
    if ladder is None:
        ladder = _verified_rounds()
    front = [n for n in priority if n in _SPARK]
    seen = set(front)
    rows_only = [
        n for n in _SPARK if n not in seen and n not in _ORACLE
    ]
    seen.update(rows_only)
    last_round: dict[str, int] = {}
    for rnd, names in enumerate(ladder, start=1):
        for n in names:
            last_round[n] = rnd
    mid = [n for n in _SPARK if n not in seen and n not in last_round]
    back = sorted(
        (n for n in _SPARK if n not in seen and n in last_round),
        key=lambda n: (last_round[n], n),
    )
    return front + mid + back + rows_only


#: The 7 registered queries WITHOUT a DuckDB oracle (driver records a
#: rows-only check), each mapped to the driver-green row that certifies
#: it, with the honest scope of that certification (ADVICE r4 #1):
#:
#: - ``minhash_lsh_pairs`` / ``simhash_pairs`` call the same
#:   operators.dedup pipeline as their twins (``minhash_dedup_pairs`` /
#:   ``simhash_dedup_pairs``).  The code paths differ ONLY in the
#:   base-hash argument of the one signer: pandas siphash for
#:   production speed vs md5, which DuckDB can replay (for MinHash the
#:   family also picks the band key, xxhash64 vs the raw value string).
#:   Shingle width, hash/band counts and thresholds are arguments.  The
#:   twin certifies the shingle/sign/band/verify pipeline end-to-end,
#:   and the banding stage's recall/precision against exact ground
#:   truth is itself oracle-checked (``lsh_recall_report``).  What no
#:   twin sees is the siphash tokenizer (``str.split``, not the Java
#:   ``\s+`` split of ``shingles()``); tests/test_dedup.py covers it
#:   on planted duplicates.
#: - ``content_fingerprints``'s winnowing column runs a numpy
#:   rolling-hash Arrow UDF (round 5: the interpreted-lambda expression
#:   took 68 s at sf0.1; the vectorized path takes <1 s).  The md5 twin
#:   proves the gram/window-min/dedup ALGORITHM against DuckDB; the
#:   numpy implementation is additionally pinned bit-for-bit to an
#:   independent pure-Python reference (tests/test_round5.py).
#: - ``cosine_topk_lsh`` / ``cosine_topk_ivf`` / ``embedding_neardup``
#:   / ``semantic_dedup_embeddings`` are APPROXIMATE paths whose twin is
#:   an exact or full-probe variant: the twin certifies the shared
#:   machinery (bucketing, scoring, top-k/pair assembly), but the
#:   pruning parameters that affect recall (multiprobe mask, nprobe,
#:   LSH/IVF candidate cut) are exercised only by unit tests
#:   (tests/test_similarity.py recall floors), NOT oracle-verified —
#:   by construction, since the oracle would have to replay the
#:   approximation exactly.  (The MINHASH banding family does have an
#:   oracle-verified recall row — ``lsh_recall_report``; an analogous
#:   row for the cosine LSH/IVF paths would need DuckDB to replay
#:   float hyperplane projections bit-for-bit, which rounding can't
#:   guarantee.)
ROWS_ONLY_VERIFIED_BY: dict[str, str] = {
    "minhash_lsh_pairs": "minhash_lsh_verified",
    "simhash_pairs": "simhash_pairs_verified",
    "content_fingerprints": "winnowing_fingerprints_verified",
    "embedding_neardup": "embedding_neardup_exact",
    "cosine_topk_lsh": "cosine_topk_lsh_probeall",
    "cosine_topk_ivf": "cosine_topk_ivf_fullprobe",
    "semantic_dedup_embeddings": "semantic_dedup_exact_embeddings",
}


def spark_queries() -> dict[str, QueryFn]:
    return {n: _SPARK[n] for n in _ordered_names()}


def oracle_queries() -> dict[str, str]:
    return {n: _ORACLE[n] for n in _ordered_names() if n in _ORACLE}

