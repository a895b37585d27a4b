"""Suite-scoped sharing of expensive derived artifacts across queries.

Several registered queries are COMPOSITIONS over the same intermediates:
``pagerank_docs`` re-derives ``simhash_pairs``, ``dup_clusters_docs``
re-derives ``minhash_lsh_pairs``, and the four PQ-family queries each
retrain the identical sub-codebooks (and the two IVF+PQ variants the same
coarse centroids).  Standalone, that is the correct contract — a query is
self-contained.  But a suite runner (the bench, a notebook session
running the whole catalog) pays the recompute N times for bit-identical
results.

This module is the explicit, OPT-IN cache for that case — scoped to the
suite RUNNER, not baked into the operators:

- disabled (default): ``memo``/``memo_df`` call straight through; every
  query keeps its standalone semantics, and the driver's correctness gate
  sees zero behavior change;
- the runner brackets a pass with :func:`enable` / :func:`disable`; while
  enabled, the first query to build a keyed artifact stores it (DFs
  materialized via ``localCheckpoint`` so reuse skips execution, not just
  planning) and later queries in the same pass reuse it.

Keys must carry EVERYTHING the artifact depends on (sf_dir, every
parameter) — two calls that differ in any parameter must miss.  Cache
entries are plain checkpointed DataFrames; dropping the dict on
``disable`` releases them through the normal GC path
(``session.drain_block_store`` makes that deterministic between passes).
"""

from __future__ import annotations

import threading
import time
from typing import Callable

from pyspark.sql import DataFrame

_CACHE: dict | None = None


class _BuildStack(threading.local):
    """A build-nesting stack per thread (see ``_BUILD_STACK``)."""

    def __init__(self):
        self.frames: list[float] = []


#: Build-nesting stack (r14): a builder may itself resolve another memo
#: (the tight simhash pairs build the shared signature inside their
#: builder lambda — the r13-ADVICE shape).  Without nesting-aware
#: timing, the child's seconds land in BOTH artifacts' ledger entries
#: and are subtracted TWICE from the triggering query — measured as a
#: phantom +1.9 s on ``__artifact:simhash_pairs:32:3`` and −2.1 s on
#: ``kcore_docs`` in the first r14 bench.  Each frame accumulates its
#: children's wall-clock; a parent's recorded build time is its elapsed
#: MINUS its children's, so the ledger sums to true total build seconds.
#: The stack is per thread: a nested build only ever runs on its parent's
#: thread, and two driver threads resolving memos at once would otherwise
#: pop and charge each other's frames.
_BUILD_STACK = _BuildStack()

#: The artifact-scale registry (VERDICT r13 item 6 — the sharing rule
#: enforced in code, not prose).  Every label that may be cached in a
#: suite scope is listed here with its scale class; ``memo``/``memo_df``
#: REFUSE unregistered labels, so adding a new shared artifact forces a
#: conscious review of how it grows with the corpus.  The rule (the r13
#: simhash decade-OOM lesson): a MATERIALIZED artifact must be
#: corpus-LINEAR or smaller — materializing a superlinear candidate/pair
#: set so a cheaper consumer can filter it moves the filter ABOVE the
#: checkpoint, Catalyst stops pushing it below the distinct/aggregate,
#: and the full quadratic set lands in one node's hash-agg state (OOM'd
#: an 8 GB JVM at 10x sf0.1 for simhash loose<=16 while the standalone
#: tight build ran in 11.8 s).  Labels are ``_key_label``'s first
#: segment; the value documents why the artifact is scale-safe.
ARTIFACT_ALLOWLIST: dict[str, str] = {
    # corpus-linear tables (<= ~1 row per document/vector/part)
    "shingle_base": "capped shingle rows per doc (max_shingle_doc_freq)",
    "simhash_sig": "one signature row per document",
    "tfidf_top_terms": "k rows per document",
    "dup_clusters": "<= one cluster row per document",
    "kmeans_assign": "one assignment row per vector + k centroids",
    "pq_codes": "one code row per vector",
    "pseudo_partsupp": "4 rows per part (TPC-H partsupp shape)",
    # model-sized / constant-sized results
    "cosine_topk_exact": "k x |queries| result rows",
    "ivf_kmeans_topk": "k x |queries| result rows",
    "coarse_cents": "n_cells centroid rows",
    "pq_cents": "m x ksub codebook rows",
    "bpe_merges": "n_merges driver-side tuples",
    # bounded pair/scored sets (NOT materialized beyond their standalone
    # pipelines' own persists; memo() shares the plan + internal persist)
    "minhash_lsh_pairs": "LSH band-collision candidates - the banding IS "
                         "the output bound; shared as the standalone plan",
    "lsh_verified_pairs": "subset of minhash_lsh_pairs candidates",
    "simhash_pairs": "tight<=3: small by blocking; loose<=16: the "
                     "documented small-scale-only pipeline, shared as the "
                     "standalone plan (hamming filter stays pushed below "
                     "its candidate distinct; NEVER derive tight from it)",
    "pq_adq_scored": "|corpus| x |queries| scored rows, |queries| bounded "
                     "by the queries_token contract (10 here)",
    # path handles to per-process maintained artifacts (disk-resident,
    # corpus-linear index/store tables; the memo holds only the path)
    "trigram_index": "path + meta of the corpus-linear posting table",
    "lsh_store": "path + meta of the corpus-linear band-row table",
}
#: wall-clock seconds spent BUILDING each cached artifact this scope —
#: the bench reads (and drains) this to charge shared-artifact builds to
#: explicit ``__artifact:<name>`` pseudo-entries instead of whichever
#: query happened to run first (round-over-round per-query numbers were
#: noise for cache-shared families otherwise: simhash_pairs_docs moved
#: 0.30→2.65 s between r5 and r6 purely because a different query paid
#: for the shared tight-graph build).
_BUILD_TIMES: dict[str, float] = {}


def _key_label(key: tuple) -> str:
    """Human-stable artifact label: drop every path-like element (the
    sf_dir rides in different positions across keys) and join the
    semantic parts — labels must be identical across sf dirs and rounds
    for the bench's round-over-round attribution to mean anything."""
    parts = [str(p) for p in key if "/" not in str(p)]
    return ":".join(parts) if parts else ":".join(str(p) for p in key)


def enable() -> None:
    """Start a suite-cache scope (idempotent: re-enabling clears it)."""
    global _CACHE
    _CACHE = {}
    _BUILD_TIMES.clear()


def disable() -> None:
    """End the scope and drop every cached artifact reference."""
    global _CACHE
    _CACHE = None


def enabled() -> bool:
    return _CACHE is not None


def drain_build_times() -> dict[str, float]:
    """Return artifact-build seconds recorded since the last drain (or
    enable) and reset the ledger.  The bench calls this after each query
    to attribute builds to the query that triggered them."""
    out = dict(_BUILD_TIMES)
    _BUILD_TIMES.clear()
    return out


def _check_registered(key: tuple) -> None:
    label = _key_label(key).split(":", 1)[0]
    if label not in ARTIFACT_ALLOWLIST:
        raise ValueError(
            f"suite_cache: artifact label {label!r} (key {key!r}) is not in "
            "ARTIFACT_ALLOWLIST - register it WITH a scale-class "
            "justification (materialized artifacts must be corpus-linear "
            "or smaller; see the allowlist docstring for the r13 OOM rule)"
        )


def _timed_build(key: tuple, builder: Callable):
    """Run ``builder`` with nesting-aware build timing: the ledger entry
    for ``key`` is the builder's wall-clock MINUS any nested memo builds
    it triggered (each of which gets its own entry), so entries sum to
    the true total and nothing is double-counted.  A failed build
    records no entry (unchanged from r13) but still charges its seconds
    to the enclosing frame — they are real seconds the parent spent."""
    stack = _BUILD_STACK.frames
    stack.append(0.0)
    t0 = time.perf_counter()
    try:
        val = builder()
    finally:
        elapsed = time.perf_counter() - t0
        children = stack.pop()
        if stack:
            stack[-1] += elapsed
    _BUILD_TIMES[_key_label(key)] = round(max(elapsed - children, 0.0), 3)
    return val


def memo(key: tuple | None, builder: Callable):
    """Build-or-reuse an arbitrary artifact (driver-side values, tuples of
    DFs already materialized by their builder).  ``key=None`` always calls
    through — the shape operators use when the caller provided no cache
    token (an un-tokenized key could collide across datasets)."""
    if _CACHE is None or key is None:
        return builder()
    _check_registered(key)
    if key not in _CACHE:
        _CACHE[key] = _timed_build(key, builder)
    return _CACHE[key]


def memo_df(key: tuple | None, builder: Callable[[], DataFrame]) -> DataFrame:
    """Build-or-reuse a DataFrame artifact, materializing it on first
    build so every reuse skips execution (a memoized LAZY plan would
    re-execute per consumer and save nothing)."""
    if _CACHE is None or key is None:
        return builder()
    _check_registered(key)
    if key not in _CACHE:
        _CACHE[key] = _timed_build(key, lambda: builder().localCheckpoint())
    return _CACHE[key]
