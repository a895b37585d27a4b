"""Suite-cache contract: disabled = exact passthrough (the default every
correctness gate runs under), enabled = share-within-scope with results
bit-identical to standalone execution."""

from __future__ import annotations

import threading

from flink_invoice_processor_spark.functions import suite_cache as SC


def test_memo_passthrough_and_scope():
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    # registered labels (the allowlist is enforced inside a scope)
    k1, k2 = ("bpe_merges", 1), ("bpe_merges", 2)
    # disabled: every call builds
    assert SC.memo(k1, build) == 1
    assert SC.memo(k1, build) == 2
    SC.enable()
    try:
        assert SC.memo(k1, build) == 3
        assert SC.memo(k1, build) == 3          # hit
        assert SC.memo(k2, build) == 4          # different key misses
        assert SC.memo(None, build) == 5        # None key never caches
    finally:
        SC.disable()
    assert SC.memo(k1, build) == 6              # scope gone


class _ThreadClock:
    """A ``time`` stand-in whose ``perf_counter`` is a per-thread virtual
    clock that only ``work`` advances, so build times are exact."""

    def __init__(self):
        self._local = threading.local()

    def perf_counter(self) -> float:
        return getattr(self._local, "t", 0.0)

    def work(self, seconds: float) -> None:
        self._local.t = self.perf_counter() + seconds


def test_nested_memo_builds_are_not_double_counted(monkeypatch):
    """A builder that resolves another memo inside itself (the r13-ADVICE
    shape: tight simhash pairs build the shared signature in their
    builder lambda) must charge the child's seconds to the CHILD's
    ledger entry only — r14's first bench measured the double-count as a
    phantom +1.9 s artifact entry and a −2.1 s query entry.  The virtual
    clock makes the recorded times exact."""
    clock = _ThreadClock()
    monkeypatch.setattr(SC, "time", clock)

    def child():
        clock.work(1.0)
        return "sig"

    def parent():
        inner = SC.memo(("simhash_sig", 32), child)
        clock.work(2.0)
        return inner + ":pairs"

    SC.enable()
    try:
        assert SC.memo(("simhash_pairs", 32, 3), parent) == "sig:pairs"
        built = SC.drain_build_times()
    finally:
        SC.disable()
    # the child's second lands once: in its own entry, not also the parent's
    assert built == {"simhash_sig:32": 1.0, "simhash_pairs:32:3": 2.0}


def test_nested_memo_builds_on_two_threads_are_timed_apart(monkeypatch):
    """Two driver threads build nested memos at once: each artifact's
    build time is recorded once, in its own entry.  The barriers hold
    both parents' and both children's build frames open together, which
    a build stack shared between threads pops and charges crosswise."""
    clock = _ThreadClock()
    monkeypatch.setattr(SC, "time", clock)
    parents_open = threading.Barrier(2, timeout=30)
    children_open = threading.Barrier(2, timeout=30)
    errors = []

    def child():
        children_open.wait()
        clock.work(1.0)
        return "sig"

    def parent(width):
        def build():
            clock.work(2.0)
            parents_open.wait()
            return SC.memo(("simhash_sig", width), child) + ":pairs"
        return build

    def run(width):
        try:
            assert SC.memo(("simhash_pairs", width, 3), parent(width)) == "sig:pairs"
        except Exception as e:  # surfaced by the main thread below
            errors.append(e)

    SC.enable()
    try:
        threads = [threading.Thread(target=run, args=(w,)) for w in (32, 64)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        built = SC.drain_build_times()
    finally:
        SC.disable()
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert built == {
        "simhash_sig:32": 1.0, "simhash_pairs:32:3": 2.0,
        "simhash_sig:64": 1.0, "simhash_pairs:64:3": 2.0,
    }


def test_unregistered_artifact_label_refused():
    """The r13 sharing rule enforced in code (VERDICT r13 item 6): a
    memo key whose label is not in ARTIFACT_ALLOWLIST fails loudly
    inside a cache scope, so a new shared artifact cannot land without
    a reviewed scale-class entry (the decade-OOM guard — materialized
    artifacts must be corpus-linear or smaller)."""
    import pytest

    SC.enable()
    try:
        with pytest.raises(ValueError, match="ARTIFACT_ALLOWLIST"):
            SC.memo(("quadratic_pair_dump", 1), lambda: 1)
        with pytest.raises(ValueError, match="ARTIFACT_ALLOWLIST"):
            SC.memo_df(("quadratic_pair_dump", 1), lambda: None)
    finally:
        SC.disable()
    # outside a scope the call is a passthrough - no registry to protect
    assert SC.memo(("quadratic_pair_dump", 1), lambda: 41) == 41


def test_every_source_memo_label_is_registered():
    """Static sync pin: every SC.memo/memo_df key literal in the query
    catalog resolves to a registered allowlist label (keys built from
    variables — the similarity.py codebook keys — are covered by the
    runtime check + the cache-enabled pytest sweeps)."""
    import ast
    import os

    import flink_invoice_processor_spark.plans.queries as Q

    src = open(os.path.abspath(Q.__file__.rstrip("c"))).read()
    labels = set()

    class V(ast.NodeVisitor):
        def visit_Call(self, node):
            fn = node.func
            if (
                isinstance(fn, ast.Attribute)
                and fn.attr in ("memo", "memo_df")
                and isinstance(fn.value, ast.Name)
                and fn.value.id == "SC"
                and node.args
                and isinstance(node.args[0], ast.Tuple)
            ):
                parts = [
                    e.value
                    for e in node.args[0].elts
                    if isinstance(e, ast.Constant)
                    and isinstance(e.value, str)
                    and "/" not in e.value
                ]
                if parts:
                    labels.add(parts[0])
            self.generic_visit(node)

    V().visit(ast.parse(src))
    assert labels, "AST scan found no memo keys - scanner broken?"
    unregistered = labels - set(SC.ARTIFACT_ALLOWLIST)
    assert not unregistered, (
        f"memo labels missing from ARTIFACT_ALLOWLIST: {unregistered}"
    )


def test_composed_queries_identical_with_cache_enabled(spark, sf_dir):
    """pagerank_docs reuses the suite-cached simhash pairs when a pass
    shares them; its output must be bit-identical to standalone."""
    from flink_invoice_processor_spark.plans.queries import QUERIES

    base = {tuple(r) for r in QUERIES["pagerank_docs"](spark, sf_dir).collect()}
    SC.enable()
    try:
        QUERIES["simhash_pairs_docs"](spark, sf_dir).count()
        shared = {
            tuple(r) for r in QUERIES["pagerank_docs"](spark, sf_dir).collect()
        }
        assert ("%s" % sf_dir, "simhash_pairs", 32, 16) in SC._CACHE
    finally:
        SC.disable()
    assert shared == base


def test_pq_family_identical_with_cache_enabled(spark, sf_dir):
    from flink_invoice_processor_spark.plans.queries import QUERIES

    base = {
        tuple(r)
        for r in QUERIES["ivf_pq_topk_embeddings"](spark, sf_dir).collect()
    }
    SC.enable()
    try:
        QUERIES["pq_codes_embeddings"](spark, sf_dir).count()
        shared = {
            tuple(r)
            for r in QUERIES["ivf_pq_topk_embeddings"](spark, sf_dir).collect()
        }
        # the codebook trained by pq_codes was reused, not retrained
        assert any(k and k[1] == "pq_cents" for k in SC._CACHE)
    finally:
        SC.disable()
    assert shared == base


def test_key_label_strips_paths_anywhere():
    """Artifact labels must be sf_dir-independent regardless of where
    the path sits in the key — they anchor round-over-round bench
    attribution."""
    from flink_invoice_processor_spark.functions.suite_cache import _key_label

    assert _key_label(("/root/testdata/sf0.1", "minhash_lsh_pairs", 16, 4)) == (
        "minhash_lsh_pairs:16:4"
    )
    assert _key_label(("lsh_store", "/root/testdata/sf0.1")) == "lsh_store"
    assert _key_label(("trigram_index", "/tmp/x")) == "trigram_index"
    # degenerate all-path key keeps SOMETHING rather than an empty label
    assert _key_label(("/a/b",)) == "/a/b"


def test_simhash_tight_shares_signature_never_loose_pairs(spark, sf_dir):
    """Scale-safety pin (round 13): the tight (<=3) graph queries share
    the linear-size SIGNATURE artifact, never the loose (<=16) PAIR
    artifact — the <=16 pair set is near-quadratic in documents and a
    bare build of it OOMs one node's 8 GB heap at 10x sf0.1 (round-6
    finding on the dense graph, re-measured round 13), while the tight
    band join keeps its hamming filter below the candidate distinct."""
    from flink_invoice_processor_spark.plans.queries import QUERIES

    SC.enable()
    try:
        QUERIES["kcore_docs"](spark, sf_dir).count()
        keys = set(SC._CACHE)
        assert (sf_dir, "simhash_sig", 32) in keys
        assert (sf_dir, "simhash_pairs", 32, 3) in keys
        assert (sf_dir, "simhash_pairs", 32, 16) not in keys
        # and the signature artifact is REUSED by the loose pipeline
        QUERIES["simhash_pairs_docs"](spark, sf_dir).count()
        assert (sf_dir, "simhash_pairs", 32, 16) in SC._CACHE
        assert sum(1 for k in SC._CACHE if k and k[1] == "simhash_sig") == 1
    finally:
        SC.disable()
