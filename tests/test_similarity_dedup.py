"""Similarity-search and dedup operator tests: materialized ANN index
(partition pruning evidence), simhash pandas-stage determinism, jaccard
bucket cap behavior."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from fluent_plugin_detect_exceptions_spark.functions import text as T
from fluent_plugin_detect_exceptions_spark.operators import dedup as D
from fluent_plugin_detect_exceptions_spark.operators import similarity as S

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _qv(spark):
    emb = _emb(spark)
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


def test_ann_indexed_equals_on_the_fly(spark, tmp_path):
    emb, qv = _emb(spark), _qv(spark)
    idx = str(tmp_path / "lsh_index")
    S.build_lsh_index(emb, idx, dim=64)
    got = [tuple(r) for r in S.ann_topk_indexed(spark, idx, qv, k=10).collect()]
    want = [tuple(r) for r in S.lsh_bucketed_topk(emb, qv, k=10).collect()]
    assert got == want and len(got) > 0


def test_ann_indexed_scan_is_partition_pruned(spark, tmp_path):
    """The whole point of the index: the parquet scan must read only the
    query's bucket partition (PartitionFilters on __bucket), not the full
    table plus a post-filter."""
    emb, qv = _emb(spark), _qv(spark)
    idx = str(tmp_path / "lsh_index")
    S.build_lsh_index(emb, idx, dim=64)
    plan_df = S.ann_topk_indexed(spark, idx, qv, k=10)
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    qsig = S.query_signature(qv)
    assert "PartitionFilters" in plan
    # the bucket equality must appear in the partition filters, i.e. be
    # applied at file listing time rather than per row
    pf_line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "__bucket" in pf_line and str(qsig) in pf_line, pf_line
    # and the data filters must NOT contain the bucket predicate anymore
    n_parts = spark.read.parquet(idx).select("__bucket").distinct().count()
    assert n_parts > 1  # pruning is meaningful: several buckets exist


def test_ivf_index_pruned_and_self_hit(spark, tmp_path):
    """IVF scale path: the scan reads only the n_probe probed centroid
    partitions (PartitionFilters on __centroid), the query vector's own
    partition is always probed (its assigned centroid IS the top-1 probe),
    so the query appears as the exact top hit."""
    emb, qv = _emb(spark), _qv(spark)
    cents = S.ivf_centroids(emb, n_centroids=8)
    assert len(cents) == 8
    idx = str(tmp_path / "ivf_index")
    S.build_ivf_index(emb, idx, cents)
    n_parts = spark.read.parquet(idx).select("__centroid").distinct().count()
    assert n_parts > 2  # pruning is meaningful
    plan_df = S.ivf_topk_indexed(spark, idx, cents, qv, k=5, n_probe=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    pf_line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "__centroid" in pf_line, pf_line
    got = [tuple(r) for r in plan_df.collect()]
    assert got[0] == (0, 1_000_000)  # the query vector itself, cosine 1.0
    # deterministic: a rebuild + re-probe returns identical rows
    S.build_ivf_index(emb, str(tmp_path / "ivf2"), cents)
    again = [tuple(r) for r in S.ivf_topk_indexed(
        spark, str(tmp_path / "ivf2"), cents, qv, k=5, n_probe=2).collect()]
    assert again == got


def test_simhash_signature_is_deterministic_and_bounded(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures_df(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures_df(docs).collect()}
    assert a == b and len(a) == docs.count()
    # 60-bit signatures: bits 60..63 never set
    assert all(0 <= v < (1 << 60) for v in a.values())
    # exact duplicates share a signature
    dup = docs.limit(1).collect()[0]
    two = spark.createDataFrame(
        [(900001, dup["text"]), (900002, dup["text"])], "doc_id long, text string"
    )
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures_df(two).collect()}
    assert sigs[900001] == sigs[900002]


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing invariant: documents sharing a substring of length >=
    k+w-1 (= 11 at k=7, w=5) share at least one fingerprint; documents with
    no common k-gram share none.  Short texts (< k) degrade to one
    whole-text hash."""
    from fluent_plugin_detect_exceptions_spark.functions.text import (
        winnow_fingerprints_df,
    )

    shared = "a common stretch of text"  # 24 chars >= 11
    rows = [
        (1, "prefix one %s suffix alpha" % shared),
        (2, "other beginning %s different end" % shared),
        (3, "zq jx wv kq px fy bm"),  # no 7-gram overlap with 1/2
        (4, "tiny"),                   # shorter than k
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprints_df(df).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared substring must produce a shared fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert len(fps[4]) == 1


def test_jaccard_bucket_cap_drops_degenerate_buckets(spark):
    # 40 identical near-empty docs share every band -> one poisoned bucket;
    # with max_bucket below that, no pairs come out of it, while a pair of
    # real near-dups in a small bucket is still found.
    rows = [(i, "x") for i in range(40)]
    rows += [(100, "the quick brown fox jumps over the lazy dog"),
             (101, "the quick brown fox jumps over the lazy dogs")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.jaccard_pairs(df, threshold_millis=100, max_bucket=0)
    capped = D.jaccard_pairs(df, threshold_millis=100, max_bucket=16)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(100, 101)}
    assert uncapped.count() > len(got)  # the degenerate bucket was the bulk
    # routing alternative (ADVICE r2): representative verification recovers
    # the capped bucket's members LINEARLY — every identical doc links to
    # the min-id rep with jaccard 1.0
    reps = D.jaccard_rep_pairs(df, threshold_millis=100, max_bucket=16)
    rp = {(r["id_a"], r["id_b"]): r["jaccard_millis"] for r in reps.collect()}
    assert set(rp) == {(0, i) for i in range(1, 40)}
    assert all(v == 1000 for v in rp.values())


def test_winnow_cap_and_rep_recovery(spark):
    """The winnow mirror of the LSH triad (VERDICT r3 item 2): a degenerate
    fingerprint shared by many boilerplate docs is (a) dropped by the
    opt-in cap, (b) surfaced by oversized_winnow_buckets, and (c) recovered
    linearly by winnow_rep_pairs."""
    boiler = "this exact boilerplate passage repeats verbatim in many docs"
    rows = [(i, f"{boiler}") for i in range(30)]
    rows += [(100, "completely unrelated first document body here"),
             (101, "completely unrelated first document body there")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.winnow_dup_pairs(df, min_shared=3)
    capped = D.winnow_dup_pairs(df, min_shared=3, max_bucket=16)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(100, 101)}  # the boilerplate clique is fully capped away
    assert uncapped.count() > 30 * 29 // 2 - 1  # and it was the bulk
    over = {r["fp"]: r["n_docs"] for r in
            D.oversized_winnow_buckets(df, max_bucket=16).collect()}
    assert over and all(n == 30 for n in over.values())
    reps = {(r["id_a"], r["id_b"]): r["n_shared"] for r in
            D.winnow_rep_pairs(df, min_shared=3, max_bucket=16).collect()}
    assert set(reps) == {(0, i) for i in range(1, 30)}


def test_connected_components_chain_and_underdrop(spark):
    """Deliberate a-b-c chain: CC labels the whole chain with its min id,
    and near_dedup_cc keeps exactly one doc per component — including the
    (1,3)+(2,3) shape where the single-pass near_dedup under-drops (keeps
    both 1 and 2, which are transitive near-dups linked through 3)."""
    pairs = spark.createDataFrame(
        # component A: chain 10-11, 11-12 (no 10-12 edge)
        # component B: the under-drop shape (1,3), (2,3)
        [(10, 11), (11, 12), (1, 3), (2, 3)],
        "id_a long, id_b long",
    )
    comps = {r["id"]: r["comp"] for r in D.connected_components(pairs).collect()}
    assert comps == {10: 10, 11: 10, 12: 10, 1: 1, 2: 1, 3: 1}
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 12, 99)],
        "doc_id long, text string",
    )
    kept_cc = {r["doc_id"] for r in D.near_dedup_cc(docs, pairs).collect()}
    assert kept_cc == {1, 10, 99}  # one per component + untouched doc
    kept_sp = {r["doc_id"] for r in D.near_dedup(docs, pairs).collect()}
    assert kept_sp == {1, 2, 10, 99}  # single-pass keeps the duplicate 2


def test_connected_components_converges_on_long_chain(spark):
    """Pointer jumping makes rounds logarithmic: a 64-node path collapses
    to one component well inside the iteration cap."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    comps = D.connected_components(pairs, max_iter=12)
    assert {r["comp"] for r in comps.collect()} == {0}
    assert comps.count() == 64


def test_connected_components_batched_convergence_checks(spark):
    """VERDICT r4 item 5: convergence is checked every ``check_every``
    rounds, so driver round-trips (one count job per CHECK) drop to about
    half the rounds at the default check_every=2 — and quartering them
    still converges to the same labels."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "id_a long, id_b long"
    )
    s2, s4 = {}, {}
    c2 = D.connected_components(pairs, check_every=2, stats=s2)
    assert {r["comp"] for r in c2.collect()} == {0}
    assert s2["converged"] and s2["checks"] <= (s2["rounds"] + 1) // 2
    c4 = D.connected_components(pairs, check_every=4, stats=s4)
    assert {r["comp"] for r in c4.collect()} == {0}
    assert s4["converged"] and s4["checks"] <= (s4["rounds"] + 3) // 4
    assert s4["checks"] < s4["rounds"]


def test_connected_components_max_iter_exhaustion_raises(spark):
    """ADVICE r4: exhausting max_iter without convergence fails LOUDLY
    instead of returning possibly-wrong labels."""
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=1, check_every=1)
    with _pytest.raises(ValueError, match="check_every"):
        D.connected_components(pairs, check_every=0)


def _sig_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_vectorized_equals_pandas(spark):
    """VERDICT r3 item 4: the loop-free signature stage (flat codepoint
    buffer + sliding windows + factorize interning + reduceat minima) is
    bit-identical to the per-doc interned-set form, including unicode,
    empty/null texts, sub-k shorties, and multi-slab batches."""
    rows = [
        (0, "hello world this is a test"),
        (1, "  Multiple   SPACES\tand\nnewlines  "),
        (2, "tiny"),
        (3, ""),
        (4, None),
        (5, "ünïcödé 文字列 テスト with mixed ascii"),
        (6, "x" * 5000),
        (7, "a b " * 400),
        (8, "exact"),
        (9, "abcd"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vec = _sig_rows(D.minhash_signatures_df(df, vectorized=True))
    ref = _sig_rows(D.minhash_signatures_df(df, vectorized=False))
    assert vec == ref
    # multi-slab coverage: a tiny slab cap forces several slabs (incl. a
    # single doc bigger than the cap forming its own slab)
    import pandas as pd

    from fluent_plugin_detect_exceptions_spark.operators.dedup import (
        _minhash_batch_vectorized,
    )

    pdf = pd.DataFrame(
        {"doc_id": range(6),
         "text": ["doc %d body with words " % i * 30 for i in range(5)] + ["z" * 2000]}
    )
    big = _minhash_batch_vectorized(pdf, "text", "doc_id", 8, 5)
    small = _minhash_batch_vectorized(pdf, "text", "doc_id", 8, 5,
                                      max_slab_windows=100)
    assert len(big) == len(small) == 9  # 8 signature columns + sh
    assert all(b.equals(s) for b, s in zip(big, small))


def test_simhash_vectorized_equals_pandas(spark):
    rows = [
        (0, "the quick brown fox"),
        (1, "  the   QUICK brown\tfox  "),
        (2, ""),
        (3, None),
        (4, "ünïcödé tokens 文字列 here"),
        (5, "one-token"),
        (6, "repeat repeat repeat distinct"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vec = _sig_rows(D.simhash_signatures_df(df, vectorized=True))
    ref = _sig_rows(D.simhash_signatures_df(df, vectorized=False))
    assert vec == ref


def test_decontaminate_drops_leaked_passages(spark):
    """A training doc containing a verbatim eval passage (>= k+w-1 chars)
    is dropped; unrelated docs survive."""
    leak = "the exact benchmark question text that must not leak into training"
    train = spark.createDataFrame(
        [(1, f"some long preamble then {leak} and a suffix here"),
         (2, "a completely unrelated training document body with no overlap")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, f"benchmark item: {leak}")], "doc_id long, text string"
    )
    kept = {r["doc_id"] for r in D.decontaminate(train, ev, min_shared=3).collect()}
    assert kept == {2}


def test_stratified_sample_deterministic_rates(spark):
    from fluent_plugin_detect_exceptions_spark.operators.sample import (
        stratified_sample,
    )

    rows = [(i, "keep_all" if i % 3 == 0 else ("drop_all" if i % 3 == 1 else "half"))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(
        df, {"keep_all": 1000, "drop_all": 0}, default_millis=500
    )
    got = [(r["doc_id"], r["source"]) for r in out.collect()]
    srcs = {}
    for _, s in got:
        srcs[s] = srcs.get(s, 0) + 1
    assert srcs.get("keep_all") == 100
    assert "drop_all" not in srcs
    assert 20 < srcs.get("half", 0) < 80  # ~50% of 100, deterministic
    again = [(r["doc_id"], r["source"]) for r in out.collect()]
    assert sorted(got) == sorted(again)  # content-stable, no RNG state


def test_repetition_stats_values(spark):
    from fluent_plugin_detect_exceptions_spark.functions.text import (
        repetition_stats_df,
    )

    rows = [
        (1, "spam spam spam spam"),
        (2, "all words here differ fully"),
        (3, "one"),
        (4, "ab cd ab cd ab cd"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_words"], r["n_distinct_words"], r["n_2grams"],
                         r["top_2gram_n"]) for r in repetition_stats_df(df).collect()}
    assert got[1] == (4, 1, 3, 3)      # "spam spam" occurs 3x
    assert got[2] == (5, 5, 4, 1)
    assert got[3] == (1, 1, 0, 0)      # no 2-grams at all
    assert got[4] == (6, 2, 5, 3)      # "ab cd" 3x beats "cd ab" 2x


def test_prepare_training_data_with_eval_corpus(spark):
    """The full composition incl. the decontamination gate: a doc that
    passes every other gate but contains a leaked eval passage is dropped;
    the clean high-quality doc survives; low-quality and duplicate docs
    fall to their own gates."""
    from fluent_plugin_detect_exceptions_spark.plans.training_data import (
        prepare_training_data,
    )

    leak = "the exact benchmark question text that must not leak into training"
    good = ("a perfectly reasonable training document, with enough distinct "
            "words and characters to pass the quality thresholds easily; "
            "it discusses several different topics using varied vocabulary "
            "and normal punctuation throughout the entire body of the text.")
    other = ("an entirely different article covering other material: the "
             "writer explains various unrelated concepts, offering detailed "
             "examples plus commentary, keeping sentences informative and "
             "long enough that every quality threshold clears comfortably.")
    rows = [
        (1, good, "src0"),
        (2, good, "src0"),                      # exact duplicate -> dropped
        (3, f"{other} moreover {leak} appears verbatim here.", "src0"),
        (4, "short", "src0"),                   # quality gate
        (5, "spam " * 60, "src0"),              # repetition gate
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    ev = spark.createDataFrame([(100, leak)], "doc_id long, text string")
    kept = {r["doc_id"] for r in prepare_training_data(
        docs, eval_df=ev, decont_min_shared=3
    ).collect()}
    assert kept == {1}  # 3 falls ONLY to decontamination (distinct body)
    # without the eval corpus, 3 survives — proving the drop was the
    # decontamination gate, not near-dup/quality
    kept_no_eval = {r["doc_id"] for r in prepare_training_data(docs).collect()}
    assert kept_no_eval == {1, 3}


def test_pq_index_codes_only_scan_and_reference(spark, tmp_path):
    """PQ round-trip: the ADC query's scan reads ONLY the m code columns
    (the 16-32x scan-byte win), and scores match a numpy reference of the
    same codes/table math."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sc = S.pq_subcentroids(emb, m=4, k_c=8)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "pq_index")
    S.build_pq_index(emb, path, sc)
    out = S.pq_topk(spark, path, sc, qv, k=5)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs and all("embedding" not in ln for ln in rs), plan
    got = [(r["vec_id"], r["adc_micro"]) for r in out.collect()]

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([[float(x) for x in r["embedding"]] for r in rows])
    m, sub = 4, len(qv) // 4
    C = np.array(sc)  # (m, k_c, sub)
    q = np.array(qv)
    adc = np.zeros(len(rows))
    for s in range(m):
        vs = V[:, s * sub : (s + 1) * sub]
        d = ((vs[:, None, :] - C[s][None, :, :]) ** 2).sum(-1)  # (n, k_c)
        codes = d.argmin(1)
        dt = ((q[s * sub : (s + 1) * sub][None, :] - C[s]) ** 2).sum(-1)
        adc += dt[codes]
    order = np.lexsort((ids, np.floor(adc * 1e6)))
    want = [(int(ids[i]), int(np.floor(adc[i] * 1e6))) for i in order[:5]]
    # reference uses a different float summation order; allow ±1 micro
    assert [w[0] for w in want] == [g[0] for g in got]
    assert all(abs(w[1] - g[1]) <= 1 for w, g in zip(want, got))


def test_incremental_dedup_bipartite(spark):
    """New batch deduped AGAINST the existing corpus: exact copies and
    near-dups of existing docs drop; intra-batch duplicates do NOT (out of
    scope by contract — the batch family composes); existing rows are never
    touched; the materialized-index path ((bands, shingles) precomputed,
    no corpus text rescans) gives the same near-leg answer."""
    from pyspark.sql import functions as F

    existing = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different corpus content about spark plans"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog tonight"),  # exact
            (11, "the quick brown fox jumps over the lazy dog toniXht"),  # near
            (12, "entirely novel text with no counterpart whatsoever"),
            (13, "entirely novel text with no counterpart whatsoever"),  # intra-batch dup: KEPT
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in D.incremental_dedup(new, existing, threshold_millis=500).collect()
    }
    assert kept == {12, 13}

    # materialized-index path: near leg only (no digest anti-join), so the
    # exact copy (10) is still caught — at Jaccard 1000 — by the bands
    bands = D.minhash_bands(existing)
    shs = existing.select(
        "doc_id",
        F.array_distinct(
            F.transform(D.shingles(F.col("text")), T.stable_hash64)
        ).alias("sh"),
    )
    kept_idx = {
        r["doc_id"]
        for r in D.incremental_dedup(
            new, existing_bands=bands, existing_shingles=shs,
            threshold_millis=500,
        ).collect()
    }
    assert kept_idx == {12, 13}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="existing_bands"):
        D.incremental_dedup(new)
