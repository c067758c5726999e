"""End-to-end training-data preparation — the composition a production
LLM-data pipeline runs over a raw corpus, assembled from this repo's
oracle-gated pieces:

  exact dedup ∩ transitive near-dedup ∩ test-set decontamination
  ∩ quality gates ∩ repetition gates ∩ stratified source sampling

Gates compose as an INTERSECTION of independent predicates over the full
immutable corpus (each gate computed once, no ordering dependence), not as
a sequential re-derivation on shrinking subsets.  That choice is
deliberate for scale: every gate is embarrassingly parallel over the same
scan, gates can be cached/reused across pipeline versions, and the result
is deterministic under any evaluation order.  It is also conservative —
e.g. a near-dup pair where one side already failed a quality gate still
drops the other side — which is the direction a data pipeline wants to
err.

Scale shape: every gate reduces to a narrow id set (bigint), applied with
left-semi joins; quality/repetition/sampling are filters computed from the
text scan itself.  Raw text shuffles only inside the pair-finding pieces,
which are all LSH/fp-bucketed (never all-pairs).

The near-dup gate is one signature pass (``near_dup_pairs``): a single
Arrow stage emits each document's minhash signature and its shingle-hash
set; the band keys go through one bucket groupBy that yields both the
capped all-pairs and the oversized-bucket representative candidates; one
distinct; one verify join against the shingle-hash sets; then connected
components over the verified pairs."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import quality_stats, repetition_stats_df
from ..operators.dedup import (
    decontaminate,
    exact_dedup_groups,
    near_dedup_cc,
    near_dup_pairs,
)
from ..operators.sample import stratified_sample


def prepare_training_data(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_millis: int = 500,
    max_bucket: int = 16,
    decont_min_shared: int = 10,
    rates_millis: dict[str, int] | None = None,
    default_millis: int = 1000,
    min_chars: int = 100,
    min_tokens: int = 20,
    punct_ratio_x: int = 5,
    top2gram_ratio_x: int = 4,
) -> DataFrame:
    """Rows of ``docs`` passing every gate.

    * exact: the min-id representative per distinct text;
    * near-dup: one keep per connected component of the capped in-bucket
      Jaccard pairs UNION the rep-pairs recovery of oversized buckets, both
      from the one signature pass of ``near_dup_pairs``;
    * decontamination (when ``eval_df`` given): < ``decont_min_shared``
      winnowing fingerprints shared with the eval corpus;
    * quality: ≥ min_chars chars, ≥ min_tokens tokens, punct count ×
      ``punct_ratio_x`` ≤ tokens;
    * repetition: top word-2-gram count × ``top2gram_ratio_x`` ≤ total
      2-grams (drops boilerplate-looped text);
    * sampling: deterministic md5 bucket vs per-source rates.
    """
    out = docs

    exact_keep = exact_dedup_groups(out, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    out = out.join(exact_keep, id_col, "left_semi")

    pairs = near_dup_pairs(
        docs, text_col, id_col, threshold_millis, max_bucket=max_bucket
    ).select("id_a", "id_b")
    cc_keep = near_dedup_cc(docs.select(id_col), pairs, id_col)
    out = out.join(cc_keep, id_col, "left_semi")

    if eval_df is not None:
        clean = decontaminate(
            docs.select(id_col, text_col), eval_df, text_col, id_col,
            min_shared=decont_min_shared,
        ).select(id_col)
        out = out.join(clean, id_col, "left_semi")

    stats = quality_stats(F.col(text_col))
    out = out.filter(
        (stats["n_chars"] >= min_chars)
        & (stats["n_tokens"] >= min_tokens)
        & (stats["n_punct"] * punct_ratio_x <= stats["n_tokens"])
    )

    rep = repetition_stats_df(docs, text_col, id_col).filter(
        F.col("top_2gram_n") * top2gram_ratio_x <= F.greatest("n_2grams", F.lit(1))
    ).select(id_col)
    out = out.join(rep, id_col, "left_semi")

    if rates_millis is not None or default_millis != 1000:
        out = stratified_sample(
            out, rates_millis or {}, default_millis, id_col=id_col
        )
    return out
