"""Capture .explain('formatted') for every benched query into
<out>/<query>_<tag>.txt (tag = before/after, out = one round's directory,
e.g. plans/r07).  Plan shape is scale-independent, so this runs at sf0.1
regardless of the bench sf.

Usage: PYTHONPATH=. python scripts/capture_plans.py --out plans/r07
           [--run] <tag> [query ...]

``--run`` executes each query first (a count over its own query
execution), so the dump is the final adaptive plan, with its reused
stages, instead of the initial one.
The transcripts inputs are only built when a transcripts query is chosen.
"""

from __future__ import annotations

import argparse
import functools
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True, help="round directory, e.g. plans/r07")
    ap.add_argument("--run", action="store_true", help="dump the final plan after a run")
    ap.add_argument("tag", nargs="?", default="before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    tag, only = args.tag, set(args.queries)
    outdir = os.path.abspath(args.out)
    os.makedirs(outdir, exist_ok=True)

    from pyspark.sql import functions as F

    from bench import build_spark
    from fluent_plugin_detect_exceptions_spark.config import PipelineConfig
    from fluent_plugin_detect_exceptions_spark.functions import text as T
    from fluent_plugin_detect_exceptions_spark.functions.pii import pii_scrub
    from fluent_plugin_detect_exceptions_spark.operators.dedup import (
        lsh_candidate_buckets,
        near_dup_pairs,
    )
    from fluent_plugin_detect_exceptions_spark.operators.pack import pack_sequences
    from fluent_plugin_detect_exceptions_spark.operators.route import (
        detect_sink_counts,
        sink_counts,
    )
    from fluent_plugin_detect_exceptions_spark.operators.similarity import cosine_topk
    from fluent_plugin_detect_exceptions_spark.plans.pipeline import detect_exceptions
    from fluent_plugin_detect_exceptions_spark.sources.transcripts import (
        skewed_tail,
        synth_transcripts,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="plans_transcripts_")

    @functools.cache
    def transcripts(bucketed: bool = False):
        if bucketed:
            transcripts()
            spark.sql("DROP TABLE IF EXISTS bench_bucketed")
            (
                spark.read.parquet(f"{tmp}/transcripts.parquet")
                .write.mode("overwrite").format("parquet")
                .option("path", f"{tmp}/bucketed")
                .bucketBy(64, "conv_id").sortBy("conv_id", "turn_idx")
                .saveAsTable("bench_bucketed")
            )
            return spark.table("bench_bucketed")
        base = synth_transcripts(spark, 1200, repeats=2)
        tail = skewed_tail(spark, 2, 50_000)
        (
            base.unionByName(tail)
            .repartition(max(8, 2 * cpus), "conv_id")
            .sortWithinPartitions("conv_id", "turn_idx")
            .write.mode("overwrite")
            .parquet(f"{tmp}/transcripts.parquet")
        )
        return spark.read.parquet(f"{tmp}/transcripts.parquet")

    cfg = PipelineConfig(
        remove_tag_prefix="conv", chunk_size=16_384, warmup=2_048,
        assume_long_convs=True, assume_dense_turns=True,
    )
    cfg_b = PipelineConfig(
        remove_tag_prefix="conv", chunk_size=16_384, warmup=2_048,
        assume_long_convs=True, assume_dense_turns=True, input_clustered=True,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    plans = {
        "exception_pipeline": lambda: sink_counts(detect_exceptions(transcripts(), cfg)),
        "exception_pipeline_bucketed": lambda: sink_counts(
            detect_exceptions(transcripts(bucketed=True), cfg_b)
        ),
        "sink_counts_fast": lambda: detect_sink_counts(transcripts(), cfg),
        "dedup_exact": lambda: docs.groupBy(F.md5("text")).count(),
        "minhash_lsh": lambda: lsh_candidate_buckets(docs),
        # the near-dup gate's pair finder (both candidate kinds, one pass)
        "near_dup_pairs": lambda: near_dup_pairs(docs, threshold_millis=500, max_bucket=16),
        "text_analysis": lambda: docs.select(
            "doc_id",
            T.token_count(F.col("text")).alias("tok"),
            T.lang_id(F.col("text")).alias("lang"),
            T.fingerprint(F.col("text")).alias("fp"),
        ),
        "embedding_topk": lambda: cosine_topk(emb, qv, 10),
        "pack_sequences": lambda: pack_sequences(docs, budget=1024, n_shards=cpus),
        "pii_scrub": lambda: pii_scrub(docs),
    }
    for name, fn in plans.items():
        if only and name not in only:
            continue
        df = fn()
        if args.run:
            # run THIS query execution, so its adaptive plan is final
            df._jdf.queryExecution().toRdd().count()
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print("wrote", path)
    spark.stop()
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
