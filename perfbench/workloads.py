"""The benchmark workloads: how each runs one pass, checks it against the
oracles, and traces its layers.

Every call below goes through the program's public functions; the traced
run wraps them in spans (``ledger.Ledger``) and reads Spark's own metrics
for each span afterwards.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import statistics
import time

import gen
from ledger import Ledger, RssSampler, Span, node_sum, plan_shape

from fluent_plugin_detect_exceptions_spark import oracle
from fluent_plugin_detect_exceptions_spark.config import PipelineConfig
from fluent_plugin_detect_exceptions_spark.rules import compile_rules

ROUTED_CFG = dict(remove_tag_prefix="conv", chunk_size=16_384, warmup=2_048,
                  assume_long_convs=True, assume_dense_turns=True)
TRAINING_ARGS = dict(threshold_millis=500, max_bucket=16,
                     rates_millis={"src0": 1000, "src1": 250, "src2": 0}, default_millis=500)
#: conversations whose full records are compared with the oracle
SAMPLE_CONVS = 24


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _sink(lang):
    return f"lang_{lang}" if lang is not None else "passthrough"


class Workload:
    name = ""
    #: untimed passes before the timed ones: the passes right after the
    #: first still speed up as the JVM and the Python workers warm
    warmup_passes = 1
    #: warm passes measured even when they overrun ``--seconds``
    min_warm_passes = 3
    #: cold starts per run (new JVM, set-up, first pass); ``setup_s`` and
    #: ``first_job_s`` are medians over them
    cold_starts = 3

    def __init__(self, workdir: str, seed: int, cpus: int):
        self.spark = None
        self.workdir = workdir
        self.seed = seed
        self.cpus = cpus
        self.inputs: gen.Inputs | None = None
        self.expected = None
        #: ``restart(cores)`` replaces the session with one on that many cores
        self.restart = None

    def generate(self, path: str) -> gen.Inputs:
        raise NotImplementedError

    def compute_expected(self) -> None:
        raise NotImplementedError

    def run_pass(self):
        """The measured call; returns what ``check`` compares."""
        raise NotImplementedError

    def check(self, out, full: bool) -> list[str]:
        """Mismatches against the oracle ([] when correct)."""
        raise NotImplementedError

    def trace(self, ledger: Ledger, rss: RssSampler, seconds: float, first: Span) -> dict:
        """Per-layer metrics.  ``first`` is the span of the run's first pass."""
        raise NotImplementedError

    @property
    def rows(self) -> int:
        return len(self.inputs.rows)

    def rounds(self, ledger: Ledger, seconds: float, body) -> tuple["Rounds", float]:
        """Repeat ``body`` (spans of layer calls) with a traced and an
        untraced full pass, until ``seconds`` have passed (at least once).
        Returns the spans and the untraced pass's median time."""
        r = Rounds(ledger)
        untraced = []
        self.run_pass()  # let both timed passes start warm
        deadline = time.perf_counter() + seconds
        while True:
            r.parent = f"round.{len(untraced)}"
            r.run("full", self.run_pass)
            t0 = time.perf_counter()
            self.run_pass()
            untraced.append(time.perf_counter() - t0)
            body(r)
            if time.perf_counter() >= deadline:
                return r, median(untraced)

    def common_layers(self, r: "Rounds", first: Span, untraced_s: float, input_bytes: float) -> dict:
        """Driver, job and plan-shape numbers of the traced full pass."""
        full = r.last("full")
        first_m = r.ledger.spark_metrics(first)
        shape = plan_shape(full, 0.05 * input_bytes)
        full_wall = r.wall("full")
        return {
            "driver.idle_s": max(full_wall - r.med("full", "busy_s"), 0.0),
            "spark.jobs": full["jobs"],
            "spark.stages": full["stages"],
            "spark.tasks": full["tasks"],
            "plan.exchanges": shape["exchanges"],
            "plan.python_stages": shape["python_stages"],
            "plan.sort_merge_joins": shape.get("join.SortMergeJoin", 0),
            "plan.broadcast_joins": shape.get("join.BroadcastHashJoin", 0),
            "segmenter.py_start_s": node_sum(first_m, "time to start Python workers")
            + node_sum(first_m, "time to initialize Python workers"),
            "trace.overhead_frac": full_wall / untraced_s - 1.0,
        }


class Rounds:
    """Spans of repeated layer calls, grouped by name."""

    def __init__(self, ledger: Ledger):
        self.ledger = ledger
        self.spans: dict[str, list[Span]] = {}
        #: the round the next spans belong to
        self.parent: str | None = None

    def run(self, name: str, fn):
        with self.ledger.span(name, self.parent) as s:
            out = fn()
        self.spans.setdefault(name, []).append(s)
        return out

    def wall(self, name: str) -> float:
        return median([s.seconds for s in self.spans[name]])

    def med(self, name: str, key: str) -> float:
        return median([self.ledger.spark_metrics(s)[key] for s in self.spans[name]])

    def last(self, name: str) -> dict:
        return self.ledger.spark_metrics(self.spans[name][-1])

    def self_busy(self, name: str, prev: str) -> float:
        """Job-busy time ``name`` adds over the prefix ``prev``."""
        return max(self.med(name, "busy_s") - self.med(prev, "busy_s"), 0.0)

    def added(self, name: str, prev: str, key: str) -> float:
        return max(self.med(name, key) - self.med(prev, key), 0.0)


# --- exception workload -------------------------------------------------------


def _rec_key(t):
    return (t[0], t[1])


_PY_NODES = ("MapInArrow", "MapInPandas")


class RoutedSkewed(Workload):
    name = "routed_skewed"

    def __init__(self, *a):
        super().__init__(*a)
        self.cfg = PipelineConfig(**ROUTED_CFG)
        self.rules = compile_rules(self.cfg.languages)

    def generate(self, path):
        return gen.routed_skewed(self.seed, path, 2 * self.cpus)

    def df(self):
        return self.spark.read.parquet(self.inputs.path)

    def _by_conv(self) -> dict[str, list[dict]]:
        convs: dict[str, list[dict]] = {}
        for r in self.inputs.rows:
            convs.setdefault(r["conv_id"], []).append(r)
        for rows in convs.values():
            rows.sort(key=lambda r: r["turn_idx"])
        return convs

    def compute_expected(self) -> None:
        """Per-sink counts over every conversation, and full records for a
        seeded sample, from the single-process oracle."""
        convs = self._by_conv()
        counts: dict[str, int] = {}
        memo: dict[tuple, list] = {}
        for rows in convs.values():
            lines = tuple(r["text"] for r in rows)
            if lines not in memo:
                memo[lines] = [e.lang for e in oracle.run_plain(list(enumerate(lines)),
                                                                  rules=self.rules, max_lines=self.cfg.max_lines)]
            for lang in memo[lines]:
                counts[_sink(lang)] = counts.get(_sink(lang), 0) + 1
        rng = random.Random(self.seed + 1)
        names = sorted(convs)
        sample = rng.sample([c for c in names if c.startswith("conv.")], SAMPLE_CONVS)
        sample += [c for c in names if c.startswith("skew.")][:1]
        records = []
        for c in sample:
            acc = oracle.Accumulator("text", rules=self.rules, max_lines=self.cfg.max_lines)
            for r in convs[c]:
                acc.push(r["ts"], r)
            acc.force_flush()
            for e in acc.out:
                rec = e.record
                records.append((rec["conv_id"], rec["turn_idx"], rec["role"], rec["tool"],
                                rec["ts"], rec["text"], e.n_lines, e.lang))
        self.expected = {"counts": counts, "sample": sample, "records": sorted(records, key=_rec_key)}

    def check_records(self, rows) -> list[str]:
        got, errs = [], []
        prefix = self.cfg.remove_tag_prefix + "."
        for r in rows:
            got.append((r["conv_id"], r["first_turn_idx"], r["role"], r["tool"],
                        int(r["ts"].timestamp()), r["text"], r["n_lines"], r["lang"]))
            want_tag = r["conv_id"][len(prefix):] if r["conv_id"].startswith(prefix) else r["conv_id"]
            if r["sink"] != _sink(r["lang"]) or r["out_tag"] != want_tag or r["sync_ok"] is not True:
                errs.append(f"routing fields wrong for {r['conv_id']}@{r['first_turn_idx']}")
        got.sort(key=_rec_key)
        if got != self.expected["records"]:
            errs.append(f"sampled records differ: {len(got)} rows vs {len(self.expected['records'])} expected")
        return errs[:5]

    def check_counts(self, counts: dict) -> list[str]:
        if counts != self.expected["counts"]:
            return [f"sink counts {counts} != expected {self.expected['counts']}"]
        return []

    def classify_and_scan(self) -> dict:
        """In-process calls to ``classify`` and ``fsm.scan`` on the
        workload's lines (one stream), timed as the median of three."""
        import numpy as np
        import pandas as pd

        from fluent_plugin_detect_exceptions_spark.functions.classify import classify
        from fluent_plugin_detect_exceptions_spark.operators import fsm

        texts = pd.Series([r["text"] for r in self.inputs.rows], dtype=object)
        rawlen = texts.str.len().to_numpy(dtype=np.int64)
        has_nl = texts.str.contains("\n", regex=False).to_numpy(dtype=bool)
        gap = np.zeros(len(texts), dtype=bool)
        c_times, s_times = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            cls, g_tab, b_tab, _ = classify(texts, self.rules)
            t1 = time.perf_counter()
            fsm.scan(cls, g_tab, b_tab, rawlen, has_nl, gap, max_lines=self.cfg.max_lines)
            t2 = time.perf_counter()
            c_times.append(t1 - t0)
            s_times.append(t2 - t1)
        mrows = len(texts) / 1e6
        return {
            "classify.distinct_ratio": texts.nunique() / len(texts),
            "classify.s_per_mrow": median(c_times) / mrows,
            "fsm.scan_s_per_mrow": median(s_times) / mrows,
        }

    @property
    def input_bytes(self) -> int:
        return sum(len(r["text"]) for r in self.inputs.rows)

    def segment_layers(self, r: Rounds, prev: str, worker_rss: list[float]) -> dict:
        """Layer numbers of the Python scan stage, from the segment prefix."""
        seg = r.last("p2.segment")
        rows = self.rows

        def py(metric):
            return node_sum(seg, metric, _PY_NODES)

        return {
            "segmenter.py_bytes_in_per_row": py("data sent to Python workers") / rows,
            "segmenter.py_bytes_out_per_row": py("data returned from Python workers") / rows,
            "segmenter.py_run_s": py("time to run Python workers"),
            "segmenter.partials_per_row": py("number of output rows") / rows,
            "segmenter.shuffle_bytes": r.med("p2.segment", "shuffle_write_bytes"),
            "segmenter.fetch_wait_s": r.med("p2.segment", "fetch_wait_s"),
            "segmenter.task_skew": r.med("p2.segment", "task_skew"),
            "segmenter.stage_self_s": r.self_busy("p2.segment", prev),
            "segmenter.py_peak_rss_mb": median(worker_rss),
        }

    @property
    def sinks_path(self):
        return os.path.join(self.workdir, "sinks")

    def run_pass(self):
        from fluent_plugin_detect_exceptions_spark.operators.route import write_sinks
        from fluent_plugin_detect_exceptions_spark.plans.pipeline import detect_exceptions

        write_sinks(detect_exceptions(self.df(), self.cfg), self.sinks_path)
        return self.sinks_path

    def check(self, out, full):
        from pyspark.sql import functions as F

        written = self.spark.read.parquet(out)
        counts = {r["sink"]: r["count"] for r in written.groupBy("sink").count().collect()}
        errs = self.check_counts(counts)
        if full:
            rows = written.filter(F.col("conv_id").isin(self.expected["sample"])).collect()
            errs += self.check_records(rows)
        return errs

    def trace(self, ledger, rss, seconds, first):
        from fluent_plugin_detect_exceptions_spark.operators.coalesce import coalesce_partials
        from fluent_plugin_detect_exceptions_spark.operators.route import (
            detect_sink_counts,
            with_out_tag,
            with_sink,
            write_sinks,
        )
        from fluent_plugin_detect_exceptions_spark.operators.segmenter import (
            find_fallback_convs,
            segment,
        )
        from fluent_plugin_detect_exceptions_spark.plans.pipeline import (
            detect_exceptions,
            rejoin_ride,
            slim_split,
        )

        df = self.df()
        msg = self.cfg.resolve_message_field(df.columns)
        scan_in = df.select(*self.cfg.scan_columns(df.columns))
        worker_rss: list[float] = []
        fallback: list = []

        def body(r: Rounds):
            # the eager pre-pass gets its own span; the lazy layers are then
            # cumulative prefixes over the same fallback list, so they
            # contain no eager work
            fallback[:] = r.run("prepass", lambda: find_fallback_convs(df, self.cfg, self.rules, msg))
            cfg = dataclasses.replace(self.cfg, known_fallback_convs=tuple(fallback))
            stage_df, ride = slim_split(df, cfg, msg)

            def grouped():
                return coalesce_partials(segment(stage_df, cfg, self.rules), cfg, msg)

            r.run("p1.scan", lambda: noop(df))
            rss.reset()
            r.run("p2.segment", lambda: noop(segment(stage_df, cfg, self.rules)))
            worker_rss.append(rss.worker_peak_mb)
            r.run("p3.coalesce", lambda: noop(grouped()))
            r.run("p4.rejoin_route",
                  lambda: noop(with_sink(with_out_tag(rejoin_ride(grouped(), ride, cfg), cfg))))
            r.run("p5.write", lambda: write_sinks(detect_exceptions(df, cfg), self.sinks_path))
            # the counts-only entry point over the same scan, against its
            # own text-less segment prefix
            r.run("c2.segment", lambda: noop(segment(scan_in, cfg, self.rules, emit_text=False)))
            r.run("c3.counts", lambda: detect_sink_counts(df, cfg).collect())

        r, untraced_s = self.rounds(ledger, seconds, body)
        write = r.last("p5.write")
        writer = ("Execute InsertInto",)
        layers = {
            "segmenter.prepass_s": r.wall("prepass"),
            "segmenter.fallback_convs": len(fallback),
            "coalesce.self_s": r.self_busy("p3.coalesce", "p2.segment"),
            "coalesce.shuffle_bytes": r.added("p3.coalesce", "p2.segment", "shuffle_write_bytes"),
            "coalesce.records_out": node_sum(write, "number of output rows", writer),
            "pipeline.rejoin_self_s": r.self_busy("p4.rejoin_route", "p3.coalesce"),
            "pipeline.rejoin_shuffle_bytes": r.added("p4.rejoin_route", "p3.coalesce",
                                                     "shuffle_write_bytes"),
            "route.write_s": r.self_busy("p5.write", "p4.rejoin_route"),
            "route.bytes_written": node_sum(write, "written output", writer),
            "route.files_written": node_sum(write, "number of written files", writer),
            "route.counts_self_s": r.self_busy("c3.counts", "c2.segment"),
        }
        layers.update(self.segment_layers(r, "p1.scan", worker_rss))
        layers.update(self.common_layers(r, first, untraced_s, self.input_bytes))
        layers.update(self.classify_and_scan())
        # the layers' self times, the eager pre-pass and the driver's idle
        # time should add up to the traced full pass
        parts = (r.med("p1.scan", "busy_s") + layers["segmenter.stage_self_s"]
                 + layers["coalesce.self_s"] + layers["pipeline.rejoin_self_s"]
                 + layers["route.write_s"] + layers["segmenter.prepass_s"] + layers["driver.idle_s"])
        layers["trace.accounted_frac"] = parts / r.wall("full")
        layers["scaling.1to4"] = self.scaling(untraced_s)
        return layers

    def scaling(self, t_n: float) -> float:
        """Efficiency of one core against all: t(1) / (cores * t(cores)),
        with t the warm full-pass time.  Restarts the session on
        ``local[1]``; every span must have been read before."""
        if self.cpus < 2 or self.restart is None:
            return 0.0
        self.spark = self.restart(1)
        self.run_pass()
        t0 = time.perf_counter()
        self.run_pass()
        return (time.perf_counter() - t0) / (self.cpus * t_n)


# --- training-data workload --------------------------------------------------------


class TrainingPrep(Workload):
    name = "training_prep"
    # one pass is many small jobs that already run warm on the second pass;
    # two timed passes of ~8 s each fit the time budget, three do not
    warmup_passes = 0
    min_warm_passes = 2
    # one pass is many small jobs, so a single cold start is already steady
    cold_starts = 1

    def generate(self, path):
        return gen.training_docs(self.seed, path)

    def docs(self):
        return self.spark.read.parquet(os.path.join(self.inputs.path, "documents.parquet"))

    def run_pass(self):
        from fluent_plugin_detect_exceptions_spark.plans.training_data import prepare_training_data

        out = prepare_training_data(self.docs(), **TRAINING_ARGS).select("doc_id", "source")
        return sorted((r["doc_id"], r["source"]) for r in out.collect())

    def compute_expected(self) -> None:
        """DuckDB ``prepare_training_data_sql`` over the same documents,
        cached by the input's content and the query text.

        The query's near-dedup gate finds connected components with a
        recursive reachability CTE, which is quadratic in component size.
        Here DuckDB computes the gate's verified pairs with the query's own
        SQL, the components come from a union-find over those pairs (same
        rule: keep the minimum id of each component), and DuckDB runs the
        rest of the query with that gate as a table."""
        from fluent_plugin_detect_exceptions_spark.plans import oracle_sql as O

        full = O.prepare_training_data_sql(**TRAINING_ARGS)
        near = O.near_dedup_full_sql(TRAINING_ARGS["threshold_millis"], TRAINING_ARGS["max_bucket"])
        if full.count(near) != 1:
            raise RuntimeError("near-dedup gate not found in prepare_training_data_sql")
        pairs_sql = near.split("pairs AS (", 1)[1].split("\n),\nedges AS", 1)[0]
        key = hashlib.sha256(
            json.dumps(self.inputs.rows, sort_keys=True).encode() + full.encode()
        ).hexdigest()[:24]
        cache = os.path.join(os.path.dirname(self.workdir), "cache", f"training-{key}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                self.expected = [tuple(x) for x in json.load(f)]
            return
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        try:
            docs_file = os.path.join(self.inputs.path, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_file}')")
            pairs = con.execute(_materialize_ctes(pairs_sql)).fetchall()
            drop = _non_minimal_members(pairs)
            con.register("near_drop", pa.table({"doc_id": pa.array(sorted(drop), pa.int64())}))
            gate = "SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)"
            self.expected = sorted(tuple(r) for r in con.execute(full.replace(near, gate)).fetchall())
        finally:
            con.close()
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump(self.expected, f)

    def check(self, out, full):
        if out != self.expected:
            return [f"kept {len(out)} docs, oracle keeps {len(self.expected)}"]
        return []

    def trace(self, ledger, rss, seconds, first):
        from pyspark.sql import functions as F

        from fluent_plugin_detect_exceptions_spark.functions.text import quality_stats, repetition_stats_df
        from fluent_plugin_detect_exceptions_spark.operators.dedup import (
            exact_dedup_groups,
            jaccard_pairs,
            jaccard_rep_pairs,
            near_dedup_cc,
        )

        docs = self.docs()
        mb = TRAINING_ARGS["max_bucket"]

        def pairs(threshold):
            p1 = jaccard_pairs(docs, "text", "doc_id", threshold, max_bucket=mb).select("id_a", "id_b")
            p2 = jaccard_rep_pairs(docs, "text", "doc_id", threshold, max_bucket=mb).select("id_a", "id_b")
            return p1, p2

        p1, p2 = pairs(TRAINING_ARGS["threshold_millis"])
        stats = quality_stats(F.col("text"))
        quality = docs.filter((stats["n_chars"] >= 100) & (stats["n_tokens"] >= 20)
                              & (stats["n_punct"] * 5 <= stats["n_tokens"]))
        layer_calls = {
            "dedup.exact": lambda: noop(exact_dedup_groups(docs, "text", "doc_id")),
            "dedup.jaccard_pairs": lambda: noop(p1),
            "dedup.rep_pairs": lambda: noop(p2),
            "dedup.cc": lambda: noop(near_dedup_cc(docs.select("doc_id"),
                                                   p1.unionByName(p2).distinct(), "doc_id")),
            "text.quality": lambda: noop(quality),
            "text.repetition": lambda: noop(repetition_stats_df(docs, "text", "doc_id")),
        }

        def body(r: Rounds):
            for name, fn in layer_calls.items():
                r.run(name, fn)

        r, untraced_s = self.rounds(ledger, seconds, body)
        layers = {f"{name}_s": r.wall(name) for name in layer_calls}
        # pair counts are exact and repeat, so they are taken once, untimed;
        # a threshold of 0 keeps every LSH candidate pair
        c1, c2 = pairs(0)
        layers["dedup.candidate_pairs"] = c1.count() + c2.count()
        layers["dedup.pairs_kept"] = p1.unionByName(p2).distinct().count()
        layers["dedup.cc_jobs"] = r.med("dedup.cc", "jobs")
        layers.update(self.common_layers(r, first, untraced_s,
                                         sum(len(d["text"]) for d in self.inputs.rows)))
        return layers


def _materialize_ctes(sql: str) -> str:
    """Ask DuckDB to compute the shingle, signature, band and hash CTEs once
    instead of once per reference; the query's result is unchanged."""
    import re

    return re.sub(r"\b(sh|sigs|bands|hsh) AS \(", r"\1 AS MATERIALIZED (", sql)


def _non_minimal_members(pairs) -> set:
    """Ids whose connected component (over ``pairs``) has a smaller id."""
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for p in pairs for x in p if find(x) != x}


WORKLOADS = {w.name: w for w in (RoutedSkewed, TrainingPrep)}
