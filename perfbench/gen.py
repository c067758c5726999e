"""Seeded input generators for the benchmark workloads.

Transcripts are composed only from the reference fixture traces
(``fixtures.py`` via ``sources.transcripts.SCENARIOS``); documents only from
the documents table shipped in ``perfbench/data``.  The same seed always
gives the same rows.  Generation runs in the driver process with pyarrow, so
the program under test receives nothing but the written parquet tables.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from fluent_plugin_detect_exceptions_spark import fixtures as fx
from fluent_plugin_detect_exceptions_spark.sources.transcripts import BASE_EPOCH, SCENARIOS

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: routed_skewed: short conversations plus long Java conversations that
#: cross ``chunk_size`` so the sync pre-pass, chunking and salting all run.
ROUTED_SHORT_CONVS = 1_500
ROUTED_LONG_CONVS = 4
ROUTED_LONG_TURNS = 17_000
#: training_prep: documents taken from the shipped table, and the
#: near-duplicate and exact copies injected into them.
TRAINING_DOCS = 300
TRAINING_NEAR_DUPS = 36
TRAINING_EXACT_DUPS = 12

_ARBITRARY = set(fx.lines(fx.ARBITRARY_TEXT))


@dataclass
class Inputs:
    """Generated tables plus the properties the metrics depend on."""

    path: str
    rows: list[dict]  # the generated rows, for the oracle
    props: dict = field(default_factory=dict)


def _scenario_blocks() -> list[list[str]]:
    """Lines of each scenario played twice, as ``synth_transcripts(repeats=2)``."""
    return [[ln for _ in range(2) for b in blocks for ln in fx.lines(b)] for blocks in SCENARIOS]


def _transcript_rows(rng: random.Random, n_short: int, n_long: int, long_turns: int,
                     n_files: int) -> list[dict]:
    scenarios = _scenario_blocks()
    rows = []

    def add(conv: str, lines: list[str], role_alternates: bool):
        for t, text in enumerate(lines):
            rows.append({
                "conv_id": conv,
                "turn_idx": t,
                "role": ("user" if t % 2 == 0 else "assistant") if role_alternates else "assistant",
                "text": text,
                "tool": f"tool{t % 3}",
                "ts": BASE_EPOCH + t,
            })

    # every file holds the same scenarios whatever the seed; the seed decides
    # which conversation plays which.  So every seed gives the same work and
    # the same file and partition sizes, and adaptive execution makes the
    # same partitioning decisions on every seed.
    by_file: dict[int, list[str]] = {}
    for c in range(n_short):
        conv = f"conv.{c:06d}"
        by_file.setdefault(_stable_bucket(conv, n_files), []).append(conv)
    for convs in by_file.values():
        plays = [i % len(scenarios) for i in range(len(convs))]
        rng.shuffle(plays)
        for conv, scenario in zip(convs, plays):
            add(conv, scenarios[scenario], True)
    block = fx.lines(fx.JAVA_EXC) + ["no trace here\n"]
    for c in range(n_long):
        # a seeded phase so the long conversations do not all start alike
        phase = rng.randrange(len(block))
        add(f"skew.{c:04d}", [block[(phase + t) % len(block)] for t in range(long_turns)], False)
    return rows


def _write_transcripts(rows: list[dict], path: str, n_files: int) -> None:
    """Parquet sorted by (conv, turn), conversations hashed over ``n_files``
    files like a table bucketed on ``conv_id``."""
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    buckets: list[list[dict]] = [[] for _ in range(n_files)]
    for r in rows:
        buckets[_stable_bucket(r["conv_id"], n_files)].append(r)
    for i, b in enumerate(buckets):
        b.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
        cols = {
            "conv_id": [r["conv_id"] for r in b],
            "turn_idx": [r["turn_idx"] for r in b],
            "role": [r["role"] for r in b],
            "text": [r["text"] for r in b],
            "tool": [r["tool"] for r in b],
            "ts": [r["ts"] * 1_000_000 for r in b],
        }
        pq.write_table(pa.table(cols, schema=schema), os.path.join(path, f"part-{i:05d}.parquet"))


def _stable_bucket(key: str, n: int) -> int:
    h = 0
    for ch in key.encode():
        h = (h * 31 + ch) & 0xFFFFFFFF
    return h % n


def _transcript_props(rows: list[dict]) -> dict:
    texts = [r["text"] for r in rows]
    convs = {r["conv_id"] for r in rows}
    trace = sum(1 for t in texts if t not in _ARBITRARY and t != "no trace here\n")
    return {
        "turns": len(rows),
        "conversations": len(convs),
        "max_turn": max(r["turn_idx"] for r in rows),
        "distinct_line_ratio": round(len(set(texts)) / len(texts), 4),
        "trace_line_share": round(trace / len(texts), 4),
        "bytes_per_turn": round(sum(len(t.encode()) for t in texts) / len(texts), 2),
    }


def routed_skewed(seed: int, path: str, n_files: int) -> Inputs:
    rng = random.Random(seed)
    rows = _transcript_rows(rng, ROUTED_SHORT_CONVS, ROUTED_LONG_CONVS, ROUTED_LONG_TURNS, n_files)
    _write_transcripts(rows, path, n_files)
    return Inputs(path, rows, _transcript_props(rows))


def _near_copy(text: str, rng: random.Random) -> str:
    """Drop one word and swap two neighbours: Jaccard stays high."""
    words = text.split(" ")
    if len(words) > 4:
        del words[rng.randrange(len(words))]
        i = rng.randrange(len(words) - 1)
        words[i], words[i + 1] = words[i + 1], words[i]
    return " ".join(words)


def training_docs(seed: int, path: str) -> Inputs:
    """The shipped documents table plus seeded near-duplicate and exact
    copies (new ids above the table's maximum)."""
    base = pq.read_table(os.path.join(DATA_DIR, "documents.parquet")).slice(0, TRAINING_DOCS)
    docs = base.to_pylist()
    rng = random.Random(seed)
    next_id = max(d["doc_id"] for d in docs) + 1
    extra = []
    # distinct sources: every copy forms a pair of its own with its source,
    # so the duplicate groups, and the dedup work, are alike on every seed
    sources = rng.sample(docs, TRAINING_NEAR_DUPS + TRAINING_EXACT_DUPS)
    for k, src in enumerate(sources):
        text = src["text"] if k >= TRAINING_NEAR_DUPS else _near_copy(src["text"], rng)
        extra.append({**src, "doc_id": next_id, "text": text, "n_chars": len(text)})
        next_id += 1
    docs += extra
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, schema=base.schema),
                   os.path.join(path, "documents.parquet"))
    texts = [d["text"] for d in docs]
    props = {
        "documents": len(docs),
        "injected_near_dups": TRAINING_NEAR_DUPS,
        "injected_exact_dups": TRAINING_EXACT_DUPS,
        "distinct_text_ratio": round(len(set(texts)) / len(texts), 4),
        "bytes_per_doc": round(sum(len(t.encode()) for t in texts) / len(texts), 2),
    }
    return Inputs(path, docs, props)
