"""The near-dup gate's one-pass pair finder: the signature stage's shingle-hash
sets against the JVM expression they replace, ``near_dup_pairs`` against
``jaccard_pairs ∪ jaccard_rep_pairs`` and the DuckDB oracle, NULL-text
semantics against the oracle, and the plan shape."""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from fluent_plugin_detect_exceptions_spark.functions import text as T
from fluent_plugin_detect_exceptions_spark.operators import dedup as D
from fluent_plugin_detect_exceptions_spark.plans import oracle_sql as O

SCHEMA = "doc_id long, text string"

#: NULL, empty and whitespace-only texts next to real near-duplicates
NULL_CORPUS = [
    (1, None),
    (2, None),
    (3, ""),
    (4, "   "),
    (5, "abc"),
    (6, "abc "),
    (7, "the quick brown fox jumps"),
    (8, "the quick brown fox jumps!"),
]


def _duck(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    return con


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=lambda t: tuple((v is None, v) for v in t))


def _rows(df):
    return _sorted(df.collect())


def _sql_rows(con, sql):
    return _sorted(con.execute(sql).fetchall())


def _corpus():
    """Short near-duplicate families on top of distinct documents: a 20-doc
    family of identical texts (one oversized bucket at every cap below 20),
    a 3-doc near-identical family, one-word edits of single documents, plus
    NULL, empty and short texts."""
    words = ("spark join shuffle window batch query filter merge stream sort "
             "key value table scan group order row data fast slow").split()
    rows = []
    for i in range(30):
        body = " ".join(words[(i * 7 + j * 3) % len(words)] for j in range(16))
        rows.append((i, f"doc {i} {body}"))
    for i in range(8):  # one-word edits of docs 0..7
        rows.append((100 + i, rows[i][1].replace("doc", "document", 1)))
    rows += [(200 + i, "the same boilerplate footer text") for i in range(20)]
    fam = "a three member family of nearly identical sentences here"
    rows += [(300, fam), (301, fam + "!"), (302, fam + "?")]
    rows += [(400, None), (401, None), (402, ""), (403, "ab"), (404, "ab")]
    return rows


@pytest.mark.parametrize("max_bucket", [0, 1, 256])
def test_null_text_corpus_matches_oracle(spark, max_bucket):
    """NULL text has a NULL band key and an empty shingle set, as in the
    oracle: two NULL docs are not a pair (the oracle's 0/0), and they do not
    share a bucket with the empty docs, so (3, 4) is found at every cap."""
    df = spark.createDataFrame(NULL_CORPUS, SCHEMA)
    con = _duck(NULL_CORPUS)
    try:
        assert _rows(D.lsh_candidate_buckets(df)) == _sql_rows(con, O.minhash_bands_sql())
        jp = _rows(D.jaccard_pairs(df, threshold_millis=100, max_bucket=max_bucket))
        assert jp == _sql_rows(con, O.jaccard_pairs_sql(100, max_bucket=max_bucket))
        rp = _rows(D.jaccard_rep_pairs(df, threshold_millis=100, max_bucket=max_bucket))
        assert rp == _sql_rows(con, O.jaccard_rep_pairs_sql(100, max_bucket=max_bucket))
        pairs = D.near_dup_pairs(df, threshold_millis=100, max_bucket=max_bucket)
        kept = _rows(D.near_dedup_cc(df, pairs.select("id_a", "id_b")).select("doc_id"))
        assert kept == _sql_rows(con, O.near_dedup_full_sql(100, max_bucket=max_bucket))
    finally:
        con.close()
    assert (1, 2, 1000) not in jp
    assert (3, 4, 1000) in set(jp) | set(rp)
    if max_bucket == 1:
        assert (3, 4, 1000) in rp


def test_signature_sh_equals_jvm_shingle_hashes(spark):
    """The stage's ``sh`` is the value of the JVM expression it replaces,
    ``array_distinct(transform(shingles(text), stable_hash64))``, on short,
    whitespace-run, empty, non-ASCII and edge-space texts — in both the
    vectorized and the per-doc form."""
    rows = [
        (0, "hello world this is a test of shingles"),
        (1, "  Multiple   SPACES\tand\nnewlines\x0b here  "),
        (2, "tiny"),
        (3, ""),
        (4, "    "),
        (5, "ünïcödé café 文字列 テスト with mixed ascii"),
        (6, "emoji 😀😀 and more 😀 text"),
        (7, "café\xa0"),  # trailing no-break space: kept, as Spark's trim does
        (8, "\x1cab\x85cd\x1f"),
        (9, "abcde"),
        (10, "abcd"),
        (11, "x" * 3000),
        (12, "repeat repeat repeat repeat"),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    jvm = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select(
            "doc_id",
            F.array_distinct(F.transform(D.shingles(F.col("text")), T.stable_hash64)).alias("sh"),
        ).collect()
    }
    for vectorized in (True, False):
        got = {
            r["doc_id"]: list(r["sh"])
            for r in D.minhash_signatures_df(df, vectorized=vectorized).collect()
        }
        assert got == jvm, vectorized
        assert all(v == sorted(v) for v in got.values())


def test_null_text_signature(spark):
    """A NULL text: null signature columns and an empty ``sh`` (the
    oracle's ``list_distinct`` drops the NULL hash); '' keeps its
    whole-text shingle."""
    df = spark.createDataFrame([(1, None), (2, "")], SCHEMA)
    out = {r["doc_id"]: r for r in D.minhash_signatures_df(df).collect()}
    assert all(out[1][f"__s{j}"] is None for j in range(D.DEFAULT_NUM_HASHES))
    assert out[1]["sh"] == []
    assert all(out[2][f"__s{j}"] is not None for j in range(D.DEFAULT_NUM_HASHES))
    assert len(out[2]["sh"]) == 1
    keys = {r["doc_id"]: r["band_key"] for r in D.minhash_bands(df).collect()}
    assert keys[1] is None and keys[2] is not None


@pytest.mark.parametrize("max_bucket", [0, 1, 2, 16])
def test_near_dup_pairs_equals_union_and_oracle(spark, max_bucket):
    """Both candidate branches: all i<j pairs in buckets of at most
    ``max_bucket`` docs, (min id, member) in larger ones — the same set as
    ``jaccard_pairs ∪ jaccard_rep_pairs`` and as the oracle's union."""
    rows = _corpus()
    df = spark.createDataFrame(rows, SCHEMA)
    got = _rows(D.near_dup_pairs(df, threshold_millis=100, max_bucket=max_bucket))
    p1 = _rows(D.jaccard_pairs(df, threshold_millis=100, max_bucket=max_bucket))
    p2 = _rows(D.jaccard_rep_pairs(df, threshold_millis=100, max_bucket=max_bucket))
    assert got == sorted(set(p1) | set(p2))
    con = _duck(rows)
    try:
        want = _sql_rows(
            con,
            f"SELECT * FROM ({O.jaccard_pairs_sql(100, max_bucket=max_bucket)}) "
            f"UNION SELECT * FROM ({O.jaccard_rep_pairs_sql(100, max_bucket=max_bucket)})",
        )
    finally:
        con.close()
    assert got == want
    assert (200, 219, 1000) in got  # the 20-doc family is found at every cap
    if max_bucket in (1, 2, 16):
        assert p2, "the representative branch must run"
    if max_bucket != 1:
        assert p1, "the all-pairs branch must run"


def test_near_dup_pairs_plan_shape(spark):
    """One signature pass: the executed plan holds at most two Python map
    nodes (the band side and the ``sh`` side; ``jaccard_pairs ∪
    jaccard_rep_pairs`` had five on the sf0.1 documents), and no
    higher-order lambda hashes with md5 — shingle hashing happens in the
    Arrow stage."""
    df = spark.createDataFrame(_corpus(), SCHEMA)
    pairs = D.near_dup_pairs(df, threshold_millis=100, max_bucket=16)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the final plan, after the run
    text = plan.toString()
    assert 1 <= len(re.findall(r"\b(?:MapInArrow|MapInPandas)\b", text)) <= 2, text
    for line in text.splitlines():
        assert not ("lambdafunction" in line and "md5" in line), line
