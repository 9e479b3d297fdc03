"""Round-6 ADVICE: the size-gated driver-local fast paths (Lloyd
k-means <=100k rows, PageRank <=1M edges, PQ train <=100k rows) mean the
regular suite only ever exercises the local replays — the distributed
chains they claim to be bit-identical to would otherwise be dead code at
CI scale. These tests force each gate OFF (monkeypatched to -1) and
assert the distributed result equals the local result row-for-row,
bit-for-bit, so a future edit to either side cannot silently diverge for
large corpora.
"""

from __future__ import annotations

import contextlib
import uuid

import pytest
from pyspark.sql import functions as F

from elevate_data_pipeline_spark.operators import cluster, graph, similarity

from conftest import SF_DIR


def _vectors(spark, n=40, dim=8):
    """Deterministic float32-ish embedding corpus, including half-ulp
    decimal-tie components (2.5e-12 …) that distinguish repr-based from
    exact-binary DECIMAL(28,12) quantization."""
    ties = [5e-13, 2.5e-12, 4.5e-12, 7.5e-12]
    rows = []
    for i in range(n):
        v = [((i * 31 + d * 7) % 19) / 4.0 - 2.0 for d in range(dim)]
        v[i % dim] += ties[i % len(ties)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.select(cols).collect())


def _assert_local_relation(df):
    """A tier's hand-back must optimize to a single in-plan LocalRelation
    (read without a Spark job) — a leaf, so no pickled-list LogicalRDD
    hides under it."""
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()


@contextlib.contextmanager
def _job_ids(spark):
    """Collect the ids of the Spark jobs the body submits, via a job
    group of its own on this thread."""
    sc = spark.sparkContext
    group = f"tier-jobs-{uuid.uuid4().hex}"
    ids: list = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events land
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_quantize_matches_spark_decimal_cast(spark):
    """util.lloyd_local's per-component DECIMAL(28,12) quantization must
    match Spark's cast(double as decimal(28,12)) exactly — including on
    half-ulp ties where the exact binary expansion and the shortest repr
    round to DIFFERENT decimals under HALF_UP."""
    import decimal

    ctx = decimal.Context(prec=50)
    q12 = decimal.Decimal(1).scaleb(-12)

    def dec(x):  # mirror of util.lloyd_local's quantizer
        return decimal.Decimal(repr(x)).quantize(
            q12, rounding=decimal.ROUND_HALF_UP, context=ctx
        )

    vals = [5e-13, 2.5e-12, 4.5e-12, 7.5e-12, 8.5e-12, 1.25, -2.5e-12, 3.141592653589793]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.col("x"), F.col("x").cast("decimal(28,12)").alias("d")
    )
    for r in df.collect():
        assert dec(r["x"]) == decimal.Decimal(r["d"]).quantize(q12), r["x"]


def test_kmeans_local_equals_distributed(spark, monkeypatch):
    df = _vectors(spark)
    local = cluster.kmeans(df, k=4, n_iter=2)
    got_local = _rows(local)
    _assert_local_relation(cluster.kmeans_centroids(df, k=4, n_iter=2))
    monkeypatch.setattr(cluster, "_LLOYD_LOCAL_MAX_ROWS", -1)
    dist = cluster.kmeans(df, k=4, n_iter=2)
    got_dist = _rows(dist)
    assert got_local == got_dist


def test_pagerank_local_equals_distributed(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(i % 7, (i * 3 + 1) % 7, (i % 4) + 1) for i in range(30)]
        + [(7, 0, 2)],  # node 8 (id 7) never a dst from others; 0 high in-degree
        "src bigint, dst bigint, w bigint",
    )
    for redistribute in (False, True):
        local = graph.pagerank_fixed_point(edges, n_iter=3, redistribute_dangling=redistribute)
        _assert_local_relation(local)
        got_local = _rows(local)
        monkeypatch.setattr(graph, "_PAGERANK_LOCAL_MAX_EDGES", -1)
        dist = graph.pagerank_fixed_point(edges, n_iter=3, redistribute_dangling=redistribute)
        got_dist = _rows(dist)
        monkeypatch.setattr(graph, "_PAGERANK_LOCAL_MAX_EDGES", 1_000_000)
        assert got_local == got_dist, f"redistribute={redistribute}"


def test_pagerank_zero_weight_source_matches_distributed(spark, monkeypatch):
    """A source whose weights sum to 0 divides by zero: the distributed
    chain yields NULL q -> contribution coalesced to 0. The local replay
    must not crash and must produce the identical ranks."""
    edges = spark.createDataFrame(
        [(0, 1, 3), (1, 2, 2), (2, 0, 1), (3, 1, 0)],  # node 3: out_w == 0
        "src bigint, dst bigint, w bigint",
    )
    local = graph.pagerank_fixed_point(edges, n_iter=3)
    _assert_local_relation(local)
    got_local = _rows(local)
    monkeypatch.setattr(graph, "_PAGERANK_LOCAL_MAX_EDGES", -1)
    dist = graph.pagerank_fixed_point(edges, n_iter=3)
    assert got_local == _rows(dist)


def test_minhash_signatures_local_equals_distributed(spark, monkeypatch, catalog):
    """The driver-local signature tier (tagged small Catalog scan ->
    numpy kernel on the driver) must be bit-identical to the distributed
    Arrow path over the same scan — and both to the pure-JVM expression
    path, which is the semantics of record."""
    from elevate_data_pipeline_spark.operators import dedup

    docs = catalog.table("documents")
    local = dedup._signature_frame(docs, "text", "doc_id", "arrow")
    _assert_local_relation(local)
    got_local = _rows(local)
    monkeypatch.setattr(dedup, "_MINHASH_LOCAL_MAX_ROWS", -1)
    dist = dedup._signature_frame(docs, "text", "doc_id", "arrow")
    assert got_local == _rows(dist)
    jvm = dedup._signature_frame(docs, "text", "doc_id", "expr")
    assert got_local == _rows(jvm)


def test_pretraining_corpus_local_equals_distributed(spark, monkeypatch, catalog):
    """The driver-local pipeline replay (block dedup -> gates -> LSH
    components -> survivor rank) must equal the distributed chain
    bit-for-bit — including the IEEE-double quality scores."""
    from elevate_data_pipeline_spark import pipelines

    docs = catalog.table("documents")
    local = pipelines.pretraining_corpus(docs)
    _assert_local_relation(local)
    got_local = _rows(local)
    assert len(got_local) > 0
    monkeypatch.setattr(pipelines, "_PIPELINE_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(pipelines.pretraining_corpus(docs))


def test_curate_corpus_local_equals_distributed(spark, monkeypatch, catalog):
    from elevate_data_pipeline_spark import pipelines

    docs = catalog.table("documents")
    local = pipelines.curate_corpus(docs)
    _assert_local_relation(local)
    got_local = _rows(local)
    assert len(got_local) > 0
    monkeypatch.setattr(pipelines, "_PIPELINE_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(pipelines.curate_corpus(docs))


def test_substring_spans_local_equals_distributed(spark, monkeypatch, catalog):
    from elevate_data_pipeline_spark.operators import dedup

    docs = catalog.table("documents")
    local = dedup.substring_dup_spans(docs)
    _assert_local_relation(local)
    got_local = _rows(local)
    assert len(got_local) > 0
    monkeypatch.setattr(dedup, "_SPANS_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(dedup.substring_dup_spans(docs))


def test_bloom_decontaminate_local_equals_distributed(spark, monkeypatch, catalog):
    from elevate_data_pipeline_spark.operators import decontam

    docs = catalog.table("documents")
    local = decontam.bloom_decontaminate(docs)
    _assert_local_relation(local)
    got_local = _rows(local)
    # non-default depth: the local tier must honor depth too (it once
    # iterated all CMS_SALTS regardless, diverging from the distributed
    # tier's CMS_SALTS[:depth] — advisor finding)
    got_local_d2 = _rows(decontam.bloom_decontaminate(docs, depth=2))
    assert len(got_local) > 0
    monkeypatch.setattr(decontam, "_BLOOM_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(decontam.bloom_decontaminate(docs))
    assert got_local_d2 == _rows(decontam.bloom_decontaminate(docs, depth=2))


def test_snm_local_equals_distributed(spark, monkeypatch, catalog):
    from elevate_data_pipeline_spark.operators import dedup

    docs = catalog.table("documents")
    local = dedup.sorted_neighborhood_pairs(docs, window=5, n=3, threshold=0.5)
    _assert_local_relation(local)
    got_local = _rows(local)
    assert len(got_local) > 0
    monkeypatch.setattr(dedup, "_SNM_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(
        dedup.sorted_neighborhood_pairs(docs, window=5, n=3, threshold=0.5)
    )


def test_suffix_array_local_equals_distributed(spark, monkeypatch, catalog):
    """The numpy doubling replay must equal the distributed prefix-
    doubling chain rank-for-rank."""
    from elevate_data_pipeline_spark.operators import suffix

    docs = catalog.table("documents")
    local = suffix.suffix_array(docs)
    _assert_local_relation(local)
    got_local = _rows(local)
    assert len(got_local) > 0
    monkeypatch.setattr(suffix, "_SA_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(suffix.suffix_array(docs))


def test_pq_index_local_equals_distributed(spark, monkeypatch):
    df = _vectors(spark, n=48, dim=8)
    cents_l, codes_l = similarity.pq_index(df, m=2, k=3, n_iter=1, dim=8)
    _assert_local_relation(cents_l)
    _assert_local_relation(codes_l)
    got_cents_l = _rows(cents_l, ["_s", "_cl", "_c"])
    got_codes_l = _rows(codes_l, ["_id", "_s", "_code"])
    monkeypatch.setattr(similarity, "_PQ_LOCAL_MAX_ROWS", -1)
    similarity._PQ_CACHE.clear()
    cents_d, codes_d = similarity.pq_index(df, m=2, k=3, n_iter=1, dim=8)
    assert got_cents_l == _rows(cents_d, ["_s", "_cl", "_c"])
    assert got_codes_l == _rows(codes_d, ["_id", "_s", "_code"])
    similarity._PQ_CACHE.clear()


def test_suffix_array_local_ties_break_on_doc_id(spark, monkeypatch, tmp_path):
    """Suffixes equal to ``depth`` tokens rank by (doc_id, off), so the
    local tier must not depend on the row order of the scan. Rewrite the
    test data's documents in shuffled order and check the tier against
    its forced-off distributed chain and the repeated-phrases oracle."""
    import random

    import duckdb
    import pyarrow.parquet as pq

    from elevate_data_pipeline_spark.operators import suffix
    from elevate_data_pipeline_spark.queries import ORACLES, QUERIES
    from elevate_data_pipeline_spark.sources.catalog import Catalog
    from oracle_util import compare

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet")
    order = list(range(tbl.num_rows))
    random.Random(7).shuffle(order)
    path = tmp_path / "documents.parquet"
    pq.write_table(tbl.take(order), path)
    docs = Catalog(spark, str(tmp_path)).table("documents")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")

    local = suffix.suffix_array(docs)
    _assert_local_relation(local)
    got_local = _rows(local)
    compare(
        QUERIES["dedup_repeated_phrases"](spark, str(tmp_path)),
        con,
        ORACLES["dedup_repeated_phrases"],
    )
    monkeypatch.setattr(suffix, "_SA_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(suffix.suffix_array(docs))


def test_tier_queries_collect_without_jobs(spark):
    """A gated tier's result is a LocalRelation: collecting it runs no
    Spark job."""
    from elevate_data_pipeline_spark.queries import QUERIES

    for name in ("decontam_bloom", "curation_pipeline"):
        df = QUERIES[name](spark, SF_DIR)
        with _job_ids(spark) as ids:
            rows = df.collect()
        assert rows, name
        assert ids == [], f"{name}: collect ran jobs {ids}"


def test_dedup_canonical_docs_build_jobs(spark):
    """Building dedup_canonical_docs runs only the connected-components
    size gate and the jobs of its MinHash/LSH pair plan — no eager
    checkpoint of the cluster members."""
    from elevate_data_pipeline_spark.queries import QUERIES

    with _job_ids(spark) as ids:
        df = QUERIES["dedup_canonical_docs"](spark, SF_DIR)
    assert len(ids) <= 4, f"build ran {len(ids)} jobs: {ids}"
    assert df.count() > 0


# Functions allowed to call createDataFrame in operators/ and pipelines.py:
# the helper itself, and the suffix-array tier, which hands Spark a pandas
# frame (converted through Arrow to a LocalRelation as well).
_CREATE_DATAFRAME_CALLERS = {
    ("operators/util.py", "local_frame"),
    ("operators/suffix.py", "_suffix_array_local"),
}


def test_tier_handbacks_go_through_local_frame():
    """Every driver-local result in operators/ and pipelines.py must be
    built by util.local_frame: createDataFrame over a Python list gives a
    LogicalRDD that costs a Spark job on every read. Fails on a new
    createDataFrame call outside the listed functions, and on a listed
    function that no longer calls it."""
    import ast
    import pathlib

    import elevate_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    found = set()
    for path in sorted((root / "operators").glob("*.py")) + [root / "pipelines.py"]:
        rel = path.relative_to(root).as_posix()

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                found.add((rel, func))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(ast.parse(path.read_text()), None)
    assert found == _CREATE_DATAFRAME_CALLERS, (
        f"createDataFrame outside local_frame: "
        f"{sorted(found - _CREATE_DATAFRAME_CALLERS)}; "
        f"stale: {sorted(_CREATE_DATAFRAME_CALLERS - found)}"
    )
