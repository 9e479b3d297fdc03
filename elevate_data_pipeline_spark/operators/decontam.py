"""Benchmark decontamination: n-gram overlap against a held-out set.

Before training, every serious LLM corpus is checked for contamination —
documents that contain verbatim n-grams from evaluation benchmarks. The
standard method (GPT-3 appendix C, PaLM §7) flags a training document by
the fraction of its word n-grams that appear anywhere in the benchmark
set. The reference has no comparable operator (SURVEY.md §2).

Shape at 100 TB: the benchmark gram set is tiny relative to the corpus
(benchmarks are MBs, corpora are TBs), so the join broadcasts; corpus
grams never materialize beyond the exploded stream feeding a partial
aggregate. If the benchmark side ever outgrows broadcast, the same plan
degrades gracefully to a shuffle join on the gram — hash the gram to a
64-bit key (``xxhash64``) to cut shuffle width; the count semantics are
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _distinct_word_ngrams(
    df: DataFrame, n: int, id_cols: list[str], text_col: str
) -> DataFrame:
    """Explode each row into its DISTINCT word n-grams (space-joined).

    Rows with fewer than ``n`` words produce no grams and drop out —
    ``sequence(1, k)`` would generate a DESCENDING range for k < 1, so
    short rows are filtered before the sequence is built.
    """
    ws = F.split(F.col(text_col), " ")
    grams = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(split({text_col}, ' ')) - {n - 1}), "
            f"i -> concat_ws(' ', slice(split({text_col}, ' '), i, {n})))"
        )
    )
    return (
        df.filter(F.size(ws) >= n)
        .select(*id_cols, F.explode(grams).alias("gram"))
    )


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document contamination against ``benchmark``.

    Returns ``(id_col, n_grams, n_contaminated, contamination_frac)``
    where ``n_grams`` counts the document's distinct word n-grams and
    ``n_contaminated`` how many of them occur in ANY benchmark row.
    Documents with fewer than ``n`` words emit no row.
    """
    doc_grams = _distinct_word_ngrams(docs, n, [id_col], text_col)
    bench_grams = (
        _distinct_word_ngrams(benchmark, n, [], text_col)
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = doc_grams.join(F.broadcast(bench_grams), "gram", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("_hit").alias("n_contaminated"),
        (F.count("_hit").cast("double") / F.count(F.lit(1))).alias(
            "contamination_frac"
        ),
    )


# Gate for the driver-local Bloom-decontamination tier (pattern of
# dedup._SPANS_LOCAL_MAX_ROWS): gram extraction, polyhash, bloom bit
# math and the exact-set compare are all integer replays over Python
# sets/dicts. The gate sits AT the measured crossover because the tie
# there is proven noise in BOTH directions (docs/PERF_NOTES_r8.md):
# on the synthetic crossover corpus distributed edges local by 4% at
# 5k docs (4.21 vs 4.40 s, docs/TIER_CROSSOVER.md), on the REAL
# testdata at the same 5k local edges distributed by 5% (2.96 vs
# 3.11 s, 5-run solo medians), and in full-sweep context the local
# tier is clearly cheaper (3.3 vs 4.7-5.3 s — fewer stages, less GC
# exposure). Above the gate the distributed chain wins decisively
# (2.2x at 20k, 2.8x at 50k).
_BLOOM_LOCAL_MAX_ROWS = 5_000


def _hll_hash_py(v: int) -> int:
    """Integer replay of sketch._hll_hash_col (same constants, same
    op order; exact by unbounded Python ints)."""
    ring, half, k1, k2 = 4_294_967_296, 65_536, 2_654_435_761, 2_246_822_519
    v %= ring

    def splitmul(x: int, k: int) -> int:
        return (x // half * k % half * half + x % half * k) % ring

    r1 = splitmul(v, k1)
    x1 = r1 ^ (r1 // half)
    r2 = splitmul(x1, k2)
    return r2 ^ (r2 // 8192)


def bloom_decontaminate(
    docs: DataFrame,
    bench_source: str = "src0",
    n: int = 5,
    m_bits: int = 262_144,
    depth: int = 4,
) -> DataFrame:
    """Bloom-filter decontamination with exact FP accounting: benchmark
    docs (``source == bench_source``) compress into an m-bit filter;
    every other doc's distinct word n-grams probe it by ``depth``
    xor-salted portable hashes of the gram's Rabin-Karp fingerprint.
    Returns per eval doc (doc_id, n_grams, n_bloom, n_exact, bloom_fp)
    — Bloom hits, exact hits, and their difference (the filter's actual
    false positives, an exactly-gated output because the whole pipeline
    is integer arithmetic).

    Driver-local tier for gate-sized tagged scans (bit-identical —
    forced-off equality test in tests/test_local_vs_distributed.py);
    distributed chain otherwise: gram explode -> distinct -> bit
    explode/distinct build (at most m_bits rows), broadcast bit-set
    semi-probe, one per-doc aggregate.
    """
    from ..functions.text import POLY_BASE, POLY_MOD, polyhash
    from . import sketch
    from .sketch import CMS_SALTS
    from .util import collect_small_columns, local_frame, spread

    local = collect_small_columns(
        docs, ["doc_id", "text", "source"], _BLOOM_LOCAL_MAX_ROWS
    )
    if local is not None:
        ids, texts, sources = local

        def grams(t: str) -> list:
            ws = t.split(" ")
            seen, out = set(), []
            for i in range(len(ws) - n + 1):
                g = " ".join(ws[i : i + n])
                if g not in seen:
                    seen.add(g)
                    out.append(g)
            return out

        def ph(g: str) -> int:
            a = 0
            for ch in g:
                a = (a * POLY_BASE + ord(ch)) % POLY_MOD
            return a

        bench_grams: set = set()
        for t, s in zip(texts, sources):
            if s == bench_source:
                bench_grams.update(grams(t))
        bits: set = set()
        pos_cache: dict[str, tuple] = {}

        def positions(g: str) -> tuple:
            p = pos_cache.get(g)
            if p is None:
                h = ph(g)
                p = tuple(
                    {_hll_hash_py(h ^ salt) % m_bits for salt in CMS_SALTS[:depth]}
                )
                pos_cache[g] = p
            return p

        for g in bench_grams:
            bits.update(positions(g))
        rows = []
        for did, t, s in zip(ids, texts, sources):
            if s == bench_source:
                continue
            gs = grams(t)
            if not gs:
                continue
            n_bloom = sum(1 for g in gs if all(b in bits for b in positions(g)))
            n_exact = sum(1 for g in gs if g in bench_grams)
            rows.append((did, len(gs), n_bloom, n_exact, n_bloom - n_exact))
        return local_frame(
            docs.sparkSession,
            rows,
            "doc_id long, n_grams bigint, n_bloom bigint, n_exact bigint,"
            " bloom_fp bigint",
        )

    docs = spread(docs)
    bench = docs.filter(F.col("source") == bench_source)
    eval_docs = docs.filter(F.col("source") != bench_source)
    # The benchmark gram set feeds BOTH the filter build and the exact
    # broadcast semi-probe; materialize it once (it is benchmark-sized —
    # MBs at any corpus scale — so the checkpoint is a constant cost
    # that halves the benchmark-side scan work).
    bench_grams = (
        _distinct_word_ngrams(bench, n, [], "text")
        .distinct()
        .localCheckpoint(eager=True)
    )
    doc_grams = _distinct_word_ngrams(eval_docs, n, ["doc_id"], "text")
    bits = sketch.bloom_build(
        bench_grams.select(polyhash("gram").alias("ph")),
        "ph", m_bits=m_bits, depth=depth,
    )
    # One fused probe stage: the filter broadcasts as a single-row
    # word-bitmap and every gram's all-bits-set test evaluates INLINE
    # (forall over its <= depth positions) in the same whole-stage-
    # codegen pass as the exact broadcast semi-probe — no per-gram
    # explode/aggregate, no hits x exact re-join. The only corpus-scale
    # exchange left is the final per-doc aggregate (and partial
    # aggregation collapses that map-side). (Feeding RAW positions to
    # the word OR-fold to skip bloom_build's bit-level distinct was
    # measured 3x SLOWER here: the distinct collapses the build side to
    # <= m_bits rows map-side, which is what keeps the single-row
    # map_from_entries feeder cheap.)
    bitmap = sketch.bloom_bitmap(bits)
    marked = (
        doc_grams.withColumn(
            "_bits",
            sketch._bloom_positions(polyhash("gram"), m_bits, depth),
        )
        .crossJoin(F.broadcast(bitmap))
        .withColumn("bloom_hit", sketch.bloom_hit_expr())
        .join(
            F.broadcast(bench_grams.withColumn("_e", F.lit(1))),
            "gram", "left",
        )
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom"),
        F.count("_e").alias("n_exact"),
        (
            F.sum(F.col("bloom_hit").cast("long")) - F.count("_e")
        ).alias("bloom_fp"),
    )
