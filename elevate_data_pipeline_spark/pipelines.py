"""End-to-end corpus curation: the operator families composed the way a
training-data build actually runs them.

language gate → quality gate → near-dup clustering → canonical-survivor
selection → token accounting. Each stage is one of the already-tested
operators (curation.quality_filter, dedup.minhash_lsh_pairs,
cluster.label_components); this module only sequences them, so the
composed plan inherits their scale properties: the gates are scan-level
filters (pushed down), pair generation shuffles on band keys over the
ALREADY-FILTERED corpus (ordering the gates before dedup is the big
cost lever — quality typically drops 30-50% of a crawl before the
quadratic-ish stage), and the final label join broadcasts the component
map. The reference has no multi-stage data-prep pipeline (SURVEY.md §0
— it's a report ETL); this is north-star scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.text import STOPWORDS, token_count_ws
from .operators import cluster, curation, dedup
from .operators.util import local_frame

# Test hook, same contract as operators.rank.PIN_PARTITIONS: plan-shape
# tests flip this off to inspect the pre-checkpoint plan (localCheckpoint
# truncates lineage, hiding the scans the pushdown pins assert on).
# Production paths never touch it.
PIN_STAGES = True


def _pin_stage(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True) if PIN_STAGES else df


# Gate for the driver-local pipeline tier (same pattern as
# dedup._MINHASH_LOCAL_MAX_ROWS): a tagged Catalog scan at or under this
# many rows replays the ENTIRE multi-stage pipeline on the driver in
# plain Python — zero shuffles, zero eager checkpoints, zero Python
# workers, which turns a ~12 s cold multi-job build into one in-plan
# LocalRelation (operators.util.local_frame). Every stage is an exact
# bit-for-bit replay of the distributed operator (integer hashing; fixed-order IEEE-double quality
# arithmetic), pinned by forced-off equality tests in
# tests/test_local_vs_distributed.py. Larger or transformed inputs take
# the distributed chain unchanged — that is the 100 TB path.
_PIPELINE_LOCAL_MAX_ROWS = 100_000


def _quality_local(text: str) -> float:
    """Exact replay of functions.text.quality_score: same fixed-order
    IEEE-double arithmetic (Python floats and JVM doubles are both
    binary64 round-to-nearest-even, so identical op order => identical
    bits). 0/0 divisions mirror Java semantics (NaN, which fails any
    >= comparison) instead of raising."""
    toks = text.split(" ")
    n = float(len(toks))
    chars = float(len(text))
    alpha = float(sum(1 for c in text if "A" <= c <= "Z" or "a" <= c <= "z"))
    hits = float(sum(1 for w in toks if w in STOPWORDS))
    if chars == 0.0:
        return float("nan")  # alpha_ratio = 0/0 -> NaN poisons the sum
    avg_word_len = (chars - (n - 1.0)) / n
    return (
        0.25 * min(n / 100.0, 1.0)
        + 0.25 * (alpha / chars)
        + 0.25 * max(0.0, 1.0 - abs(avg_word_len - 5.0) / 5.0)
        + 0.25 * min(hits / n * 5.0, 1.0)
    )


def _block_dedup_local(
    ids: list, texts: list, block_words: int, min_docs: int
) -> dict:
    """Exact replay of dedup.block_dedup's cleaned_text (word-block
    variant): non-overlapping ``block_words``-word blocks; a block seen
    in >= ``min_docs`` DISTINCT docs is boilerplate, stripped everywhere;
    survivors rejoin with single spaces in original order."""
    blocks_per_doc: list[list[str]] = []
    docs_per_blk: dict[str, set] = {}
    for did, t in zip(ids, texts):
        ws = t.split(" ")
        nb = -(-len(ws) // block_words)
        blks = [
            " ".join(ws[i * block_words : (i + 1) * block_words])
            for i in range(nb)
        ]
        blocks_per_doc.append(blks)
        for b in blks:
            docs_per_blk.setdefault(b, set()).add(did)
    boiler = {b for b, s in docs_per_blk.items() if len(s) >= min_docs}
    return {
        did: " ".join(b for b in blks if b not in boiler)
        for did, blks in zip(ids, blocks_per_doc)
    }


def _lsh_components_local(gated: list, est_threshold: float) -> dict:
    """Min-id connected components over minhash/LSH candidate edges for
    gated (doc_id, lang, quality, text) rows — exact replay of
    dedup.minhash_lsh_pairs(est_threshold) -> cluster.label_components:
    signatures via the shared numpy kernel, band buckets by tuple key
    (equivalent to the distributed '-'-joined string key: fixed arity,
    non-negative components), edges where signature agreement / N_HASHES
    >= est_threshold, then union-find labeled with each component's min
    id."""
    import numpy as np

    sigs = dedup._minhash_kernel([g[3] for g in gated])
    buckets: dict[tuple, list[int]] = {}
    for idx in range(len(gated)):
        for b in range(dedup.N_BANDS):
            key = (b, *sigs[idx, b * dedup.ROWS_PER_BAND : (b + 1) * dedup.ROWS_PER_BAND].tolist())
            buckets.setdefault(key, []).append(idx)
    parent = {g[0]: g[0] for g in gated}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in buckets.values():
        for i in range(1, len(members)):
            for j in range(i):
                a, b = members[j], members[i]
                est = float(np.count_nonzero(sigs[a] == sigs[b])) / float(
                    dedup.N_HASHES
                )
                if est >= est_threshold:
                    ra, rb = find(gated[a][0]), find(gated[b][0])
                    if ra != rb:
                        # union by min id keeps find() returning the label
                        lo, hi = (ra, rb) if ra < rb else (rb, ra)
                        parent[hi] = lo
    return {did: find(did) for did in parent}


def curate_corpus(
    docs: DataFrame,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.5,
    est_threshold: float = 0.25,
) -> DataFrame:
    """Curate a documents frame down to unique, in-language,
    above-quality docs.

    Returns (doc_id, lang, quality, n_tokens) for every surviving doc:
    the minimum-id member of each near-dup cluster (isolated docs
    survive as their own cluster). Deterministic end to end — every
    stage is hash- or id-based, no sampling randomness.
    """
    from .operators.util import collect_small_columns

    local = collect_small_columns(
        docs, ["doc_id", "text", "lang"], _PIPELINE_LOCAL_MAX_ROWS
    )
    if local is not None:
        ids, texts, doc_langs = local
        gated = []
        for did, t, lg in zip(ids, texts, doc_langs):
            if lg not in langs:
                continue
            q = _quality_local(t)
            if not q >= min_quality:  # NaN-safe: mirrors filter(q >= min)
                continue
            gated.append((did, lg, q, t))
        comp = _lsh_components_local(gated, est_threshold)
        rows = [
            (did, lg, q, len(t.split(" ")))
            for did, lg, q, t in gated
            if comp[did] == did
        ]
        return local_frame(
            docs.sparkSession,
            rows,
            "doc_id long, lang string, quality double, n_tokens long",
        )
    f = docs.filter(F.col("lang").isin(*langs))
    f = curation.quality_filter(f, min_quality=min_quality)
    # Same stage boundary as pretraining_corpus: the gated slice feeds
    # the pair, labeling, and survivor subtrees — pin one
    # materialization instead of re-running the gates per consumer.
    f = _pin_stage(f)
    pairs = dedup.minhash_lsh_pairs(f, est_threshold=est_threshold).select(
        "id_a", "id_b"
    )
    labeled = cluster.label_components(f, "doc_id", pairs, src="id_a", dst="id_b")
    return labeled.filter(F.col("component") == F.col("doc_id")).select(
        "doc_id",
        "lang",
        "quality",
        token_count_ws("text").cast("long").alias("n_tokens"),
    )


def pretraining_corpus(
    docs: DataFrame,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.5,
    est_threshold: float = 0.25,
    block_words: int = 10,
    min_docs: int = 2,
    docs_per_shard: int = 256,
) -> DataFrame:
    """The full pretraining-data build, every stage an already-tested
    operator:

    1. corpus-level boilerplate removal (``dedup.block_dedup`` — C4-style
       repeated-segment strip, so downstream stages see CLEANED text);
    2. language + quality gates on the cleaned text;
    3. near-dup canonicalization (minhash/LSH pairs → connected
       components → keep each cluster's min id);
    4. deterministic training-order shuffle + shard assignment
       (engine-portable Knuth hash ranked through the scale-safe global
       row number).

    Returns (doc_id, lang, quality, n_tokens, pos, shard). Stage order
    is the cost story at 100 TB: boilerplate removal and the gates run
    BEFORE the pair stage, so the band-key shuffle sees only the kept
    in-language slice; the shuffle/shard rank runs last over survivors
    only. Deterministic end to end — no sampling randomness anywhere.
    """
    from .operators.rank import global_row_number
    from .operators.util import collect_small_columns

    local = collect_small_columns(
        docs, ["doc_id", "text", "lang"], _PIPELINE_LOCAL_MAX_ROWS
    )
    if local is not None:
        ids, texts, doc_langs = local
        cleaned_map = _block_dedup_local(ids, texts, block_words, min_docs)
        gated = []
        for did, lg in zip(ids, doc_langs):
            t = cleaned_map[did]
            if lg not in langs or len(t) == 0:
                continue
            q = _quality_local(t)
            if not q >= min_quality:  # NaN-safe: mirrors filter(q >= min)
                continue
            gated.append((did, lg, q, t))
        comp = _lsh_components_local(gated, est_threshold)
        surv = [
            (did, lg, q, len(t.split(" ")))
            for did, lg, q, t in gated
            if comp[did] == did
        ]
        # shuffle/shard rank: Knuth-hash order with doc_id tiebreak —
        # (id mod 2^32) * K mod 2^32, exact in unbounded Python ints
        # (equals curation._hash32's overflow-safe split-multiply)
        surv.sort(
            key=lambda r: (
                r[0] % curation._RING * curation._KNUTH % curation._RING,
                r[0],
            )
        )
        rows = [
            (did, lg, q, nt, pos + 1, pos // docs_per_shard)
            for pos, (did, lg, q, nt) in enumerate(surv)
        ]
        return local_frame(
            docs.sparkSession,
            rows,
            "doc_id long, lang string, quality double, n_tokens long,"
            " pos long, shard long",
        )

    cleaned = dedup.block_dedup(
        docs, block_words=block_words, min_docs=min_docs
    ).select("doc_id", F.col("cleaned_text").alias("text"))
    base = cleaned.join(docs.select("doc_id", "lang"), "doc_id")
    f = base.filter(F.col("lang").isin(*langs) & (F.length("text") > 0))
    f = curation.quality_filter(f, min_quality=min_quality)
    # Stage boundary: the gated slice feeds THREE downstream subtrees
    # (minhash pair generation, component labeling, survivor projection).
    # Left as lineage, each one re-runs boilerplate strip + gates — the
    # exchanges differ per consumer (different pruned columns), so
    # ReusedExchange cannot merge them. Pinning one materialization here
    # is exactly what a production 100 TB build does between the cheap
    # filter phase and the quadratic-ish dedup phase (write the gated
    # corpus, then dedup it); measured 5.8s -> ~3s at sf0.1.
    f = _pin_stage(f)
    pairs = dedup.minhash_lsh_pairs(f, est_threshold=est_threshold).select(
        "id_a", "id_b"
    )
    labeled = cluster.label_components(f, "doc_id", pairs, src="id_a", dst="id_b")
    surv = labeled.filter(F.col("component") == F.col("doc_id")).select(
        "doc_id",
        "lang",
        "quality",
        token_count_ws("text").cast("long").alias("n_tokens"),
    )
    ranked = global_row_number(
        surv.withColumn("_h", curation._hash32("doc_id")), ["_h", "doc_id"],
        out_col="pos",
    )
    return ranked.select(
        "doc_id",
        "lang",
        "quality",
        "n_tokens",
        F.col("pos").cast("long").alias("pos"),
        F.expr(f"(pos - 1) div {docs_per_shard}").cast("long").alias("shard"),
    )
