"""Distributed suffix-array construction by prefix doubling.

Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better") build a SUFFIX ARRAY to find every repeated substring in the
training corpus. A suffix array is inherently sequential to build with
the classic algorithms (DC3, SA-IS); the distributed formulation is
prefix doubling (Manber-Myers 1990): rank every suffix by its first
token, then repeatedly re-rank by the pair (rank[i], rank[i + 2^j]) —
after ceil(log2(depth)) rounds every suffix is ordered by its first
``depth`` tokens. Each round is a distinct + range-sort + two
equi-joins, i.e. exactly the sort-shuffle primitives a cluster is good
at, touching fixed-width integer pairs instead of materialized
suffixes — the standard external/parallel SA construction (see also
Flick & Aluru, SC'15).

This module builds WORD-level suffix arrays (suffixes start at token
boundaries and compare token-by-token): that is the granularity
substring dedup actually uses, and it keeps positions ~an order of
magnitude sparser than character suffixes. Comparison depth is bounded
(``depth`` tokens, default 8) with (doc, offset) as the final tiebreak,
so the order is total and engine-portable: it equals ORDER BY the
token-slice list, which a SQL oracle can replay directly.

Every rank assignment uses the scale-safe distinct -> global_row_number
-> join-back pattern (operators/rank) — no global window, no driver
state; ranks are dense integers so each doubling round shuffles only
(doc, off, r, r2) int rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rank import global_row_number


def _dense_rank(df: DataFrame, key_cols: list, out: str) -> DataFrame:
    """Dense rank of ``key_cols`` tuples in ONE range shuffle — no
    global window, no distinct-plus-join-back round trip.

    Rows range-partition and sort by the keys; a group-start flag marks
    within-partition key changes; per-partition (group count, first key,
    last key) stats feed a bounded 32-row offsets window that (a) clears
    the flag of a partition's first row when its key continues the
    previous partition's last group and (b) yields each partition's
    dense-rank offset. rank = offset + running flag count. Ranks start
    at 1 and follow the keys' sort order — the contract prefix doubling
    needs, at one wide exchange per round instead of three."""
    from pyspark.sql.window import Window

    n_part = 32
    struct_key = F.struct(*[F.col(c) for c in key_cols])
    part = (
        df.repartitionByRange(n_part, *key_cols)
        .sortWithinPartitions(*key_cols)
        .withColumn("_pid", F.spark_partition_id())
    ).localCheckpoint(eager=False)  # reused: stats subtree + ranked rows

    w = Window.partitionBy("_pid").orderBy(*key_cols)
    prev = F.lag(struct_key).over(w)
    flagged = part.withColumn(
        "_new", (prev.isNull() | (struct_key != prev)).cast("long")
    )
    # one pid-keyed aggregate (<= n_part rows) — also the bounded feeder
    # the plan audit verifies under the SinglePartition exchange below
    stats = flagged.groupBy("_pid").agg(
        F.min(struct_key).alias("_first"),
        F.max(struct_key).alias("_last"),
        F.sum("_new").alias("_ng"),
    )
    # bounded window: one row per partition (<= 32 rows)
    wo = Window.orderBy("_pid")
    woff = wo.rowsBetween(Window.unboundedPreceding, -1)
    adj = (
        stats.withColumn(
            "_cont",  # partition continues the previous partition's group
            (F.lag("_last").over(wo) == F.col("_first")).cast("long"),
        )
        .na.fill({"_cont": 0})
        .withColumn("_ng_adj", F.col("_ng") - F.col("_cont"))
        .withColumn(
            "_goff", F.coalesce(F.sum("_ng_adj").over(woff), F.lit(0))
        )
        .select("_pid", "_cont", "_goff")
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = (
        flagged.join(F.broadcast(adj), "_pid")
        .withColumn("_run", F.sum("_new").over(wrun))
        # the first within-partition group may continue the previous
        # partition's last group: its rows then belong to the offset's
        # group, i.e. the running count starts one group early
        .withColumn(out, F.col("_goff") + F.col("_run") - F.col("_cont"))
    )
    return ranked.drop("_new", "_run", "_cont", "_goff", "_pid")


# Gate for the driver-local tier (pattern of dedup._MINHASH_LOCAL_MAX_ROWS):
# the replay is numpy lexsort-based doubling, linear passes over flat
# arrays, so even the gate maximum (~100k docs * ~100 tokens) stays
# in-core; the distributed chain is the same math at any scale.
_SA_LOCAL_MAX_ROWS = 100_000


def _suffix_array_local(spark, local, depth: int, id_col: str) -> DataFrame:
    """Driver-local replay of :func:`suffix_array` for gate-sized tagged
    scans — the same prefix-doubling recurrence as numpy ops (dictionary
    rank via np.unique, per-round lexsort re-rank, 0 for suffix-ended),
    bit-identical to the distributed chain (forced-off equality test in
    tests/test_local_vs_distributed.py)."""
    import numpy as np

    ids, texts = local
    docs, offs, words = [], [], []
    for i, t in enumerate(texts):
        ws = t.split(" ")
        docs.extend([i] * len(ws))
        offs.extend(range(len(ws)))
        words.extend(ws)
    D = np.asarray(docs, dtype=np.int64)
    O = np.asarray(offs, dtype=np.int64)
    # dictionary rank: np.unique sorts byte-wise like the engines' binary
    # collation (corpus is ASCII; matches Spark/DuckDB string order)
    _, r = np.unique(np.asarray(words, dtype=object), return_inverse=True)
    r = r.astype(np.int64) + 1
    n = len(r)
    # flat index of (doc, off + w): positions are doc-contiguous in input
    # order, so idx + w is the same doc iff off + w < doc length
    lens = np.bincount(D, minlength=len(ids)) if n else np.zeros(len(ids), int)
    doc_len = lens[D] if n else np.empty(0, dtype=np.int64)
    width = 1
    while width < depth:
        r2 = np.zeros(n, dtype=np.int64)
        ok = O + width < doc_len
        idx = np.nonzero(ok)[0]
        r2[idx] = r[idx + width]
        order = np.lexsort((r2, r))
        key_r, key_r2 = r[order], r2[order]
        new = np.ones(n, dtype=np.int64)
        if n > 1:
            new[1:] = (key_r[1:] != key_r[:-1]) | (key_r2[1:] != key_r2[:-1])
        ranks_sorted = np.cumsum(new)
        nxt = np.empty(n, dtype=np.int64)
        nxt[order] = ranks_sorted
        r = nxt
        width *= 2
    # suffixes equal in their first depth tokens tie: break on
    # (doc_id, off) like the distributed chain and the oracle
    doc_ids = np.asarray(ids, dtype=np.int64)[D]
    final = np.lexsort((O, doc_ids, r))
    rank = np.empty(n, dtype=np.int64)
    rank[final] = np.arange(1, n + 1)
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "rank": rank,
            id_col: doc_ids,
            "off": O.astype(np.int32),
        }
    )
    return spark.createDataFrame(
        pdf, f"rank long, {id_col} long, off int"
    )


def suffix_array(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    depth: int = 8,
) -> DataFrame:
    """Word-level suffix array of a document corpus.

    Returns one row per (document, token offset): ``(rank, doc_id,
    off)`` where ``rank`` is the 1-based position of that suffix in the
    global lexicographic order of its first ``depth`` tokens (ties
    broken by ``(doc_id, off)``) — i.e. exactly
    ``row_number() OVER (ORDER BY token_slice, doc_id, off)``.

    Plan: tokenize -> initial per-token dense rank (the dictionary) ->
    ceil(log2(depth)) doubling rounds, each re-ranking by the
    (rank, rank-at-offset+width) pair with 0 standing in for
    "suffix ended" (sorts first, matching shorter-prefix-first list
    order) -> scale-safe global row number.
    """
    from .util import collect_small_columns

    local = collect_small_columns(df, [id_col, text_col], _SA_LOCAL_MAX_ROWS)
    if local is not None:
        return _suffix_array_local(df.sparkSession, local, depth, id_col)

    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_soff", "_w"),
    )
    cur = _dense_rank(toks, ["_w"], "_r").select("_doc", "_soff", "_r")
    width = 1
    while width < depth:
        nxt = cur.select(
            "_doc", (F.col("_soff") - width).alias("_soff"), F.col("_r").alias("_r2")
        )
        paired = cur.join(nxt, ["_doc", "_soff"], "left").na.fill({"_r2": 0})
        cur = _dense_rank(paired, ["_r", "_r2"], "_rn").select(
            "_doc", "_soff", F.col("_rn").alias("_r")
        )
        width *= 2
    ranked = global_row_number(cur, ["_r", "_doc", "_soff"], out_col="rank")
    return ranked.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("_doc").alias(id_col),
        F.col("_soff").cast("int").alias("off"),
    )


def repeated_phrases(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    depth: int = 8,
    min_words: int = 4,
) -> DataFrame:
    """Cross-document repeated word sequences via suffix-array adjacency.

    The suffix-array property Lee et al. exploit: every repeated
    substring appears as NEIGHBORING suffixes, so scanning rank-adjacent
    pairs (a self-join on rank+1 — one shuffle) finds all repeats
    without any quadratic candidate stage. For each adjacent pair from
    DIFFERENT documents whose suffixes share >= ``min_words`` leading
    tokens (capped at ``depth``), emits
    ``(rank, doc_a, off_a, doc_b, off_b, lcp_words, phrase)`` with the
    shared prefix re-read from the texts.
    """
    sa = suffix_array(df, text_col, id_col, depth)
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.split(F.col(text_col), " ").alias("_ws"),
    )
    slc = sa.join(toks, sa[id_col] == toks["_doc"]).select(
        "rank",
        id_col,
        "off",
        F.slice("_ws", F.col("off") + 1, depth).alias("_pre"),
    )
    nxt = slc.select(
        (F.col("rank") - 1).alias("rank"),
        F.col(id_col).alias("_doc_b"),
        F.col("off").alias("_off_b"),
        F.col("_pre").alias("_pre_b"),
    )
    # token-wise longest common prefix of the two depth-slices; zip_with
    # null-pads the shorter slice — coalesce those to mismatches
    lcp = F.aggregate(
        F.zip_with(
            "_pre",
            "_pre_b",
            lambda a, b: F.coalesce((a == b).cast("int"), F.lit(0)),
        ),
        F.struct(F.lit(1).alias("go"), F.lit(0).alias("n")),
        lambda acc, x: F.struct(
            (acc["go"] * x).alias("go"), (acc["n"] + acc["go"] * x).alias("n")
        ),
        lambda acc: acc["n"],
    )
    pairs = (
        slc.join(nxt, "rank")
        .filter(F.col(id_col) != F.col("_doc_b"))
        .withColumn("lcp_words", lcp)
        .filter(F.col("lcp_words") >= min_words)
    )
    return pairs.select(
        "rank",
        F.col(id_col).alias("doc_a"),
        F.col("off").alias("off_a"),
        F.col("_doc_b").alias("doc_b"),
        F.col("_off_b").alias("off_b"),
        F.col("lcp_words").cast("int").alias("lcp_words"),
        F.array_join(F.slice("_pre", 1, F.col("lcp_words")), " ").alias("phrase"),
    )
