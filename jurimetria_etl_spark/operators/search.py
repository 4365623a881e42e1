"""Full-text keyword search: inverted-index statistics + BM25 top-k —
the lexical counterpart of the embedding stack in
``operators/similarity.py`` (a training-data pipeline needs BOTH axes:
semantic near-dup / retrieval via vectors, and keyword retrieval /
quality forensics via terms).

Spark-first shape, zero UDFs:

- **Index** (``build_text_index``): tokenize (lowercase, non-alnum
  split) → explode → per-(term, doc) term frequency, per-doc length,
  per-term document frequency.  The postings frame is the 100-TB
  artifact: built once at ingest, partitioned/bucketed BY TERM so a
  query's postings join touches only its terms' buckets; doc lengths
  ride a slim (doc_id, dl) frame; (N, avgdl) is a one-row scalar frame.
- **Search** (``bm25_search``): queries tokenize the same way →
  broadcast-join the (tiny) query-term list against postings ON TERM →
  per-(query, doc) score aggregation → per-query top-k via a
  ``row_number`` window over the MATCHED frame only (docs sharing ≥1
  term — never the corpus).  Okapi BM25 with the Robertson idf
  ``ln(1 + (N − df + ½)/(df + ½))``; scores round to 1e-6 before
  ranking (ties broken by doc_id) so the ordering is reproducible
  across engines — the same determinization the cosine family uses.

At 100 TB: the only corpus-sized exchanges are the index build's
(term, doc) and (doc) aggregations — ingest-time, amortized over every
query.  A search shuffles candidate (query_id, doc_id, partial) rows
keyed by (query_id, doc_id), then windows per query_id; both are
match-sized.  Skewed stop-terms are the known hazard: ``max_df_ratio``
drops terms present in more than that fraction of documents from the
index (the classic stop-list-by-statistics), bounding any single
term's posting list.

Cited vs reference: no counterpart (the 566-LoC reference has no text
search); extends E3/E4 of SURVEY §2.12.  BM25 constants and idf form
are textbook (Robertson–Spärck Jones / Okapi), public knowledge.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jurimetria_etl_spark.session import local_frame

# Unicode letter/number classes, NOT [^a-z0-9]: the reference's corpus
# is Brazilian judicial Portuguese (jurimetria_pipeline.py:163-179 —
# "Ação de Indenização", accented class/subject names), and an ASCII
# class would treat every accented letter as a delimiter, shredding
# "indenização" into fragments and flooding the idf table with
# one-letter terms.  \p{L}/\p{N} are supported identically by Java
# regex (Spark) and RE2 (DuckDB), so the oracle recomputes the same
# tokens (pinned in tests/test_search.py).
_TOKEN_SPLIT = r"[^\p{L}\p{N}]+"


def _tokens(col: Column, fold_accents: bool = False) -> Column:
    """Lowercased Unicode-word tokens; the empty strings a leading/
    trailing delimiter produces are filtered out.  ``fold_accents=True``
    maps accented letters to their base form BEFORE splitting
    (scrub.py's translate table), so "indenizacao" matches
    "indenização" — opt-in because it conflates accent-distinct words
    ("nó"/"no"); the index and the query MUST use the same setting."""
    c = F.lower(col)
    if fold_accents:
        from jurimetria_etl_spark.operators.scrub import (
            fold_accents as _fold,
        )

        c = _fold(c)
    return F.filter(F.split(c, _TOKEN_SPLIT), lambda t: F.length(t) > 0)


@dataclass(frozen=True)
class TextIndex:
    """The three frames a BM25 search consumes.  ``postings`` is
    (term, doc_id, tf); ``doc_lens`` is (doc_id, dl); ``stats`` is one
    row (n_docs, avgdl).  All three persist as parquet — partition
    ``postings`` by a term-hash bucket at write time and the search
    join prunes to the query's buckets.

    The three optional fields are the PERSISTED-STORE statistics
    sidecar (r16): when ``load_text_index`` finds the per-batch
    ``stats``/``term_df`` sidecars a sidecar-born store maintains
    (``append_text_index``), it resolves (n_docs, avgdl) to SCALARS on
    the driver (``stats`` is then a literal one-row frame — no
    doc_lens scan or global aggregate in any search plan) and exposes
    the raw per-batch ``term_df`` frame (batch_key, term, df) so
    ``bm25_search`` derives per-term document frequency from a tiny
    sidecar scan instead of aggregating the query terms' full posting
    lists.  ``None`` (inline builds, legacy stores, strict loads)
    keeps the original derive-from-frames plan."""

    postings: DataFrame
    doc_lens: DataFrame
    stats: DataFrame
    n_docs: int | None = None
    avgdl: float | None = None
    term_df: DataFrame | None = None


def _staged(
    docs: DataFrame, id_col: str, text_col: str, fold_accents: bool
) -> DataFrame:
    """(doc_id, __toks) with zero-token docs dropped — the shared
    tokenized base of every index frame.  Zero-token docs contribute
    nothing to any derived frame (explode yields no rows; the length
    contract emits no row) — dropping them up front keeps the
    size-based doc_lens below exact.  (No repartition barrier here:
    exchange reuse needs byte-identical optimized subtrees, and the
    per-branch inferred filters/pruning the consumers generate defeat
    it — measured, not assumed — so a staged exchange only adds
    stages.  The tokenize is parallel map work; the at-scale answer to
    repeated tokenization is the persisted index store, not an inline
    barrier.)"""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        _tokens(F.col(text_col), fold_accents).alias("__toks"),
    ).where(F.size("__toks") > 0)


def _index_from_staged(staged: DataFrame) -> TextIndex:
    """The three index frames from a (doc_id, __toks) staged frame —
    shared by the inline build and the append path (which persists the
    staged frame across its four actions)."""
    toks = staged.select("doc_id", F.explode("__toks").alias("term"))
    postings = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # dl from the array SIZE, not from exploding the token stream into
    # a corpus-sized count aggregation (r15): sum-of-sizes per doc_id
    # is identical to counting exploded tokens — including the
    # duplicate-id edge, where both accumulate across rows, and the
    # zero-token edge, where the staged filter preserves the
    # no-length-row contract — but its map side is one narrow
    # (doc_id, int) projection instead of the token explode, and
    # doc_lens is consumed twice per search (the stats branch and the
    # per-candidate dl attach), so the explode ran twice per call in
    # the old shape.
    doc_lens = (
        staged.select("doc_id", F.size("__toks").alias("__n"))
        .groupBy("doc_id")
        .agg(F.sum("__n").cast("bigint").alias("dl"))
    )
    stats = doc_lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return TextIndex(postings=postings, doc_lens=doc_lens, stats=stats)


def build_text_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_ratio: float | None = None,
    fold_accents: bool = False,
) -> TextIndex:
    """Inverted-index statistics over ``docs``.  ``max_df_ratio`` (e.g.
    0.5) drops terms occurring in more than that fraction of documents —
    statistical stop-listing that bounds posting-list skew; ``None``
    keeps everything (exact BM25 over the full vocabulary).
    ``fold_accents=True`` builds an accent-insensitive index; search it
    with the same flag."""
    staged = _staged(docs, id_col, text_col, fold_accents)
    idx = _index_from_staged(staged)
    postings, doc_lens, stats = idx.postings, idx.doc_lens, idx.stats
    if max_df_ratio is not None:
        dfs = postings.groupBy("term").agg(
            F.count(F.lit(1)).alias("__df")
        )
        keep = (
            dfs.join(F.broadcast(stats))
            .where(F.col("__df") <= F.col("n_docs") * F.lit(max_df_ratio))
            .select("term")
        )
        postings = postings.join(keep, "term", "left_semi")
    return TextIndex(postings=postings, doc_lens=doc_lens, stats=stats)


def bm25_search(
    index: TextIndex,
    queries: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    fold_accents: bool = False,
) -> DataFrame:
    """Top-``k`` documents per query by Okapi BM25.  Output:
    (query_id, doc_id, score, rank), rank 1..k, score rounded 1e-6 and
    ties broken by doc_id (deterministic, engine-reproducible).  Only
    documents sharing ≥ 1 query term are candidates; a query whose
    terms all miss the index returns no rows (approximate-contract
    analog of ``knn_join``'s fewer-than-k case).

    Repeated terms in one query contribute once per DISTINCT term (the
    standard bag-of-documents/set-of-query-terms form): query-side tf
    weighting adds noise for short keyword queries, and dropping it
    keeps the oracle SQL a plain join-aggregate.
    """
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(_tokens(F.col(query_text_col), fold_accents))
        ).alias("term"),
    )
    # df per term: size of its posting list (count of docs, tf ≥ 1 each) —
    # computed for the QUERY's terms only.  The full-vocabulary df table
    # is corpus-sized (billions of terms at 100 TB), so it must never be
    # aggregated, let alone broadcast, per search call: semi-join the
    # postings to the tiny query term set first, then aggregate (map-side
    # combinable, skew-safe) — the broadcast below ships ≤ |query terms|
    # rows.  With term-bucket-partitioned postings both this scan and the
    # candidate scan prune to the query's buckets.
    q_term_set = qterms.select("term").distinct()
    if index.term_df is not None:
        # Sidecar df (r16): one row per (batch, term) in a vocabulary-
        # sized store instead of the query terms' full posting lists —
        # at 100 TB a hot term's posting list is corpus-sized and this
        # aggregation was the one remaining corpus-scale read per
        # search.  Fold: byte-identical replayed rows collapse inside
        # collect_set (full-row struct dedup), then the per-batch df
        # deltas sum — exact under the append contract (doc-disjoint
        # batches; see append_text_index).  Sum of bigints over a set:
        # order-insensitive, exact.
        dfs = (
            index.term_df.join(F.broadcast(q_term_set), "term", "left_semi")
            .groupBy("term")
            .agg(
                F.aggregate(
                    F.collect_set(F.struct("batch_key", "df")),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x["df"],
                ).alias("df")
            )
        )
    else:
        dfs = (
            index.postings.join(F.broadcast(q_term_set), "term", "left_semi")
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )
    matched = (
        F.broadcast(qterms)
        .join(index.postings, "term")
        .join(F.broadcast(dfs), "term")
        .join(index.doc_lens, "doc_id")
    )
    if index.n_docs is not None and index.avgdl is not None:
        # Sidecar stats (r16): (n_docs, avgdl) resolved to literals at
        # load time — the doc_lens stats scan, its global aggregate
        # exchange, and the one-row broadcast attach all leave the
        # search plan.  Types mirror the frame path exactly (bigint
        # count, double avg), so the scoring arithmetic is unchanged.
        ndocs_c = F.lit(int(index.n_docs)).cast("bigint")
        avgdl_c = F.lit(float(index.avgdl))
    else:
        matched = matched.join(F.broadcast(index.stats))
        ndocs_c = F.col("n_docs")
        avgdl_c = F.col("avgdl")
    idf = F.log(
        F.lit(1.0)
        + (ndocs_c - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (
        F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl") / avgdl_c
            )
        )
    )
    scored = matched.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(idf * tf_part), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def bm25_search_docs(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """One-shot convenience: index ``docs`` inline and search.  For
    repeated querying persist ``build_text_index`` once instead — the
    index build is the corpus-sized part.  ``fold_accents`` (via
    kwargs) is applied to BOTH sides here — the one call shape where
    the index/query consistency rule can be enforced rather than
    documented."""
    fold = bool(kwargs.get("fold_accents", False))
    return bm25_search(
        build_text_index(docs, id_col, text_col, fold_accents=fold),
        queries,
        k,
        **kwargs,
    )


def append_text_index(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fold_accents: bool = False,
) -> None:
    """Append one batch's inverted-index rows to a persisted index
    store — the lexical axis's incremental-store form (the pattern of
    the fingerprint / minhash-signature / Bloom / SemDeDup stores:
    parquet appends, fold on read, maintenance-time compaction).

    Layout: ``<index_dir>/postings`` (term, doc_id, tf) and
    ``<index_dir>/doc_lens`` (doc_id, dl), each a manifested store
    (``sinks.maintenance``) so ``compact_store`` / ``store_prune`` work
    per frame.  Corpus statistics (n_docs, avgdl, df) are DERIVED at
    load — nothing stored goes stale as batches append.

    Retry semantics: a replayed batch appends byte-identical rows, and
    ``load_text_index`` folds duplicates with ``max`` per key — so
    at-least-once ``foreachBatch`` delivery is idempotent.  The
    contract that makes ``max`` exact: one immutable text per
    ``id_col`` value (the curation pipeline's exact-dedup gate
    guarantees it upstream); re-ingesting CHANGED text under an old id
    is a store-generation change, not an append.  Tokenization
    (``fold_accents`` included) is part of the store's generation
    contract, like the span stores' strip lists.

    STATISTICS SIDECARS (r16): a store born through this function also
    appends two per-batch statistics frames — ``<index_dir>/stats``
    (one row: batch_key, n_docs, sum_dl) and ``<index_dir>/term_df``
    (batch_key, term, df) — so ``load_text_index`` can resolve
    (n_docs, avgdl) without scanning doc_lens and ``bm25_search`` can
    read a query term's document frequency from a vocabulary-sized
    sidecar instead of aggregating its full posting list (posting
    lists are corpus-sized per hot term at 100 TB; the sidecar row is
    one per term per batch).  Exactness contract — the same one the
    ``max`` fold rests on, stated one notch tighter: distinct batches
    carry DISJOINT doc_id sets (the upstream exact-dedup gate), and a
    replayed batch is byte-identical, so its sidecar rows repeat
    exactly and the load-time fold (dedup per batch_key) removes them;
    the batch_key derives deterministically from the batch's own
    content (min/max doc_id + counters).  A same-text doc re-appended
    in a DIFFERENT batch — tolerated by the postings ``max`` fold,
    out of contract for the counters — double-counts in the sidecar;
    ``load_text_index(strict_stats=True)`` bypasses the sidecars
    entirely and re-derives everything from the folded frames (the
    exactness valve, same posture as the orphan window).  A legacy
    store (first appended before the sidecars existed) never starts
    writing them mid-life — a partial sidecar would silently
    undercount — and keeps the derive-at-load plan."""
    from jurimetria_etl_spark.sinks.maintenance import store_data_dir

    # Sidecars only on stores that have had them from birth: fresh
    # store (no doc_lens yet) or a store whose stats sidecar exists.
    sidecar = os.path.isdir(f"{index_dir}/stats") or not os.path.isdir(
        f"{index_dir}/doc_lens"
    )
    staged = _staged(docs, id_col, text_col, fold_accents)
    if sidecar:
        # four actions consume the tokenized batch (doc_lens, stats
        # collect, term_df, postings) — persist it for the append's
        # duration so the tokenize runs once per batch, not per action
        staged = staged.persist()
    idx = _index_from_staged(staged)
    batch = None
    if sidecar:
        row = idx.doc_lens.agg(
            F.min(F.col("doc_id").cast("string")).alias("mn"),
            F.max(F.col("doc_id").cast("string")).alias("mx"),
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sum_dl"),
        ).collect()[0]
        if row["n_docs"] > 0:
            # deterministic content-derived batch identity: identical
            # for a replay, distinct across doc-disjoint batches (the
            # min doc_id belongs to exactly one batch)
            batch = (
                f"{row['mn']}|{row['mx']}|{row['n_docs']}|{row['sum_dl']}",
                int(row["n_docs"]),
                int(row["sum_dl"]),
            )
    # doc_lens first: a crash in between leaves length-only docs that
    # cannot match any query term, and the retry restores postings;
    # postings-first would let a term match a doc whose dl is missing
    # and NULL-poison its score.  The orphaned doc_lens rows are NOT
    # fully harmless in the window before the replay lands: they
    # inflate n_docs and avgdl (idf and length normalization shift for
    # every query) — scores stay well-defined, ranks can move.
    # ``load_text_index(strict_stats=True)`` excludes orphans at a
    # per-load semi-join cost when exactness in that window matters.
    # Sidecars land between doc_lens and postings: a crash anywhere in
    # the sequence leaves the same orphan window the two-write order
    # always had (stats counted, postings pending), and the replay's
    # byte-identical rows restore consistency under the folds.
    idx.doc_lens.write.mode("append").parquet(
        store_data_dir(f"{index_dir}/doc_lens")
    )
    if batch is not None:
        key, n_docs, sum_dl = batch
        local_frame(
            docs.sparkSession,
            [(key, n_docs, sum_dl)],
            "batch_key string, n_docs bigint, sum_dl bigint",
        ).write.mode("append").parquet(store_data_dir(f"{index_dir}/stats"))
        idx.postings.groupBy("term").agg(
            F.count(F.lit(1)).alias("df")
        ).select(F.lit(key).alias("batch_key"), "term", "df").write.mode(
            "append"
        ).parquet(store_data_dir(f"{index_dir}/term_df"))
    idx.postings.write.mode("append").parquet(
        store_data_dir(f"{index_dir}/postings")
    )
    if sidecar:
        staged.unpersist()


_STOPLIST_META = "_STOPLIST.json"


def materialize_stop_list(
    spark,
    index_dir: str,
    max_df_ratio: float,
    strict_stats: bool = False,
) -> dict:
    """Materialize the ``max_df_ratio`` stop-list ONCE at maintenance
    time (r9 verdict task 6): compute the full-vocabulary df aggregate —
    the corpus-sized part — over the folded postings, keep the terms
    ABOVE the ratio (df > n_docs × ratio: by construction ≤
    avg-terms-per-doc / ratio of them — a bounded, broadcastable list),
    and publish them to ``<index_dir>/stop_list`` under the manifested
    store's atomic swap, with the ratio recorded in ``_STOPLIST.json``.
    ``load_text_index(max_df_ratio=...)`` then anti-joins the loaded
    list instead of planting the full-vocabulary aggregate in every
    loaded plan.

    Staleness contract: the list is exact AS OF this call; appends
    after it can push new terms over the ratio (and raise n_docs under
    old ones) until the next materialization — run it in the same
    maintenance window as ``compact_store`` on the index subdirs —
    ``sinks.maintenance.maintain_stores`` does exactly that when it
    compacts a postings store whose index has a published list.  A
    different requested ratio at load time falls back to the load-time
    aggregate, so ad-hoc ratios keep working unchanged.

    ``strict_stats`` is part of the list's identity (r11 ADVICE): the
    ratio gate compares df against ``n_docs``, and a strict load can
    derive a DIFFERENT n_docs (orphaned doc_lens rows excluded) than a
    non-strict one — so the flag is computed with, recorded in, and
    matched from ``_STOPLIST.json``; a load requesting the other
    flavor falls back to its own load-time aggregate instead of
    silently reusing a list derived from the wrong n_docs.

    Returns {n_stop_terms, max_df_ratio, strict_stats, version}."""
    import json
    import uuid

    from jurimetria_etl_spark.sinks.maintenance import (
        _VERSIONS,
        _publish,
    )

    idx = load_text_index(spark, index_dir, strict_stats=strict_stats)
    dfs = idx.postings.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    stop = (
        dfs.join(F.broadcast(idx.stats))
        .where(F.col("__df") > F.col("n_docs") * F.lit(max_df_ratio))
        .select("term")
    )
    store = f"{index_dir}/stop_list"
    version = uuid.uuid4().hex[:12]
    vdir = os.path.join(store, _VERSIONS, version)
    stop.coalesce(1).write.mode("overwrite").parquet(vdir)
    _publish(store, version)
    meta_path = os.path.join(store, _STOPLIST_META)
    tmp = meta_path + f".tmp_{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(
            {
                "max_df_ratio": float(max_df_ratio),
                "strict_stats": bool(strict_stats),
            },
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, meta_path)
    n = spark.read.parquet(vdir).count()
    return {
        "n_stop_terms": n,
        "max_df_ratio": float(max_df_ratio),
        "strict_stats": bool(strict_stats),
        "version": version,
    }


def _read_stop_list(
    spark, index_dir: str, max_df_ratio: float, strict_stats: bool = False
):
    """The materialized stop-list frame, or ``None`` when absent or
    materialized under a DIFFERENT identity — ratio (exact float
    compare — a close-but-unequal ratio is a different stop set) or
    ``strict_stats`` flavor (a different n_docs denominator, r11
    ADVICE); the caller falls back to the load-time aggregate.  A
    legacy meta without the flag reads as non-strict, which is what
    every pre-flag list was computed with."""
    import json

    from jurimetria_etl_spark.sinks.maintenance import store_data_dir

    store = f"{index_dir}/stop_list"
    meta_path = os.path.join(store, _STOPLIST_META)
    try:
        with open(meta_path, encoding="utf-8") as f:
            meta = json.load(f)
    except FileNotFoundError:
        return None
    if meta.get("max_df_ratio") != float(max_df_ratio):
        return None
    if bool(meta.get("strict_stats", False)) != bool(strict_stats):
        return None
    return spark.read.parquet(store_data_dir(store))


def load_text_index(
    spark,
    index_dir: str,
    max_df_ratio: float | None = None,
    strict_stats: bool = False,
) -> TextIndex:
    """Rehydrate a persisted incremental index (``append_text_index``):
    fold duplicate appended rows (``max`` per key — see the retry
    contract there), derive (n_docs, avgdl) from the folded lengths,
    and optionally stop-list by ``max_df_ratio`` exactly like
    ``build_text_index``.  The folds are one aggregation each at search
    time; ``sinks.maintenance.compact_store`` on the two subdirs keeps
    the file counts bounded between batches.  When
    ``materialize_stop_list`` has published a list at the SAME ratio,
    the loaded postings anti-join that (small, broadcast) term list —
    otherwise ``max_df_ratio`` plants a FULL-vocabulary df aggregation
    in the returned postings plan (the stop-list needs every term's df
    by definition); for repeated ad-hoc-ratio querying, materialize the
    loaded index once (persist or write-and-reread) rather than paying
    it per search.  The per-search df computation inside ``bm25_search``
    itself stays pruned to the query's terms either way.

    ``strict_stats=True`` semi-joins ``doc_lens`` against the postings'
    doc_ids before deriving (n_docs, avgdl, dl), excluding orphaned
    length rows left by a crash between ``append_text_index``'s two
    writes (doc_lens lands first).  ``build_text_index`` only emits a
    length row for docs with ≥ 1 token, so on a healthy store the
    semi-join is the identity — it exists purely to keep idf/length
    normalization exact in the crash-to-replay window, at the cost of
    one postings-side doc_id dedup + join per load."""
    from jurimetria_etl_spark.sinks.maintenance import store_data_dir

    postings = (
        spark.read.parquet(store_data_dir(f"{index_dir}/postings"))
        .groupBy("term", "doc_id")
        .agg(F.max("tf").alias("tf"))
    )
    doc_lens = (
        spark.read.parquet(store_data_dir(f"{index_dir}/doc_lens"))
        .groupBy("doc_id")
        .agg(F.max("dl").alias("dl"))
    )
    if strict_stats:
        doc_lens = doc_lens.join(
            postings.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    # Statistics sidecar (r16): a sidecar-born store resolves
    # (n_docs, avgdl) on the DRIVER from the tiny per-batch stats
    # frame (one row per batch; replays deduped by batch_key) — the
    # stats frame becomes a literal one-row plan and bm25_search skips
    # the doc_lens stats scan + global aggregate + broadcast attach.
    # avgdl = sum_dl / n_docs in IEEE double — identical to
    # F.avg(dl) over bigint (Spark accumulates integral sums exactly
    # in double below 2^53, then divides once).  strict_stats bypasses
    # the sidecars (they cannot see orphaned doc_lens rows — the
    # exactness valve re-derives everything from the folded frames),
    # and a legacy store without them keeps the derive-at-load plan.
    n_docs_sc: int | None = None
    avgdl_sc: float | None = None
    term_df = None
    if not strict_stats:
        side = _read_stats_sidecar(index_dir)
        if side is not None and side[0] > 0:
            n_docs_sc, sum_dl = side
            avgdl_sc = sum_dl / n_docs_sc
            term_df = spark.read.parquet(
                store_data_dir(f"{index_dir}/term_df")
            )
    if n_docs_sc is not None:
        stats = spark.range(1).select(
            F.lit(n_docs_sc).cast("bigint").alias("n_docs"),
            F.lit(avgdl_sc).alias("avgdl"),
        )
    else:
        stats = doc_lens.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
        )
    if max_df_ratio is not None:
        stop = _read_stop_list(spark, index_dir, max_df_ratio, strict_stats)
        if stop is not None:
            postings = postings.join(F.broadcast(stop), "term", "left_anti")
        else:
            dfs = postings.groupBy("term").agg(
                F.count(F.lit(1)).alias("__df")
            )
            keep = (
                dfs.join(F.broadcast(stats))
                .where(
                    F.col("__df") <= F.col("n_docs") * F.lit(max_df_ratio)
                )
                .select("term")
            )
            postings = postings.join(keep, "term", "left_semi")
    # term_df rows for stop-listed terms are harmless: scoring joins
    # df INNER on the postings' matched terms, and a stop-listed term
    # has no postings rows to match — its sidecar df never reaches a
    # score.  Surviving terms' df values are unchanged by stop-listing
    # (df counts the term's own documents), so the sidecar needs no
    # ratio filtering of its own.
    return TextIndex(
        postings=postings,
        doc_lens=doc_lens,
        stats=stats,
        n_docs=n_docs_sc,
        avgdl=avgdl_sc,
        term_df=term_df,
    )


def _read_stats_sidecar(index_dir: str) -> tuple[int, int] | None:
    """Driver-side fold of the per-batch stats sidecar: (n_docs,
    sum_dl) summed over DISTINCT batch_key rows (a replayed batch's
    rows are byte-identical — dedup by key removes them), or ``None``
    when the store has no sidecars (legacy / pre-r16) or the term_df
    twin is missing (a partial sidecar must not be trusted).  The
    frame is tiny by construction — one row per appended batch — and
    is read with pyarrow directly: no Spark job in the load path."""
    from jurimetria_etl_spark.sinks.maintenance import store_data_dir

    stats_dir = store_data_dir(f"{index_dir}/stats")
    if not os.path.isdir(stats_dir) or not os.path.isdir(
        store_data_dir(f"{index_dir}/term_df")
    ):
        return None
    import pyarrow.parquet as pq

    seen: dict[str, tuple[int, int]] = {}
    found = False
    for root, _dirs, files in os.walk(stats_dir):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            found = True
            tbl = pq.read_table(os.path.join(root, name))
            for row in tbl.to_pylist():
                seen[row["batch_key"]] = (
                    int(row["n_docs"]),
                    int(row["sum_dl"]),
                )
    if not found:
        return None
    return (
        sum(v[0] for v in seen.values()),
        sum(v[1] for v in seen.values()),
    )


def rrf_fuse(
    ranked_lists: list[DataFrame],
    k: int = 60,
    topk: int | None = None,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    round_to: int | None = 9,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of N ranked
    lists: ``rrf = Σ_lists 1/(k + rank)``, a document absent from a list
    contributes nothing.  Output (query_id, doc_id, rrf_score,
    fused_rank); ``topk`` truncates per query.

    RRF is the standard score-free fusion for hybrid retrieval — it
    needs no score calibration between a BM25 list and a cosine list,
    only ranks.  Plan: union the (already tiny, ≤ queries × k-each)
    lists → one (query, doc) sum → per-query window.  Everything after
    the input retrievals is match-sized; fusion adds no corpus-scale
    work.  Determinization: 1/(k+rank) from integer ranks is exact
    double arithmetic, the rounded sum is engine-reproducible, and the
    fused rank tie-breaks by doc_id."""
    if not ranked_lists:
        raise ValueError("rrf_fuse: at least one ranked list is required")
    contribs = [
        df.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col))).alias("__c"),
        )
        for df in ranked_lists
    ]
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    score = F.sum("__c")
    if round_to is not None:
        score = F.round(score, round_to)
    fused = allc.groupBy("query_id", "doc_id").agg(score.alias("rrf_score"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    fused = fused.withColumn("fused_rank", F.row_number().over(w))
    if topk is not None:
        fused = fused.where(F.col("fused_rank") <= topk)
    return fused


def hybrid_search(
    docs: DataFrame,
    embeddings: DataFrame,
    text_queries: DataFrame,
    probe_queries: DataFrame,
    k_each: int = 20,
    topk: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    ann_index: DataFrame | None = None,
    ann_centroids: list[tuple[int, list[float]]] | None = None,
    ann_n_probe: int = 4,
    ann_store_dir: str | None = None,
    probe_schema: str | None = None,
    text_index_dir: str | None = None,
    text_index_max_df_ratio: float | None = None,
    text_index_fold_accents: bool = False,
) -> DataFrame:
    """Hybrid lexical+semantic retrieval: BM25 top-``k_each`` (terms)
    and cosine top-``k_each`` (vectors) per query, fused with RRF.
    ``text_queries``: (query_id, query_text); ``probe_queries``:
    (query_id, probe array) — the same query in both modalities, over a
    shared doc/vec id space.

    Dense side: the exact broadcast baseline (``cosine_topk_batch``) by
    default.  At corpus scale pass ``ann_index`` + ``ann_centroids`` —
    a cell-indexed frame (``load_ann_store``'s output for the persisted
    store, or ``ivf_index``'s) — and the dense ranks come from
    ``ann_ivf_topk_batch`` at ``ann_n_probe`` cells per query instead:
    the scan is sublinear (each probe scores only its cells, partition-
    pruned on the hive store layout) and the fusion contract is
    unchanged — it only consumes (query, id, rank).  Pass ``embeddings=
    None`` in that mode; the recall/n_probe trade is the one
    tests/test_ann_store.py pins.

    ``ann_store_dir`` is the PERSISTED-store form of the same swap (the
    composed at-scale retrieval path: store → partial probe → RRF): the
    dense list comes from ``ann_ivf_topk_store_batch``, which resolves
    the store's data dir and centroid generation in ONE manifest read
    and prunes the scan with the probes' static cell union — partition
    pruning by construction, not DPP luck.  Takes precedence over
    ``ann_index``; ``ann_centroids=None`` then reads the store's own
    generation sidecar.  In this mode ``probe_queries`` may also be a
    plain list of ``(query_id, vector)`` pairs — the native shape of a
    request batch, skipping the per-call collect a DataFrame costs —
    with ``probe_schema`` (DDL) pinning the id/vector types (see
    ``ann_ivf_topk_store_batch``).

    ``text_index_dir`` is the lexical side's persisted-store form —
    the symmetric swap: BM25 consumes the incremental postings store
    (``append_text_index`` / ``load_text_index``, the index the
    streaming curation pipeline maintains) instead of re-tokenizing the
    whole corpus per call.  Scores are IDENTICAL to the inline build
    (the load folds the same rows the builder emits; stats derive
    identically), so with both store dirs set the function is the fully
    store-backed retrieval service: both indexes persisted, maintained
    at ingest, resolved through their manifests per request — pass
    ``docs=None`` in that mode.  ``text_index_max_df_ratio`` forwards
    the stop-list ratio (``load_text_index``'s contract: reads a
    materialized list when one is published at that ratio);
    ``text_index_fold_accents`` MUST match how the index was built
    (``curate_document_stream(text_index_fold_accents=…)`` /
    ``append_text_index(fold_accents=…)``) — queries tokenize with it,
    and an unfolded query term can never hit a folded posting."""
    from jurimetria_etl_spark.operators.similarity import cosine_topk_batch

    if text_index_dir is not None:
        if id_col != "doc_id" or text_col != "text":
            # same contract class as the fold_accents MUST-match note:
            # the persisted index fixed its doc ids and tokenized text
            # at BUILD time — accepting custom columns here would
            # silently return the store's ids under the caller's naming
            # (r13 ADVICE)
            raise ValueError(
                "hybrid_search: id_col/text_col are inline-path-only — "
                "a text_index_dir store resolved them when it was "
                "built (append_text_index's id_col/text_col); rebuild "
                "the index for different columns"
            )
        lex = bm25_search(
            load_text_index(
                text_queries.sparkSession,
                text_index_dir,
                max_df_ratio=text_index_max_df_ratio,
            ),
            text_queries,
            k=k_each,
            fold_accents=text_index_fold_accents,
        )
    else:
        lex = bm25_search_docs(
            docs, text_queries, k=k_each, id_col=id_col, text_col=text_col
        )
    if ann_store_dir is not None:
        from jurimetria_etl_spark.operators.ann_store import (
            ann_ivf_topk_store_batch,
        )

        dense = ann_ivf_topk_store_batch(
            (
                probe_queries.sparkSession
                if isinstance(probe_queries, DataFrame)
                else text_queries.sparkSession
            ),
            ann_store_dir,
            probe_queries,
            k=k_each,
            n_probe=ann_n_probe,
            centroids=ann_centroids,
            id_col=vec_id_col,
            vec_col=vec_col,
            probe_schema=probe_schema,
        )
    elif ann_index is not None:
        if ann_centroids is None:
            raise ValueError(
                "hybrid_search: ann_index requires ann_centroids — the "
                "index's generation contract (read_ann_centroids for a "
                "persisted store)"
            )
        from jurimetria_etl_spark.operators.ann_store import (
            ann_ivf_topk_batch,
        )

        dense = ann_ivf_topk_batch(
            ann_index,
            ann_centroids,
            probe_queries,
            k=k_each,
            n_probe=ann_n_probe,
            id_col=vec_id_col,
            vec_col=vec_col,
        )
    else:
        dense = cosine_topk_batch(
            embeddings,
            probe_queries,
            k=k_each,
            id_col=vec_id_col,
            vec_col=vec_col,
        )
    return rrf_fuse(
        [lex, dense.withColumnRenamed(vec_id_col, "doc_id")],
        k=rrf_k,
        topk=topk,
    )
