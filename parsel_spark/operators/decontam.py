"""Eval-set decontamination — flag training documents whose n-gram
overlap with a (small) evaluation set exceeds a threshold.

The step every public LLM training pipeline runs before finalizing a
corpus (public background: the n-gram-overlap decontamination described
in the GPT-3 appendix / Brown et al. 2020, and the open-source
reproductions of it): any training doc sharing too many token n-grams
with a benchmark doc leaks test data.

Scale shape (100 TB corpus, small eval set): the eval side collapses to
a DISTINCT set of 8-byte gram hashes.  The plan explodes doc grams and
broadcast-hash-joins them against that table (one map-side-combined
shuffle; the hash table builds once per task).  Never all-pairs, no
Python in the hot path.

Cross-engine: gram hashing is the same 60-bit md5 used by the dedup
family (``md5_hash60``), so a DuckDB oracle replays the whole
computation value-for-value.

Reference counterpart: none in parsel (a single-document selector
library) — this is part of the training-data surface the engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _gram_hash_array, seq_tokens_col


def _distinct_gram_hashes(text_col: str, n: int):
    """Per-row array of DISTINCT 60-bit hashes of the row's token
    n-grams (map-only; shorter-than-n rows give an empty array)."""
    return F.array_distinct(_gram_hash_array(seq_tokens_col(text_col), n))


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
) -> DataFrame:
    """(id, total_ngrams, overlap_ngrams, overlap_frac, contaminated)
    for every doc in ``docs``: the fraction of the doc's DISTINCT token
    ``n``-grams that also occur anywhere in ``eval_docs``; docs at or
    above ``threshold`` are flagged.

    Docs with fewer than ``n`` tokens have no grams: total_ngrams=0,
    overlap_frac=0.0, never flagged — length-gate such docs upstream if
    they matter.  ``threshold`` compares the UNROUNDED fraction (the
    reported overlap_frac is rounded to 6dp for display/parity).

    The join probes one shared eval-gram hash table per task.  (A
    broadcast eval ARRAY with a per-doc ``array_intersect`` avoids the
    shuffle but rebuilds the eval hash set PER ROW — O(docs ×
    eval_grams) CPU, a cliff at ~10^10 docs × 10^7 grams.)"""
    eval_grams = (
        eval_docs.select(
            F.explode(
                _distinct_gram_hashes(eval_text_col or text_col, n)
            ).alias("h")
        )
        .distinct()
    )
    per_doc = docs.select(
        F.col(id_col),
        _distinct_gram_hashes(text_col, n).alias("g"),
    )
    exploded = per_doc.select(
        id_col,
        F.size("g").alias("n_grams"),
        F.explode_outer("g").alias("h"),
    )
    # broadcast-join BEFORE the per-doc groupBy: the only shuffle is
    # the map-side-combined aggregation on id (explode_outer keeps
    # zero-gram docs as one null-h row, which can never match)
    marked = exploded.join(
        F.broadcast(eval_grams.withColumn("m", F.lit(1))), "h", "left"
    )
    agg = marked.groupBy(id_col).agg(
        F.max("n_grams").cast("long").alias("total_ngrams"),
        F.sum(F.coalesce("m", F.lit(0))).cast("long").alias("overlap_ngrams"),
    )
    frac = F.col("overlap_ngrams") / F.col("total_ngrams")
    return agg.select(
        id_col,
        "total_ngrams",
        "overlap_ngrams",
        F.round(
            F.when(F.col("total_ngrams") == 0, F.lit(0.0)).otherwise(frac), 6
        ).alias("overlap_frac"),
        F.when(F.col("total_ngrams") == 0, F.lit(False))
        .otherwise(frac >= threshold)
        .alias("contaminated"),
    )


def semantic_decontaminate(
    train: DataFrame,
    eval_embeddings: DataFrame,
    threshold: float = 0.95,
    method: str = "lsh",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 6,
    id_col: str = "vec_id",
) -> DataFrame:
    """SEMANTIC eval-set decontamination — the embedding-space
    complement of the n-gram :func:`decontaminate` (paraphrased
    benchmark leakage that shares no 8-gram still sits next to the
    eval item in embedding space; every public contamination audit
    runs both checks).  Flags each training row whose max cosine
    similarity against any eval embedding reaches ``threshold``.

    ``method='lsh'`` (DEFAULT — the 100 TB path): both sides hash into
    random-hyperplane buckets (the same family as
    ``embedding_near_dup_pairs``), candidates join per bucket, exact
    cosine verifies candidates only — never train × eval all-pairs.
    ``method='broadcast'``: exact max-sim against the broadcast eval
    set (guaranteed recall; right while the eval set fits an executor,
    which benchmark suites do).

    Returns one row PER TRAIN ROW: ``(id_col, max_sim, contaminated)``
    — ``max_sim`` is the best similarity among candidates (NULL when
    LSH produced no candidate; such rows are not contaminated).
    Cosine is rounded to ``round_to`` BEFORE the max so both engines
    aggregate identical values."""
    from .similarity import _rounded_cosine, hyperplanes, lsh_bucket, norm

    if method not in ("lsh", "broadcast"):
        raise ValueError(f"method must be 'lsh' or 'broadcast', got {method}")
    # each side's norm is computed once per vector and rides with it;
    # dim enables the unrolled codegen dot/norm (bit-identical values,
    # guarded fallback for other widths — similarity.dot)
    ev = eval_embeddings.select(
        F.col(id_col).alias("__ev_id"),
        F.col("embedding").alias("__ev_emb"),
        norm("embedding", dim).alias("__ev_nrm"),
    )
    t = train.select(id_col, "embedding", norm("embedding", dim).alias("__nrm"))
    if method == "lsh":
        planes = hyperplanes(dim, n_planes, seed)
        t = t.withColumn("block", lsh_bucket("embedding", planes))
        e = F.broadcast(
            ev.withColumn("block", lsh_bucket("__ev_emb", planes))
        )
        cand = t.join(e, "block")
    else:
        cand = t.crossJoin(F.broadcast(ev))
    sim = _rounded_cosine(
        "embedding", "__ev_emb", "__nrm", "__ev_nrm", round_to, dim
    )
    best = cand.groupBy(id_col).agg(F.max(sim).alias("max_sim"))
    out = train.select(id_col).join(best, id_col, "left")
    return out.select(
        id_col,
        "max_sim",
        F.coalesce(F.col("max_sim") >= F.lit(threshold), F.lit(False)).alias(
            "contaminated"
        ),
    )
