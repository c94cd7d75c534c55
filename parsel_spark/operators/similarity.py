"""Similarity search over an embedding column (``array<float>``).

Brute-force cosine top-k is the correctness baseline; the scale path is
random-hyperplane LSH bucketing (probe only the query's bucket).  Both
keep the arithmetic JVM-side via ``zip_with``/``aggregate`` higher-order
functions — no Python in the distance loop.

At 100 TB the brute-force variant is a single map + top-k
(``TakeOrderedAndProject``) with no shuffle of the vectors themselves;
the LSH variant prunes the scan by pre-partitioning on bucket id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.synth import _mix
from .dedup import _pin_pair_stage, _self_pairs, check_block_cardinality


def _as_col(a) -> Column:
    return F.col(a) if isinstance(a, str) else a


def _fold_dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _fold_sq(a) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _fold_sql(term: str, arrays: tuple[str, ...], dim: int, zero: str = "0.0D") -> str:
    """``CASE WHEN <every array has dim elements> THEN <unrolled chain>
    ELSE <aggregate fold> END`` as ONE SQL string, from one per-element
    ``term`` over ``{x}`` (and ``{y}`` for a second array), spliced as
    ``get(arr, i)`` into the chain and as the lambda variables into the
    fold.  The chain ``((zero + t0) + t1) + ...`` is EXACTLY the fold's
    IEEE addition sequence (the leading ``zero +`` normalizes a ``-0.0``
    first term as the fold's initial accumulator does), so values are
    bit-identical; the chain is whole-stage-codegen-able, where the
    fold is interpreted per element per row (guide §4.1), and the size
    guard keeps every other width on the fold.  One ``F.expr`` parse:
    the same tree built with the python DSL costs hundreds of py4j
    round-trips per expression at plan-construction time."""
    names = "xy"[: len(arrays)]
    chain = zero
    for i in range(dim):
        elem = term.format(**{n: f"get({a}, {i})" for n, a in zip(names, arrays)})
        chain = f"({chain} + ({elem}))"
    body = term.format(**{n: n for n in names})
    if len(arrays) == 1:
        elems = f"transform({arrays[0]}, x -> {body})"
    else:
        elems = f"zip_with({arrays[0]}, {arrays[1]}, (x, y) -> {body})"
    guard = " AND ".join(f"(size({a}) = {dim})" for a in arrays)
    return (
        f"CASE WHEN {guard} THEN {chain} "
        f"ELSE aggregate({elems}, {zero}, (acc, v) -> acc + v) END"
    )


def dot(a, b, dim: int | None = None) -> Column:
    """Sequential-fold dot product (the cross-engine contract: DuckDB
    replays the same left-to-right IEEE fold).  ``dim`` (when the caller
    knows the embedding width and passes column names) swaps in the
    unrolled form of ``_fold_sql`` — bit-identical for every input."""
    if dim is None or not (isinstance(a, str) and isinstance(b, str)):
        return _fold_dot(_as_col(a), _as_col(b))
    return F.expr(
        _fold_sql("CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE)", (a, b), dim)
    )


def norm(a, dim: int | None = None) -> Column:
    """Sequential-fold L2 norm; ``dim`` as in :func:`dot`."""
    if dim is None or not isinstance(a, str):
        return F.sqrt(_fold_sq(_as_col(a)))
    square = _fold_sql("CAST({x} AS DOUBLE) * CAST({x} AS DOUBLE)", (a,), dim)
    return F.expr(f"SQRT({square})")


def _rounded_cosine(a, b, norm_a, norm_b, round_to: int, dim: int | None) -> Column:
    """Cosine rounded to ``round_to`` (deterministic tie order across
    engines), with ``+ 0.0`` turning a ``-0.0`` into ``+0.0`` (value
    parity with DuckDB).  The two norms are PRECOMPUTED columns —
    ``norm_x`` must be ``norm(x, dim)`` of the same row — so a scan or a
    pair join carries them instead of re-deriving them per pair: the
    quotient is value-identical and the per-pair work drops from one
    dot + two norms to one dot (guide §2.3)."""
    return F.round(
        dot(a, b, dim) / (_as_col(norm_a) * _as_col(norm_b)), round_to
    ) + F.lit(0.0)


def _query_row(
    rows: DataFrame, query_id: int, dim: int | None, *extra: Column
) -> DataFrame:
    """The broadcast side of a kNN probe: the query's vector, any
    ``extra`` columns the probe needs, and its norm (computed once, not
    once per scanned row)."""
    return rows.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("query_embedding"),
        *extra,
        norm("embedding", dim).alias("__qn"),
    )


def _cosine_top_k(
    candidates: DataFrame,
    query: DataFrame,
    query_id: int,
    k: int,
    round_to: int,
    dim: int | None,
    probe: Column | None = None,
) -> DataFrame:
    """(vec_id, sim): the ``k`` candidates most cosine-similar to the
    ``_query_row`` ``query`` (the query itself excluded; ``probe``, when
    given, keeps only the candidates it admits).  The 1-row query joins
    in via a broadcast cross-join, so the scan side never shuffles;
    rounded similarity DESC then vec_id gives the same order in every
    engine, and ``orderBy().limit`` plans as ``TakeOrderedAndProject``."""
    scored = candidates.filter(F.col("vec_id") != query_id).crossJoin(
        F.broadcast(query)
    )
    if probe is not None:
        scored = scored.filter(probe)
    scored = scored.select(
        "vec_id",
        _rounded_cosine(
            "embedding", "query_embedding", norm("embedding", dim), "__qn",
            round_to, dim,
        ).alias("sim"),
    )
    return scored.orderBy(F.desc("sim"), F.asc("vec_id")).limit(k)


def _cosine_pairs(
    normed: DataFrame, key: str, round_to: int, dim: int | None
) -> DataFrame:
    """(vec_a, vec_b, sim) for every pair of rows of ``normed`` sharing
    ``key``, each pair scored once (``vec_a < vec_b``).  ``normed``
    carries ``vec_id``, ``embedding``, ``key`` and ``__nrm`` =
    ``norm(embedding, dim)``: each vector's norm is computed once and
    rides the key exchange as an 8-byte column."""
    pairs = _self_pairs(normed, [key], "vec_id")
    return pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        _rounded_cosine(
            "a.embedding", "b.embedding", "a.__nrm", "b.__nrm", round_to, dim
        ).alias("sim"),
    )


def knn_bruteforce(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    round_to: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors of ``query_id`` (excluded itself),
    scanning every vector (see ``_cosine_top_k``); ``dim`` enables the
    unrolled codegen dot/norm (bit-identical — see :func:`dot`)."""
    query = _query_row(embeddings, query_id, dim)
    return _cosine_top_k(embeddings, query, query_id, k, round_to, dim)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random ±-valued hyperplanes (shared by build
    and probe sides; derived from the same splitmix mixing as the
    synthetic corpus so no RNG state is involved)."""
    return [
        [1.0 if _mix(seed, p, d) & 1 else -1.0 for d in range(dim)]
        for p in range(n_planes)
    ]


def lsh_bucket(embedding: str, planes: list[list[float]]) -> Column:
    """Hyperplane LSH bucket id of the ``embedding`` column (a column
    NAME, spliced into SQL) as ONE ``F.expr`` parse.

    The original DSL construction (``F.array`` of 64 ``F.lit`` per
    plane + a per-plane fold built through python lambda HOFs) cost
    hundreds of py4j round-trips at plan-construction time (~0.5 s per
    query).  The SQL string states the IDENTICAL
    ``aggregate(zip_with(...))`` fold per plane — same expression tree,
    one parse.  The fold stays the runtime form on purpose: bucketing
    is per-ROW work, and the per-action whole-stage-codegen cost of an
    unrolled 6×64-term variant measured 1.5-2× SLOWER end-to-end at
    bench scale (same finding as the knn scan sides in session 1 —
    per-row paths keep the fold; per-PAIR paths use ``dot(dim=...)``)."""
    if not isinstance(embedding, str):
        raise TypeError(
            f"lsh_bucket takes a column name, got {type(embedding).__name__}"
        )

    def lit_d(v: float) -> str:
        return f"{v!r}D"

    bits = ["0"]
    for index, plane in enumerate(planes):
        plane_arr = f"array({', '.join(lit_d(v) for v in plane)})"
        fold = (
            f"aggregate(zip_with({embedding}, {plane_arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN ({fold}) > 0.0D THEN {1 << index} ELSE 0 END)")
    return F.expr(" + ".join(bits))


def knn_lsh(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 4,
    max_probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k via hyperplane LSH with MULTI-PROBE: score
    vectors whose bucket is within hamming distance ``max_probe_hamming``
    of the query's bucket (0 = classic single-bucket probing).

    Single-bucket probing has a recall cliff when the query sits near a
    hyperplane — its true neighbors land just across that plane, one
    bucket-bit away.  Probing the query bucket plus its ``n_planes``
    hamming-1 neighbors scans ~N·(1+planes)/2^planes vectors (still a
    pruned scan at scale: with the bucket id as the storage partition
    key this reads 1+planes of 2^planes partitions) and recovers
    exactly those across-one-plane neighbors; recall vs brute force is
    pinned in tests."""
    planes = hyperplanes(dim, n_planes, seed)
    bucketed = embeddings.withColumn("bucket", lsh_bucket("embedding", planes))
    query = _query_row(
        bucketed, query_id, dim, F.col("bucket").alias("query_bucket")
    )
    probe_dist = F.bit_count(
        F.col("bucket").bitwiseXOR(F.col("query_bucket")).cast("long")
    )
    return _cosine_top_k(
        bucketed, query, query_id, k, round_to, dim,
        probe=probe_dist <= max_probe_hamming,
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = None,
    round_to: int = 6,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    min_block_ratio: float = 0.01,
    force: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (completes the dedup
    family: exact / jaccard / minhash / simhash / embedding-cosine).

    ``block_col`` picks the candidate-generation strategy:

    * ``None`` (DEFAULT — the 100 TB path): random-hyperplane LSH
      bucket ids are the join key, so candidate volume is ~N²/2^planes
      spread evenly across buckets; cosine is verified exactly on
      candidates only.  High-cosine pairs land in the same bucket with
      probability (1 - θ/π)^planes — recall is tested on planted
      duplicates;
    * a column name: exact self-join within that blocking key — only
      sound when the key is high-cardinality (a handful of giant
      labels makes the join quadratic within each), so a low
      cardinality/rows ratio (< ``min_block_ratio``) raises a
      ``RuntimeWarning``, and an EXTREME ratio (< min_block_ratio/10)
      raises ``ValueError`` unless ``force=True``."""
    if block_col is None:
        planes = hyperplanes(dim, n_planes, seed)
        blocked = embeddings.withColumn(
            "block", lsh_bucket("embedding", planes)
        )
    else:
        check_block_cardinality(
            embeddings, block_col, "embedding_near_dup_pairs",
            min_block_ratio, force=force,
        )
        blocked = embeddings.withColumn("block", F.col(block_col))
    blocked = blocked.select(
        "vec_id", "embedding", "block", norm("embedding", dim).alias("__nrm")
    )
    return _cosine_pairs(blocked, "block", round_to, dim).filter(
        F.col("sim") >= threshold
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: deterministic k-means coarse quantizer
# ---------------------------------------------------------------------------


def _fold_dist2(a, b) -> Column:
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dist2(a, b, dim: int | None = None) -> Column:
    """Squared L2 distance as the SAME left-to-right IEEE fold on both
    engines (DuckDB twin: list_reduce over the zipped squares).
    ``dim`` swaps in the unrolled codegen form for exactly-``dim``
    vectors — bit-identical, guarded fallback (see :func:`dot`)."""
    if dim is None or not (isinstance(a, str) and isinstance(b, str)):
        return _fold_dist2(_as_col(a), _as_col(b))
    diff = "(CAST({x} AS DOUBLE) - CAST({y} AS DOUBLE))"
    return F.expr(_fold_sql(f"{diff} * {diff}", (a, b), dim))


def _assign_clusters(
    embeddings: DataFrame, centroids: DataFrame, dim: int | None = 64
) -> DataFrame:
    """(vec_id, cid): nearest centroid per vector; ``min(struct(dist2,
    cid))`` gives a deterministic argmin with cid tie-break.  Centroids
    broadcast — the vectors never shuffle."""
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        F.struct(
            _dist2("embedding", "centroid", dim).alias("d2"),
            F.col("cid").alias("cid"),
        ).alias("cand"),
    )
    return scored.groupBy("vec_id").agg(F.min("cand").alias("best")).select(
        "vec_id", F.col("best.cid").alias("cid")
    )


def ivf_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    round_to: int = 6,
    dim: int | None = 64,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF coarse quantizer: k-means with closed-form
    seeding (the ``n_centroids`` smallest vec_ids) and a FIXED number of
    Lloyd iterations.

    Cross-engine exactness (the DuckDB oracle replays every step):

    * centroid updates sum components as DECIMAL — exact, order
      independent, so Spark's partial aggregation order cannot perturb
      low bits — then divide the double-cast sum by the count and round;
    * assignments argmin over ``struct(dist2, cid)`` (cid tie-break);
      distances use the same sequential fold both engines run.

    At 100 TB: assignment is a broadcast map pass (vectors never
    shuffle); the update shuffles (cid, dim, value) triples only."""
    centroids = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"),
        F.transform(
            "embedding", lambda x: F.round(x.cast("double"), round_to)
        ).alias("centroid"),
    )
    for _ in range(iters):
        assigned = _assign_clusters(embeddings, centroids, dim)
        exploded = (
            embeddings.join(assigned, "vec_id")
            .select("cid", F.posexplode("embedding").alias("dim", "value"))
        )
        sums = exploded.groupBy("cid", "dim").agg(
            F.sum(F.col("value").cast("double").cast("decimal(30,12)")).alias(
                "s"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        means = sums.select(
            "cid",
            "dim",
            F.round(F.col("s").cast("double") / F.col("n"), round_to).alias(
                "m"
            ),
        )
        centroids = (
            means.groupBy("cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("p")
            )
            .select(
                "cid", F.transform("p", lambda s: s["m"]).alias("centroid")
            )
        )
    assigned = _assign_clusters(embeddings, centroids, dim)
    return assigned, centroids


def build_ivf_index(
    catalog,
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    name: str = "ivf",
):
    """Build the IVF coarse quantizer ONCE and persist it through the
    snapshot catalog (``{name}_assigned`` + ``{name}_centroids`` tables)
    — at scale the index is built at ingest cadence and PROBED at query
    cadence; rebuilding k-means per query (what the oracle-replay query
    does) is wrong at 100 TB.  Returns the committed snapshot."""
    assigned, centroids = ivf_index(embeddings, n_centroids, iters)
    return catalog.commit(
        wave=0,
        tables={f"{name}_assigned": assigned, f"{name}_centroids": centroids},
        metrics={"n_centroids": n_centroids, "iters": iters},
    )


def load_ivf_index(
    spark, catalog, name: str = "ivf"
) -> tuple[DataFrame, DataFrame]:
    """(assigned, centroids) as committed by ``build_ivf_index``."""
    return (
        catalog.read_table(spark, f"{name}_assigned"),
        catalog.read_table(spark, f"{name}_centroids"),
    )


def knn_ivf(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    round_to: int = 4,
    index: tuple[DataFrame, DataFrame] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via the IVF index: score only vectors whose
    cluster is among the ``n_probe`` centroids nearest the query.  With
    C clusters and p probes this scans ~N·p/C vectors; recall is tested
    against the brute-force baseline.

    ``index=(assigned, centroids)`` probes a PREBUILT index (see
    ``build_ivf_index``/``load_ivf_index``) without re-running k-means —
    the scale path; omitted, the index is built inline (the
    self-contained, oracle-replayable form)."""
    if index is not None:
        assigned, centroids = index
    else:
        assigned, centroids = ivf_index(embeddings, n_centroids, iters, dim=dim)
    query = _query_row(embeddings, query_id, dim)
    probe = (
        centroids.crossJoin(F.broadcast(query))
        .select(
            "cid",
            F.struct(
                _dist2("centroid", "query_embedding", dim).alias("d2"),
                F.col("cid").alias("c"),
            ).alias("key"),
        )
        .orderBy("key")
        .limit(n_probe)
        .select("cid")
    )
    candidates = embeddings.join(assigned, "vec_id").join(
        F.broadcast(probe), "cid", "left_semi"
    )
    return _cosine_top_k(candidates, query, query_id, k, round_to, dim)


# ---------------------------------------------------------------------------
# int8 quantization (the 4x memory lever for ANN at scale)
# ---------------------------------------------------------------------------

def quantize_embeddings(
    embeddings: DataFrame,
    emb_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = floor(x_i * 127 / max|x|)`` (floor, not round — round's
    half-way rule differs across engines, floor is bit-deterministic
    everywhere; the ≤0.5-step bias is irrelevant at the recall level
    ANN cares about).  All-zero vectors quantize to zeros with scale 0.

    Every element is cast float→double BEFORE arithmetic (exact), so
    the produced codes are engine-replayable integers.  Values live in
    [-127, 127].

    Why: a float32 embedding column is the dominant byte cost of an ANN
    index (64-dim float32 = 256 B/vector; int8 + one scale = 72 B) —
    quantizing at ingest cuts index shuffle and memory ~4x, and integer
    dot products are exactly representable in doubles, so scoring stays
    deterministic.  Map-only; other columns pass through."""
    emb = F.col(emb_col)
    max_abs = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    qvec = F.when(
        max_abs == F.lit(0.0), F.transform(emb, lambda x: F.lit(0))
    ).otherwise(
        F.transform(
            emb,
            lambda x: F.floor(
                x.cast("double") * F.lit(127.0) / max_abs
            ).cast("int"),
        )
    )
    passthrough = [c for c in embeddings.columns if c != emb_col]
    return embeddings.select(
        *passthrough,
        (max_abs / F.lit(127.0)).alias("scale"),
        qvec.alias("qvec"),
    )


def knn_quantized(
    embeddings: DataFrame, query_id: int, k: int = 10, dim: int | None = None
) -> DataFrame:
    """Top-k neighbors by QUANTIZED dot product: int8 codes from
    ``quantize_embeddings``, integer dot (exact — every partial sum of
    64 products of |q| ≤ 127 fits a double with no rounding, so
    summation order cannot matter), rescaled by the two scales.
    Same broadcast-query + TakeOrdered shape as ``knn_bruteforce``;
    ties break on vec_id for engine-stable selection."""
    q = quantize_embeddings(embeddings)
    query = q.filter(F.col("vec_id") == query_id).select(
        F.col("scale").alias("q_scale"), F.col("qvec").alias("q_qvec")
    )
    if dim is None:
        dotq = F.aggregate(
            F.zip_with("qvec", "q_qvec", lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
    else:
        # integer sums are order-exact, so the unrolled codegen form is
        # trivially value-identical
        dotq = F.expr(
            _fold_sql(
                "CAST(({x} * {y}) AS BIGINT)", ("qvec", "q_qvec"), dim,
                zero="CAST(0 AS BIGINT)",
            )
        )
    scored = (
        q.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            (dotq.cast("double") * F.col("scale") * F.col("q_scale")).alias(
                "qscore"
            ),
        )
    )
    return scored.orderBy(F.desc("qscore"), F.asc("vec_id")).limit(k)


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup within coarse k-means clusters
# ---------------------------------------------------------------------------

def semantic_dedup(
    embeddings: DataFrame,
    assigned: DataFrame,
    threshold: float = 0.95,
    round_to: int = 4,
    dim: int | None = 64,
) -> DataFrame:
    """Semantic deduplication inside IVF/k-means clusters — the public
    SemDeDup recipe (Abbas et al., "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication", arXiv 2023): embedding
    near-duplicates are overwhelmingly CO-CLUSTERED, so pairwise cosine
    is computed only within each coarse cluster, never globally.

    ``assigned`` is the persisted coarse-quantizer assignment
    ``(vec_id, cid)`` (``build_ivf_index`` / ``load_ivf_index`` — the
    same ingest-time index the ANN probe path uses; one index, two
    consumers).  A vector is DROPPED when any LOWER-id vector in its
    cluster has rounded cosine ≥ ``threshold`` with it
    (dominated-by-any-lower-id: one embarrassingly-parallel pass with a
    deterministic outcome, vs the paper's sequential kept-set sweep
    whose outcome depends on scan order and cannot fan out).  Output:
    ``(vec_id, cid, dup_of, keep)`` where ``dup_of`` = smallest
    dominating id (NULL ⇒ kept).

    Scale shape: both sides of the within-cluster self-join carry ONE
    hash(cid) exchange (ReusedExchange on the self-join); pair volume
    is Σ |cluster|² /2 — bounded by the quantizer's cluster sizes, the
    SemDeDup contract (n_centroids scales with N; ~sqrt(N) keeps
    clusters flat).  No Python in the join path; the groupBy(id_b) min
    is map-side combined."""
    # the pair stage's parallelism stays bounded by distinct cids (the
    # SemDeDup contract scales n_centroids with N)
    e = _pin_pair_stage(
        embeddings.join(assigned, "vec_id").select(
            "vec_id", "cid", "embedding", norm("embedding", dim).alias("__nrm")
        ),
        "cid",
    )
    dominating = _cosine_pairs(e, "cid", round_to, dim).toDF(
        "id_a", "id_b", "sim"
    ).filter(F.col("sim") >= threshold)
    dup_of = dominating.groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
    return e.join(dup_of, e["vec_id"] == dup_of["id_b"], "left").select(
        "vec_id",
        "cid",
        "dup_of",
        F.col("dup_of").isNull().alias("keep"),
    )


# ---------------------------------------------------------------------------
# Top principal component via power iteration (PCA-for-ANN primitive)
# ---------------------------------------------------------------------------

def top_component(
    embeddings: DataFrame,
    iters: int = 3,
    dim: int = 64,
    round_to: int = 9,
) -> DataFrame:
    """Leading principal direction of the (uncentered) embedding cloud
    by FIXED-round power iteration — the public dimensionality-
    reduction primitive ANN indexes run before quantization (PCA /
    OPQ-lineage rotation, e.g. the faiss preprocessing stage): x ←
    normalize(Σ_v v·(v·x)), i.e. repeated multiplication by the Gram
    matrix without ever materializing it.

    Cross-engine determinism (the oracle replays every round):

    * per-vector projections ``v·x`` use the SAME left-to-right IEEE
      fold both engines run (the `_dist2`/dot discipline);
    * the d-dimensional accumulation Σ (value · proj) sums as
      DECIMAL(30,15) — exact and order-independent, so Spark's partial
      aggregation cannot perturb low bits (the ``ivf_index`` centroid
      trick);
    * each round renormalizes with a sequential-fold norm and ROUNDS
      to ``round_to`` — both engines re-enter the next round with
      bit-identical state.

    Start vector = e_0 (deterministic; a cloud exactly orthogonal to
    e_0 is a measure-zero pathology the caller can break by rotating).
    Output: ``(dim, component)``, one row per dimension.

    Scale shape: each round is one broadcast of the 1-row direction,
    one map-side projection pass, and ONE groupBy(dim) over (dim,
    partial-sum) pairs — shuffle volume d × partitions, independent of
    corpus size.  State is pinned per round (eager localCheckpoint on
    a 1-row frame)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    spark = embeddings.sparkSession
    # intermediate rounds pin LAZILY (lineage still truncated at first
    # materialization; only the last round's pin runs a driver job and
    # cascades the earlier ones) — the same job-collapse as pagerank's
    # lazy pins; values are untouched
    x = spark.range(1).select(
        F.array(
            *[F.lit(1.0 if i == 0 else 0.0) for i in range(dim)]
        ).alias("x")
    ).localCheckpoint(eager=False)
    for _round in range(iters):
        projected = embeddings.crossJoin(F.broadcast(x)).select(
            "embedding", dot("embedding", "x", dim).alias("proj")
        )
        sums = (
            projected.select(
                F.posexplode("embedding").alias("d", "value"), "proj"
            )
            .groupBy("d")
            .agg(
                F.sum(
                    (F.col("value").cast("double") * F.col("proj")).cast(
                        "decimal(30,15)"
                    )
                ).alias("s")
            )
        )
        gathered = (
            sums.groupBy()
            .agg(F.array_sort(F.collect_list(F.struct("d", "s"))).alias("p"))
            .select(
                F.transform(
                    "p", lambda st: st["s"].cast("double")
                ).alias("y")
            )
        )
        norm2 = F.aggregate(
            F.transform("y", lambda v: v * v),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        x = gathered.select(
            F.transform(
                "y", lambda v: F.round(v / F.sqrt(norm2), round_to)
            ).alias("x")
        ).localCheckpoint(eager=(_round == iters - 1))
    return x.select(F.posexplode("x").alias("dim", "component"))


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 4,
) -> DataFrame:
    """k-NN GRAPH construction — every vector's top-``k`` neighbors
    among its hyperplane-LSH bucket candidates: the batch primitive
    graph-based ANN indexes and graph clustering start from (public
    NN-Descent/HNSW-build lineage reduced to the one-bucket-probe
    round a Spark pass can express).  Output: ``(vec_id, neighbor,
    sim, rank)``, rank 1 = closest, deterministic (rounded cosine
    DESC, neighbor ASC).

    Candidates come ONLY from the vector's own bucket (never
    all-pairs — the 100 TB contract); a vector alone in its bucket
    emits no edges, and true neighbors hashed elsewhere are missed —
    the documented recall boundary (lower ``n_planes`` for bigger
    buckets, or union multiple plane seeds for multi-probe).

    Scale shape: ONE hash(bucket) exchange reused by both self-join
    sides (ReusedExchange), pair volume ~N²/2^(planes+1) spread evenly
    (each pair is scored once, then emitted from both ends), then a
    per-vector ranked window."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    planes = hyperplanes(dim, n_planes, seed)
    blocked = embeddings.withColumn(
        "block", lsh_bucket("embedding", planes)
    ).select(
        "vec_id", "embedding", "block", norm("embedding", dim).alias("__nrm")
    )
    pairs = _cosine_pairs(blocked, "block", round_to, dim)
    # each pair scored once, then emitted from both of its ends
    ends = [
        F.struct(F.col(u).alias("vec_id"), F.col(v).alias("neighbor"), "sim")
        for u, v in (("vec_a", "vec_b"), ("vec_b", "vec_a"))
    ]
    scored = pairs.select(F.inline(F.array(*ends)))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("neighbor").asc()
    )
    return scored.select(
        "*", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= k)
