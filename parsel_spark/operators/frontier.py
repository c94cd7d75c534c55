"""Distributed URL frontier: politeness-gated dequeue, link extraction,
sharded-bloom + exact dedup, deterministic ordering.

Determinism contract (north rule: exact crawl order + seen set vs the
single-process oracle): every choice is a pure function of
``(priority DESC, seq ASC, url_hash ASC, url ASC)`` total order and
wave-synchronous token-bucket state — never of partitioning, timing or
wall-clock.  Any parallelism level yields identical results.

Scale shape (10^10-URL frontier):

* dequeue on a deep frontier is two-phase: a SALTED per-(host, salt)
  window prunes each host's candidates to ≤ 16×cap rows before the
  per-host window, so a host deeper than one task's share of the
  frontier cannot create a straggler task (``CrawlRun`` picks the
  window from the deepest host's rows, which ``host_depth`` reads off
  the ranks of the previous pass);
* the html payload column stays in the map stage that extracts links;
  only (url, host, hash, priority) tuples shuffle;
* seen-set: ``shard_gate`` runs ONE cogroup by bloom shard — the
  wave's links on one side, the shard's bitmap plus its exact seen
  urls (``seen_state_table``, partitioned once per commit) on the
  other.  The bloom probe pre-filters; the exact seen set is consulted
  only for bloom-positive rows.  The same task folds the shard's new
  URLs into its bitmap and emits the shard's next state row, so a
  commit needs no second Python pass over the bitmaps.
"""

from __future__ import annotations

import math
from urllib.parse import urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.robots import robots_pattern_matches
from ..functions.rows import arrow_schema
from .bloom import (
    DEFAULT_BITS_PER_SHARD,
    DEFAULT_NUM_HASHES,
    BloomShard,
    CuckooShard,
)

# politeness constants (shared with the oracle — plans/oracle.py)
TOKEN_CAP = 3.0
INITIAL_TOKENS = 1.0
NEW_PRIORITY_BASE = 1.0  # new links get priority 1/(wave+2) < any seed priority
DEQUEUE_SALT_BUCKETS = 16
MAX_FETCH_CAP = 8  # global upper bound on per-host per-wave fetches

FRONTIER_SCHEMA = (
    "url string, url_hash long, host string, priority double, seq long, "
    "discovered_wave int"
)
HOST_STATE_SCHEMA = (
    "host string, tokens double, crawl_delay double, max_fetch_per_wave int"
)
BLOOM_SCHEMA = "shard_id int, bitmap binary, n_items long, shard_hash long"


def refill_tokens(tokens: float, crawl_delay: float) -> float:
    return min(TOKEN_CAP, tokens + 1.0 / crawl_delay)


def allowed_fetches(tokens: float, max_fetch_per_wave: int, available: int) -> int:
    return min(int(math.floor(tokens)), int(max_fetch_per_wave), available, MAX_FETCH_CAP)


FRONTIER_COLS = ("url", "url_hash", "host", "priority", "seq", "discovered_wave")


def politeness_split(
    frontier: DataFrame,
    host_state: DataFrame,
    skew_prune: bool = False,
    ranks: bool = False,
) -> DataFrame:
    """Per-host priority-queue dequeue under token-bucket politeness,
    as ONE flagged pass: every frontier row comes back with a
    ``dequeued`` boolean, so the wave needs NO separate remaining
    anti-join (round 2 broadcast the dequeued url set back at the
    frontier every wave) and the output keeps the window's hash(host)
    partitioning for the host-state update that follows.

    Entirely JVM-side and broadcast-free:

    1. per-host refill as column expressions (same IEEE double sequence
       the oracle runs — results bit-identical);
    2. with ``skew_prune`` a SALTED pre-window bounds any Zipf-skewed
       host to ≤16×cap rows before the per-host ranking window; the
       extra full-frontier shuffle only pays off when one host holds
       more rows than a task's share of the frontier — ``CrawlRun``
       turns it off otherwise.  Rows the salt
       pass prunes are provably never dequeuable (``prn > CAP`` within a
       (host, salt) bucket ⇒ ≥ CAP same-host rows rank above them, and
       the admit count k ≤ MAX_FETCH_CAP = CAP), so they rejoin the
       output as ``dequeued = false`` WITHOUT passing through the
       per-host window — every frontier row appears in the result
       exactly once, pruned or not (results identical either way:
       the deep-host tests);
    3. the budget join is CO-PARTITIONED (``SHUFFLE_HASH`` on the
       host-state side, which the loop carries hash(host)-partitioned
       across waves) — no per-wave driver collect+broadcast of the
       O(hosts) state table;
    4. ``dequeued`` = ``row_number() <= k`` with the oracle's
       k = min(floor(refill), max_fetch, |candidates|, CAP) (the
       candidate-count term is enforced by row_number itself).

    A per-host grouped-map gate would make one Python call per host
    (~1 ms each — minutes at 10^6 hosts); this shape is pure codegen'd
    window + co-partitioned-join work.

    ``ranks=True`` keeps the window ranks: ``rn`` (rank within the
    host; null on salt-pruned rows) and, with ``skew_prune``, ``prn``
    (rank within the (host, salt) bucket) — what ``host_depth`` reads
    the deepest host's row count from.
    """
    from pyspark.sql import Window

    refill_expr = F.least(
        F.lit(TOKEN_CAP), F.col("tokens") + F.lit(1.0) / F.col("crawl_delay")
    )
    prepared = host_state.select(
        "host",
        refill_expr.alias("refilled"),
        F.col("max_fetch_per_wave").alias("mf"),
    )

    candidates = frontier
    pruned_out = None
    if skew_prune:
        pre_window = Window.partitionBy("host", "salt").orderBy(
            F.desc("priority"), F.asc("seq"), F.asc("url_hash"), F.asc("url")
        )
        salted = frontier.withColumn(
            "salt", F.pmod(F.hash("url"), F.lit(DEQUEUE_SALT_BUCKETS))
        ).withColumn("prn", F.row_number().over(pre_window)).drop("salt")
        candidates = salted.filter(F.col("prn") <= MAX_FETCH_CAP)
        # pigeonhole: prn > CAP ⇒ rn-over-host > CAP ≥ k ⇒ never dequeued.
        # These rows MUST still flow through (the loop derives the next
        # frontier from this output); both branches read the SAME salted
        # exchange (ReuseExchange), so the frontier shuffles once.
        pruned_out = salted.filter(F.col("prn") > MAX_FETCH_CAP).withColumn(
            "rn", F.lit(None).cast("int")
        )
    host_window = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc("seq"), F.asc("url_hash"), F.asc("url")
    )
    # defaults for hosts without registered state: tokens=INITIAL, delay 1
    default_refilled = min(TOKEN_CAP, INITIAL_TOKENS + 1.0)
    flagged = (
        candidates.withColumn("rn", F.row_number().over(host_window))
        .join(prepared.hint("SHUFFLE_HASH"), "host", "left")
        .withColumn(
            "k",
            F.least(
                F.floor(F.coalesce("refilled", F.lit(default_refilled))).cast("int"),
                F.coalesce("mf", F.lit(1)),
                F.lit(MAX_FETCH_CAP),
            ),
        )
        .withColumn("dequeued", F.col("rn") <= F.col("k"))
        .drop("k", "refilled", "mf")
    )
    if pruned_out is not None:
        flagged = flagged.unionByName(
            pruned_out.withColumn("dequeued", F.lit(False))
        )
    return flagged if ranks else flagged.drop("rn", "prn")


def host_depth(max_rn: int | None, max_prn: int | None) -> int:
    """Frontier rows of the deepest host, from the largest ``rn`` and
    ``prn`` a ``politeness_split(ranks=True)`` pass produced (``prn``
    None: plain window).

    ``max(rn)`` is exact whenever nothing was pruned: always on the
    plain window, and on the salted one when no (host, salt) bucket
    ranked past the cap.  Otherwise a host's rows spread over
    ``DEQUEUE_SALT_BUCKETS`` buckets of at most ``max(prn)`` rows each,
    so ``DEQUEUE_SALT_BUCKETS × max(prn)`` bounds every host."""
    if max_prn is not None and max_prn > MAX_FETCH_CAP:
        return DEQUEUE_SALT_BUCKETS * int(max_prn)
    return int(max_rn or 0)


def host_state_update(host_state: DataFrame, dequeued: DataFrame) -> DataFrame:
    """Token-state update from what was ACTUALLY dequeued (== k clipped
    by availability — exactly what the oracle consumes).  Both the
    ``groupBy`` and the full-outer join run co-partitioned when
    ``dequeued`` comes out of ``politeness_split`` (hash(host)) and
    ``host_state`` is carried hash(host)-partitioned — zero exchanges
    in the loop's steady state."""
    used = dequeued.groupBy("host").agg(F.count(F.lit(1)).alias("used"))
    return host_state.join(used.hint("SHUFFLE_HASH"), "host", "full_outer").select(
        "host",
        (
            F.least(
                F.lit(TOKEN_CAP),
                F.coalesce(F.col("tokens"), F.lit(INITIAL_TOKENS))
                + F.lit(1.0) / F.coalesce(F.col("crawl_delay"), F.lit(1.0)),
            )
            - F.coalesce(F.col("used"), F.lit(0)).cast("double")
        ).alias("tokens"),
        F.coalesce(F.col("crawl_delay"), F.lit(1.0)).alias("crawl_delay"),
        F.coalesce(F.col("max_fetch_per_wave"), F.lit(1)).alias(
            "max_fetch_per_wave"
        ),
    )


def politeness_dequeue(
    frontier: DataFrame, host_state: DataFrame, skew_prune: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Classic two-output API over ``politeness_split`` +
    ``host_state_update``: (dequeued frontier rows, updated host_state).
    The loop uses the flagged split directly (one pass feeds dequeued,
    remaining AND the state update); this wrapper serves tests and
    standalone callers."""
    flagged = politeness_split(frontier, host_state, skew_prune=skew_prune)
    dequeued = flagged.filter(F.col("dequeued")).select(*FRONTIER_COLS)
    return dequeued, host_state_update(host_state, dequeued)


def extract_wave_links(
    fetched: DataFrame, respect_nofollow: bool = False
) -> DataFrame:
    """html → canonical link URLs (+xxhash64), via the FUSED
    parse/select/resolve/canonicalize Arrow UDF — one Python pass per
    page, only the canonical url array crosses the JVM↔Python boundary.
    Arrow→pylist marshalling costs no more than pandas here: moving the
    row runner from ``pandas_udf`` to ``arrow_udf`` was flat end to end
    (10 interleaved pairs, 4 cores, medians: ``query_suite`` op_s
    geomean 0.451 → 0.454 s, ``crawl_backlog`` 0.907 → 0.895 s).  Runs
    map-side against the fetch join output; the html column is
    projected away before any shuffle.

    ``respect_nofollow=True`` applies the REP page-level layer (meta
    robots nofollow + ``<a rel=nofollow>`` token) inside the SAME fused
    UDF — no extra pass, no plan change."""
    from ..functions.udfs import extract_canonical_links

    return (
        fetched.select(
            F.explode(
                extract_canonical_links(
                    "html", "url", respect_nofollow=respect_nofollow
                )
            ).alias("url")
        )
        .select("url", F.xxhash64("url").alias("url_hash"))
    )


def robots_filter(links: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop robots-denied URLs (broadcast dim join + JVM-side prefix
    checks via higher-order functions).  Entirely map-side — safe at any
    point in a pipeline.

    RFC 9309 longest-match semantics: the longest matching rule wins
    (specificity = octets of the raw rule, ``*``/``$`` included), so a
    more specific ``Allow`` overrides a broader ``Disallow``; rule
    paths support the §2.2.3 ``*`` wildcard and trailing ``$`` anchor
    via the LIKE translation (``robots.robots_pattern_like`` — the crawl
    gate runs the python twin ``robots_allowed_py``; a parity test pins
    them)
    (oracle twin: ``plans/oracle.py _robots_allowed``)."""
    from ..functions.robots import robots_pattern_like

    def longest_match(col: str):
        return F.aggregate(
            F.filter(
                col, lambda p: robots_pattern_like(F.col("path"), p)
            ),
            F.lit(0),
            lambda acc, p: F.greatest(acc, F.length(p)),
        )

    with_host = links
    if "host" not in links.columns:
        with_host = with_host.withColumn("host", F.parse_url("url", F.lit("HOST")))
    # path-less URLs ('http://host') default to '/' — the oracle and the
    # crawl gate both use ``urlsplit(url).path or '/'``; parse_url returns
    # an empty path there, which would make every deny prefix miss.
    # RFC 9309/Google semantics match against path + '?' + query (so
    # 'Disallow: /*?sessionid=' works and '/*.php$' does NOT match
    # '/x.php?a=1') — the query rides the match target when present
    with_host = with_host.withColumn(
        "path",
        F.concat(
            F.coalesce(
                F.nullif(F.parse_url("url", F.lit("PATH")), F.lit("")),
                F.lit("/"),
            ),
            F.coalesce(
                F.concat(
                    F.lit("?"), F.parse_url("url", F.lit("QUERY"))
                ),
                F.lit(""),
            ),
        ),
    )
    joined = with_host.join(F.broadcast(robots), "host", "left")
    deny_len = longest_match("deny_prefixes")
    allow_len = longest_match("allow_prefixes")
    allowed = joined.filter(
        F.col("deny_prefixes").isNull()
        | (deny_len == 0)
        | (F.coalesce(allow_len, F.lit(0)) >= deny_len)
    )
    return allowed.select("url", "url_hash", "host")


def _load_shard(
    kind: str, state: pa.Table, m_bits: int, k: int
) -> "BloomShard | CuckooShard":
    """The shard held in the first row of ``state`` (an empty shard when
    ``state`` has no rows)."""
    if not state.num_rows:
        return CuckooShard() if kind == "cuckoo" else BloomShard(m_bits, k)
    bitmap = state["bitmap"][0].as_py()
    n_items = state["n_items"][0].as_py()
    if kind == "cuckoo":
        return CuckooShard(table=bitmap, n_items=n_items)
    return BloomShard(m_bits, k, bitmap=bitmap, n_items=n_items)


def _fold(
    shard: "BloomShard | CuckooShard", hashes: np.ndarray, delete: bool = False
) -> None:
    """Add url hashes to a shard (or delete them: cuckoo only).  Cuckoo
    shards take them in ``url_hash`` order — their table depends on
    insertion order, and the order rows reach a task does not repeat."""
    if isinstance(shard, CuckooShard):
        for h in np.sort(hashes):
            if delete:
                shard.delete(int(h))
            else:
                shard.add(int(h))
    else:
        shard.add_hashes(hashes)


def _with_shard_hash(states: DataFrame) -> DataFrame:
    """(shard_id, bitmap, n_items) rows plus their lineage fingerprint,
    hashed JVM-side (equal to the shards' ``content_hash()``)."""
    return states.withColumn("shard_hash", F.xxhash64("bitmap"))


def _robots_match_target(url: str) -> str:
    """path + '?' + query (query included per the RFC 9309/Google
    convention) with the path-less default '/' — the python twin of the
    ``robots_filter`` match-target column."""
    parts = urlsplit(url)
    target = parts.path or "/"
    if parts.query:
        target += "?" + parts.query
    return target


def robots_allowed_py(
    host: str, path: str, rules_map: dict
) -> bool:
    """Python twin of ``robots_filter``'s RFC 9309 longest-match (and of
    the oracle's ``_robots_allowed``): the longest matching rule wins,
    so a more specific ``Allow`` overrides a broader ``Disallow``.
    Rule paths support the §2.2.3 ``*``/trailing-``$`` metacharacters
    (``robots.robots_pattern_matches``; imported at module level — this
    runs per candidate URL inside the wave cogroup)."""
    rules = rules_map.get(host)
    if rules is None:
        return True
    deny, allow = rules
    deny_len = max(
        (len(p) for p in deny if robots_pattern_matches(p, path)), default=0
    )
    if deny_len == 0:
        return True
    allow_len = max(
        (len(p) for p in allow if robots_pattern_matches(p, path)), default=0
    )
    return allow_len >= deny_len


def bloom_update(
    added: DataFrame,
    bloom_state: DataFrame,
    num_shards: int,
    m_bits: int = DEFAULT_BITS_PER_SHARD,
    k: int = DEFAULT_NUM_HASHES,
    kind: str = "bloom",
    delete: bool = False,
) -> DataFrame:
    """Fold newly-seen url hashes into the shard filters; returns the new
    state (shard_id, bitmap, n_items, shard_hash) — the shard_hash
    doubles as per-partition lineage.  ``delete=True`` removes hashes
    instead (cuckoo only — bloom filters cannot forget).

    The crawl wave folds inside ``shard_gate``; this standalone cogroup
    serves seed initialization and cuckoo deletions.  A cogroup, not on
    ``functions/rows.py``: a task folds a whole shard."""
    if delete and kind != "cuckoo":
        raise ValueError("deletion requires the cuckoo filter backend")
    with_shard = added.select(
        F.pmod(F.hash("url"), F.lit(num_shards)).alias("shard_id"), "url_hash"
    )

    out_schema = "shard_id int, bitmap binary, n_items long"
    schema = arrow_schema(out_schema)

    def fold(key, new: pa.Table, state: pa.Table) -> pa.Table:
        shard = _load_shard(kind, state, m_bits, k)
        _fold(shard, new["url_hash"].to_numpy(), delete)
        row = {
            "shard_id": key[0].as_py(),
            "bitmap": shard.to_bytes(),
            "n_items": shard.n_items,
        }
        return pa.Table.from_pylist([row], schema=schema)

    return _with_shard_hash(
        with_shard.groupBy("shard_id")
        .cogroup(bloom_state.groupBy("shard_id"))
        .applyInArrow(fold, schema=out_schema)
    )


def seen_state_table(
    seen: DataFrame,
    bloom_state: DataFrame,
    num_shards: int,
    partitions: int,
) -> DataFrame:
    """Combined per-shard gate state: the bloom/cuckoo shard rows
    (``bitmap`` non-null) unioned with the exact seen rows reshaped into
    the same schema (``seen_url`` non-null), repartitioned
    hash(shard_id) — the layout ``shard_gate``'s cogroup consumes with
    ZERO state-side exchange.  Built once per COMMIT (the seen set and
    the folded bloom only change at commits) and cached; per wave only
    the wave's candidate keys shuffle."""
    bloom_rows = bloom_state.withColumn("seen_url", F.lit(None).cast("string"))
    seen_rows = seen.select(
        F.pmod(F.hash("url"), F.lit(num_shards)).alias("shard_id"),
        F.lit(None).cast("binary").alias("bitmap"),
        F.lit(None).cast("long").alias("n_items"),
        F.lit(None).cast("long").alias("shard_hash"),
        F.col("url").alias("seen_url"),
    )
    return bloom_rows.unionByName(seen_rows).repartition(
        partitions, "shard_id"
    )


def shard_gate(
    candidates: DataFrame,
    gate_state: DataFrame,
    num_shards: int,
    m_bits: int = DEFAULT_BITS_PER_SHARD,
    k: int = DEFAULT_NUM_HASHES,
    kind: str = "bloom",
    pending: DataFrame | None = None,
    robots_bc=None,
) -> DataFrame:
    """The wave's FUSED seen-set gate: dedup + bloom probe + EXACT seen
    check + pending-delta match (+ robots when ``robots_bc`` is given)
    + the bloom fold, all riding ONE cogroup shuffle of wave-sized keys.

    The exact check happens here, not in a JVM anti-join after the
    cogroup: the cogroup's python output has UNKNOWN partitioning to
    Catalyst, so a following anti-join always forces one more full
    exchange + join stage per wave — fixed stage overhead that does not
    shrink with executors.  Here the physical layout is KNOWN: the seen rows ride the state side of
    the SAME cogroup (``seen_state_table`` pre-partitions them
    hash(shard_id) once per commit), and same-url rows always share a
    shard (shard id is a pure function of the url), so set membership in
    the python gate is exactly the anti-join's semantics.  The bloom
    filter remains the first-line probe (north-rule architecture): the
    exact set is consulted only for bloom-positive rows.

    ``pending`` (urls discovered since the last commit) rides the
    CANDIDATE side as tagged rows — the state cache cannot be unioned
    per wave without destroying its partitioning — and pending tags are
    never emitted.

    The fold: the task holds the shard's committed bitmap, the pending
    urls and this wave's new ones (not seen, robots-allowed), so it adds
    the hashes of both to the bitmap after probing and emits the result
    as one STATE row ``(shard_id, bitmap, n_items)`` — the shard's
    filter as ``bloom_update(<seen since the commit>, <committed>)``
    would fold it.  Exactly those shards emit one: the ones with a
    committed row and the ones receiving at least one hash.  With
    ``pending`` holding every url since the last commit, the last
    wave's state rows ARE the next commit's bloom table.

    Output: deduped CANDIDATE rows (``bitmap`` null) with ``is_seen``
    (bloom ∧ exact ∨ pending) and optional ``robots_allowed`` flags,
    plus the STATE rows (``bitmap`` non-null; their candidate columns
    are fillers); filtering stays map-side with the caller so
    observation counters keep their meaning.  A cogroup, not on
    ``functions/rows.py``: a probe needs its whole shard."""
    with_shard = candidates.select(
        "url", "url_hash", "host", F.lit(False).alias("is_pending")
    )
    if pending is not None:
        # pending rows carry their real url_hash (the fold adds it);
        # they are never emitted, so they need no host
        with_shard = with_shard.unionByName(
            pending.select(
                "url",
                F.xxhash64("url").alias("url_hash"),
                F.lit(None).cast("string").alias("host"),
                F.lit(True).alias("is_pending"),
            )
        )
    with_shard = with_shard.withColumn(
        "shard_id", F.pmod(F.hash("url"), F.lit(num_shards))
    )

    check_robots = robots_bc is not None
    out_schema = "url string, url_hash long, host string, is_seen boolean"
    if check_robots:
        out_schema += ", robots_allowed boolean"
    out_schema += ", shard_id int, bitmap binary, n_items long"

    schema = arrow_schema(out_schema)

    def gate(key, cand: pa.Table, state: pa.Table) -> pa.Table:
        shard_id = key[0].as_py()
        pending = cand.filter(cand["is_pending"])
        pending_set = set(pending["url"].to_pylist())
        cand = cand.filter(pc.invert(cand["is_pending"]))
        # drop repeated urls, keeping each one's first row in order
        first = pc.index_in(pc.unique(cand["url"]), value_set=cand["url"])
        cand = cand.take(first)
        urls = cand["url"].to_pylist()
        bitmap_rows = state.filter(pc.is_valid(state["bitmap"]))
        shard = _load_shard(kind, bitmap_rows, m_bits, k)
        hashes = cand["url_hash"].to_numpy()
        if not bitmap_rows.num_rows:
            maybe = np.zeros(len(urls), dtype=bool)
        elif isinstance(shard, CuckooShard):
            maybe = np.fromiter(
                (shard.contains(int(h)) for h in hashes),
                dtype=bool,
                count=len(hashes),
            )
        else:
            maybe = shard.maybe_contains(hashes)
        # exact membership consulted ONLY where the bloom says maybe
        # (no false negatives ⇒ bloom-negative rows are definitely new);
        # pending matches are exact string equality, same as the seen set
        seen_set = set(state["seen_url"].drop_null().to_pylist()) if maybe.any() else ()
        is_seen = np.fromiter(
            ((m and u in seen_set) or u in pending_set for u, m in zip(urls, maybe)),
            dtype=bool,
            count=len(urls),
        )
        out = {
            "url": cand["url"],
            "url_hash": cand["url_hash"],
            "host": cand["host"],
            "is_seen": is_seen,
        }
        is_new = ~is_seen
        if check_robots:
            rules_map = robots_bc.value
            out["robots_allowed"] = np.fromiter(
                (
                    robots_allowed_py(h, _robots_match_target(u), rules_map)
                    for u, h in zip(urls, cand["host"].to_pylist())
                ),
                dtype=bool,
                count=len(urls),
            )
            is_new &= out["robots_allowed"]
        out["shard_id"] = np.full(len(urls), shard_id, dtype=np.int32)
        out["bitmap"] = pa.nulls(len(urls), pa.binary())
        out["n_items"] = np.zeros(len(urls), dtype=np.int64)
        table = pa.table(out, schema=schema)

        # the fold, AFTER the probe: pending + this wave's new hashes
        added = np.concatenate([pending["url_hash"].to_numpy(), hashes[is_new]])
        if not (bitmap_rows.num_rows or len(added)):
            return table
        _fold(shard, added)
        state_row = {
            "url_hash": 0,
            "is_seen": True,
            "robots_allowed": True,
            "shard_id": shard_id,
            "bitmap": shard.to_bytes(),
            "n_items": shard.n_items,
        }
        return pa.concat_tables(
            [table, pa.Table.from_pylist([state_row], schema=schema)]
        )

    return (
        with_shard.groupBy("shard_id")
        .cogroup(gate_state.groupBy("shard_id"))
        .applyInArrow(gate, schema=out_schema)
    )


def gate_bloom_rows(gated: DataFrame) -> DataFrame:
    """The bloom table (``BLOOM_SCHEMA``) held in ``shard_gate`` output:
    its STATE rows, with the lineage hash computed JVM-side."""
    return _with_shard_hash(
        gated.filter(F.col("bitmap").isNotNull()).select(
            "shard_id", "bitmap", "n_items"
        )
    )


def new_frontier_rows(
    new_urls: DataFrame, wave: int, host_priority: DataFrame | None = None
) -> DataFrame:
    """Frontier rows for wave ``wave+1``: priority = 1/(wave+2); seq =
    url_hash — a pure function of the URL, so no global ranking shuffle
    is needed for deterministic ordering.

    ``host_priority`` (optional): a ``(host, priority_rank)`` dim table
    — ``host_quality_priority`` or the PageRank priority rollup, rank 1
    = best — broadcast-joined in so better-ranked hosts' links carry a
    monotone boost ``1 / (2·(wave+2)·rank)``.  Dequeue order is (wave,
    priority DESC, ...), and every new row of a wave shares the same
    base, so the boost reorders ONLY within the discovery wave (the
    deterministic tiebreak chain below priority is untouched); hosts
    absent from the table keep the plain base.  Default None: plan and
    ordering byte-identical to the reference parity corpus."""
    priority = F.lit(NEW_PRIORITY_BASE / float(wave + 2))
    rows = new_urls
    if host_priority is not None:
        hp = host_priority.select(
            F.col("host").alias("__hp_host"),
            F.col("priority_rank").cast("double").alias("__hp_rank"),
        )
        rows = rows.join(
            F.broadcast(hp), rows["host"] == hp["__hp_host"], "left"
        )
        boost = F.lit(NEW_PRIORITY_BASE / (2.0 * float(wave + 2))) / F.col(
            "__hp_rank"
        )
        priority = priority + F.coalesce(boost, F.lit(0.0))
    return rows.select(
        "url",
        "url_hash",
        "host",
        priority.alias("priority"),
        F.col("url_hash").alias("seq"),
        F.lit(wave + 1).alias("discovered_wave"),
    )


def host_quality_priority(
    flagged: DataFrame,
    host_col: str = "host",
    keep_col: str = "keep",
) -> DataFrame:
    """Per-host quality rollup → crawl priority: the feedback loop
    production crawlers close between the corpus filter and the
    frontier (hosts whose fetched pages keep passing the quality gate
    earn budget; boilerplate farms lose it).  Input is one boolean
    quality verdict per fetched page; output one row per host:
    ``(host, n_docs, n_keep, keep_rate, priority_rank)`` with rank 1 =
    best (``keep_rate`` DESC, host ASC tiebreak — total order, so the
    ranking is deterministic and engine-replayable).

    Scale shape: ONE map-side-combined groupBy(host); the result is
    dim-table-sized (hosts ≪ pages), so the global rank window —
    a single-partition sort — is over thousands-to-millions of rows,
    not the corpus, and the table re-enters the crawl loop as a
    BROADCAST join against frontier candidates (`prepare_seeds` /
    `new_frontier_rows` consume it as a priority source).

    Reference counterpart: none — parsel stops at extraction; this is
    the scheduling layer above it."""
    agg = flagged.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(keep_col).cast("long")).alias("n_keep"),
    )
    from pyspark.sql import Window

    rated = agg.select(
        host_col,
        "n_docs",
        "n_keep",
        (F.col("n_keep") / F.col("n_docs")).alias("keep_rate"),
    )
    rank_w = Window.orderBy(F.col("keep_rate").desc(), F.col(host_col))
    return rated.withColumn(
        "priority_rank", F.rank().over(rank_w).cast("long")
    )


def recrawl_due(
    state: DataFrame,
    now_ts: int,
    min_interval_s: int = 86400,
    max_interval_s: int = 30 * 86400,
    url_col: str = "url",
) -> DataFrame:
    """Adaptive revisit scheduling (the public Cho & Garcia-Molina
    revisit-policy shape: frequently-changing pages revisit often,
    static pages back off exponentially).  Input: one row per known URL
    with ``last_fetch_ts`` (epoch seconds, NULL = never fetched),
    ``last_change_ts`` (last observed content change, NULL = unknown)
    and ``unchanged_count`` (consecutive unchanged revisits).  Output
    adds:

    * ``interval_s`` — ``clamp(min_interval_s * 2^unchanged_count,
      min, max)``, integer-exact (shifts, no floats);
    * ``due`` — never fetched, OR a change was observed after the last
      fetch (sitemap ``lastmod`` / ETag feeds ``last_change_ts``), OR
      the backoff interval has elapsed;
    * ``overdue_s`` — seconds past due (0 when not due): the natural
      priority column for :func:`politeness_window`'s ordering.

    Pure map-side column algebra over the catalog table — no shuffle;
    at 10^10 URLs the due-set filter pushes down to the scan and only
    due rows enter the wave.  ``now_ts`` is an explicit argument (never
    wall clock) so runs are deterministic and resumable."""
    if min_interval_s < 1 or max_interval_s < min_interval_s:
        raise ValueError(
            f"need 1 <= min_interval_s <= max_interval_s, got "
            f"{min_interval_s}, {max_interval_s}"
        )
    last_fetch = F.col("last_fetch_ts")
    last_change = F.col("last_change_ts")
    # 2^unchanged_count via shiftleft, capped BEFORE the multiply so a
    # deep backoff cannot overflow: counts beyond the cap's exponent
    # all clamp to max_interval_s
    max_exp = int(max(0, (max_interval_s // min_interval_s))).bit_length()
    # SQL shiftleft accepts a column bit count (the python DSL wrapper
    # does not) — both engines replay this exact integer expression
    interval = F.least(
        F.lit(min_interval_s).cast("long")
        * F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"least(unchanged_count, {max_exp}))"
        ),
        F.lit(max_interval_s).cast("long"),
    )
    elapsed = F.lit(now_ts).cast("long") - last_fetch
    due = (
        last_fetch.isNull()
        | (last_change.isNotNull() & (last_change > last_fetch))
        | (elapsed >= interval)
    )
    overdue = F.when(
        last_fetch.isNull(), F.lit(now_ts).cast("long")
    ).otherwise(F.greatest(elapsed - interval, F.lit(0).cast("long")))
    return state.select(
        url_col,
        "last_fetch_ts",
        "last_change_ts",
        "unchanged_count",
        interval.alias("interval_s"),
        due.alias("due"),
        F.when(due, overdue).otherwise(F.lit(0).cast("long")).alias(
            "overdue_s"
        ),
    )


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    digest_col: str = "digest",
) -> DataFrame:
    """Incremental-crawl CDC between two corpus snapshots: classify
    every URL as ``new`` / ``changed`` / ``unchanged`` / ``gone`` by
    full-outer-joining the previous snapshot's ``(url, digest)`` view
    against the fresh capture's (digest = any stable content hash; the
    WARC/CDX layer's payload md5 — ``warc.cdx_index`` — is the natural
    feed).  Output per URL: ``old_digest``, ``new_digest``, ``status``,
    and ``next_unchanged_count`` — the revisit-state update that plugs
    STRAIGHT into :func:`recrawl_due` (changed/new reset the backoff
    to 0, unchanged increments, gone yields NULL for purge) when the
    old side carries ``unchanged_count`` (absent ⇒ treated as 0).

    Scale shape: ONE equi-join on the URL key — with both snapshots
    stored as url-bucketed tables (``sources/ingest.py``) the join is
    exchange-free; otherwise it is the single unavoidable hash
    exchange.  Pure column algebra after the join, no Python, no
    driver data.  This is the standard incremental-ingest delta
    (Iceberg/Hudi-style CDC reduced to engine-portable algebra)."""
    return _snapshot_delta(old, new, url_col, digest_col, "full_outer")


def snapshot_delta_stream(
    new_stream: DataFrame,
    old: DataFrame,
    url_col: str = "url",
    digest_col: str = "digest",
) -> DataFrame:
    """The STREAMING half of :func:`snapshot_delta` — continuous-ingest
    CDC: fresh captures arrive as a stream and classify against the
    static previous snapshot (``new`` / ``changed`` / ``unchanged`` +
    the same ``next_unchanged_count`` revisit update).  It is the batch
    algebra itself over a stream-static RIGHT OUTER join — the static
    ``old`` on the left, the stream on the right, the outer join shape
    Structured Streaming supports — so ``gone`` can never fire: a
    stream cannot observe absence, and tombstoning stays with the batch
    full-outer op (run it at compaction cadence)."""
    return _snapshot_delta(old, new_stream, url_col, digest_col, "right_outer")


def _snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    url_col: str,
    digest_col: str,
    how: str,
) -> DataFrame:
    have_count = "unchanged_count" in old.columns
    o = old.select(
        F.col(url_col).alias("url"),
        F.col(digest_col).alias("old_digest"),
        (
            F.col("unchanged_count") if have_count else F.lit(0)
        ).cast("int").alias("__old_count"),
    )
    n = new.select(
        F.col(url_col).alias("__new_url"),
        F.col(digest_col).alias("new_digest"),
    )
    joined = o.join(n, o["url"] == n["__new_url"], how)
    status = (
        F.when(F.col("url").isNull(), F.lit("new"))
        .when(F.col("__new_url").isNull(), F.lit("gone"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    next_count = (
        F.when(status == "unchanged", F.col("__old_count") + 1)
        .when(status.isin("new", "changed"), F.lit(0))
        .cast("int")
    )
    return joined.select(
        F.coalesce("url", "__new_url").alias(url_col),
        "old_digest",
        "new_digest",
        status.alias("status"),
        next_count.alias("next_unchanged_count"),
    )
