"""Text-analysis column functions for training-data pipelines:
language-ID (stopword heuristic), quality scoring, token counting and
document fingerprinting.  All JVM-side expressions (split / filter /
transform / md5) — reproducible by an independent SQL engine, which is
exactly how the correctness oracle checks them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic (designed to be expressible in plain SQL too)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "y", "es", "los"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


#: whitespace-run separator of every word tokenizer (``tokens`` here,
#: ``dedup.seq_tokens_col``); the DuckDB oracles split on the same regex
TOKENIZE_REGEX = " +"


def tokens(text_col: str = "text") -> Column:
    """Lowercase whitespace tokens, in order, duplicates kept (JVM-side)."""
    return F.split(F.lower(F.trim(F.col(text_col))), TOKENIZE_REGEX)


def token_count(text_col: str = "text") -> Column:
    return F.size(tokens(text_col))


def char_count(text_col: str = "text") -> Column:
    return F.length(F.col(text_col))


def stopword_ratio(text_col: str = "text") -> Column:
    toks = tokens(text_col)
    stops = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return stops.cast("double") / F.size(toks).cast("double")


def mean_word_length(text_col: str = "text") -> Column:
    toks = tokens(text_col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, v: a + v
    )
    return total.cast("double") / F.size(toks).cast("double")


def quality_score(text_col: str = "text") -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence
    + word-shape sanity.  Deliberately simple arithmetic so the oracle
    can reproduce it exactly."""
    length_ok = (
        F.when(char_count(text_col).between(50, 2000), F.lit(0.4)).otherwise(F.lit(0.0))
    )
    stop_component = F.least(stopword_ratio(text_col) * 2, F.lit(0.3))
    shape = F.when(
        mean_word_length(text_col).between(2.0, 12.0), F.lit(0.3)
    ).otherwise(F.lit(0.0))
    return F.round(length_ok + stop_component + shape, 6)


def lang_id_df(df, text_col: str = "text", keep: list[str] | None = None):
    """Append a ``pred_lang`` column: argmax over per-language stopword
    marker hits, deterministic tie-break by language code, 'und' when
    nothing matches.

    Two-stage projection on purpose: each higher-order-function hit
    column is materialized exactly once before being compared — Spark
    miscompiles a plan that instantiates the same python-built lambda
    expression several times inside one projection (lambda variable id
    collisions under common-subexpression elimination)."""
    keep = keep if keep is not None else df.columns
    staged = df.withColumn("_toks", tokens(text_col))
    # SQL-parsed lambdas with per-language variable names: python-built
    # lambdas all bind the same variable name and collide when several
    # appear in one (collapsed) projection
    hit_exprs = []
    for lang, markers in LANG_MARKERS.items():
        quoted = ", ".join(f"'{m}'" for m in markers)
        hit_exprs.append(
            F.expr(
                f"size(filter(_toks, t_{lang} -> t_{lang} IN ({quoted})))"
            ).alias(f"_hits_{lang}")
        )
    staged = staged.select(*keep, *hit_exprs)
    cols = {lang: F.col(f"_hits_{lang}") for lang in LANG_MARKERS}
    best = F.greatest(*cols.values())
    expr = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        expr = F.when((cols[lang] > 0) & (cols[lang] == best), F.lit(lang)).otherwise(
            expr
        )
    return staged.select(*keep, expr.alias("pred_lang"))


def fingerprint(text_col: str = "text", window: int = 8) -> Column:
    """Winnowing-style document fingerprint: minimum md5 over sliding
    word ``window``-grams of the normalized text (rolling-hash family,
    reproducible in any engine with md5)."""
    toks = tokens(text_col)
    grams = F.when(
        F.size(toks) >= window,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - window),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, window))),
        ),
    ).otherwise(F.array(F.md5(F.concat_ws(" ", toks))))
    return F.array_min(grams)


#: PII redaction patterns — ordered (emails before phones so the phone
#: heuristic cannot eat an address's digits); every pattern uses only
#: constructs with IDENTICAL semantics in Java regex (Spark) and RE2
#: (DuckDB oracle): char classes, non-capturing groups, bounded repeats,
#: ASCII \b.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d -]{7,}\d", "<PHONE>"),
]


def redact_pii(text_col: str | Column = "text") -> Column:
    """Chained ``regexp_replace`` redaction of emails / IPv4s / phone
    numbers — entirely JVM-side (whole-stage codegen), the standard
    scrub pass of a training-data pipeline.  Heuristic by design (the
    phone pattern is any 9+ digit/space/hyphen run); patterns are
    chosen for cross-engine regex parity so the DuckDB oracle replays
    the exact transformation."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    for _name, pattern, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pattern, repl)
    return col


#: BPE-ish pre-tokenizer regex (the public GPT-2-style pre-split, made
#: lookahead-free so Java regex (Spark) and RE2 (DuckDB) agree):
#: contraction suffixes, space-prefixed letter runs, digit runs,
#: punctuation runs, residual whitespace runs.
BPE_SPLIT_REGEX = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
    r"|\s+"
)


def bpe_token_count(text_col: str | Column = "text") -> Column:
    """Token count under the BPE-ish pre-tokenizer — a closer proxy for
    LLM token budgets than whitespace words (punctuation and digit runs
    count separately, contractions split).  Pure JVM ``regexp_count``;
    the identical pattern runs in the DuckDB oracle
    (``len(regexp_extract_all(...))``)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(col, F.lit(BPE_SPLIT_REGEX))


def gopher_quality_flags(
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopword_ratio: float = 0.0,
    max_symbol_ratio: float = 0.1,
) -> list[Column]:
    """Gopher-lineage document quality gates (public background: the
    rule list in Rae et al. 2021 §A1.1) as aliased boolean Columns plus
    a final ``keep`` conjunction — MAP-ONLY, pure JVM expressions, each
    replayable verbatim in a SQL oracle:

    * ``ok_word_count``   — whitespace words within [min, max];
    * ``ok_mean_word_len``— mean word length within [min, max] (the
      classic 3..10 band catches gibberish and symbol soup);
    * ``ok_stopwords``    — stopword ratio at or above the floor
      (the "contains common words" gate);
    * ``ok_symbol_ratio`` — non-alphanumeric-space characters at or
      below the ceiling;
    * ``keep``            — all of the above.

    Thresholds compare UNROUNDED values; empty/whitespace-only docs
    fail every gate explicitly (no 0/0 division reaches the output).
    The within-doc repetition gates of the same paper live in
    ``operators.dedup.top_ngram_stats`` / ``dup_ngram_coverage`` —
    join them in when the corpus warrants (see the driver's composed
    ``doc_quality_filter`` query)."""
    n_words = token_count(text_col)
    n_chars = char_count(text_col)
    empty = F.trim(F.col(text_col)) == ""
    mwl = mean_word_length(text_col)
    swr = stopword_ratio(text_col)
    symbols = F.length(
        F.regexp_replace(F.col(text_col), "[A-Za-z0-9 ]", "")
    )
    sym_ratio = symbols.cast("double") / n_chars.cast("double")
    ok_word_count = F.when(empty, F.lit(False)).otherwise(
        n_words.between(min_words, max_words)
    )
    ok_mwl = F.when(empty, F.lit(False)).otherwise(
        (mwl >= min_mean_word_len) & (mwl <= max_mean_word_len)
    )
    ok_stop = F.when(empty, F.lit(False)).otherwise(
        swr >= min_stopword_ratio
    )
    ok_sym = F.when(empty | (n_chars == 0), F.lit(False)).otherwise(
        sym_ratio <= max_symbol_ratio
    )
    keep = ok_word_count & ok_mwl & ok_stop & ok_sym
    return [
        ok_word_count.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_stop.alias("ok_stopwords"),
        ok_sym.alias("ok_symbol_ratio"),
        keep.alias("keep"),
    ]


def char_ngrams(text_col: str | Column = "text", n: int = 3) -> Column:
    """ARRAY of the text's character n-grams (all positions, with
    multiplicity) — pure JVM ``sequence`` + ``transform`` HOFs, no
    Python.  Empty/short texts yield an empty array."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.when(
        F.length(col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(col) - (n - 1)),
            lambda i: F.substring(col, i, n),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_gram_coverage(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_df: int = 2,
):
    """Corpus-trained gibberish signal (CCNet-lineage rare-gram idea,
    Wenzek et al. LREC 2020, reduced to integer-exact form): per doc,
    the fraction of its character-n-gram OCCURRENCES whose corpus
    DOCUMENT frequency is ≥ ``min_df``.  Natural text is built from
    grams the corpus keeps reusing, so clean docs score near 1 while
    mojibake / random-key-mash / binary-leak docs score low — a
    model-free stand-in for the LM-perplexity filter (no LM libs
    in-sandbox), and exactly replayable cross-engine because every
    intermediate is an integer count.

    Shape at 100 TB: grams explode map-side (JVM HOFs, no Python), ONE
    map-side-combined groupBy for the df table (bounded by charset^n,
    broadcastable), broadcast join back, ONE per-doc aggregation.
    Train the df table on a :func:`sampling.hash_sample` of the corpus
    at production scale; scoring stays map-side + one doc-keyed agg.

    Returns (id_col, n_grams, n_common, coverage) — coverage NULL for
    docs with no grams (shorter than n)."""
    grams = docs.select(
        id_col, F.explode(char_ngrams(text_col, n)).alias("gram")
    )
    df_table = (
        grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("gram")
    )
    common = F.broadcast(df_table.withColumn("is_common", F.lit(1)))
    scored = (
        grams.join(common, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("is_common"), F.lit(0)).alias("n_common"),
        )
    )
    out = docs.select(id_col).join(scored, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_common", F.lit(0)).alias("n_common"),
        F.round(
            F.col("n_common").cast("double") / F.col("n_grams"), 9
        ).alias("coverage"),
    )


def c4_quality_flags(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_sentences: int = 5,
):
    """The public C4 cleaning recipe (Raffel et al., "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text
    Transformer", JMLR 2020, §2.2) as map-only JVM column algebra — the
    line-level companion to the document-level :func:`gopher_quality_flags`:

    * LINE rule: keep only lines whose trimmed text ends in a terminal
      punctuation mark (``. ! ?`` or a closing double quote) and that
      do not mention "javascript" (case-insensitive) — nav menus,
      cookie banners and JS-disabled warnings fall out here;
    * PAGE rules: drop pages containing ``{`` (leaked source code) or
      the phrase "lorem ipsum" (template filler), and pages whose KEPT
      lines carry fewer than ``min_sentences`` sentence-terminal marks.

    Output per doc: ``clean_text`` (kept lines rejoined with newlines),
    ``n_lines_kept``, ``n_sentences``, ``has_brace``, ``has_lorem``,
    ``keep``.  Pure split/filter/join higher-order functions + regexp
    counts — no shuffle, no Python; pushes down to the 100 TB scan.
    (C4's fifth rule — three-sentence-span dedup — is the separate
    ``dedup.repeated_ngram_spans`` operator.)"""
    if min_sentences < 1:
        raise ValueError(f"min_sentences must be >= 1, got {min_sentences}")
    text = F.col(text_col)
    lines = F.split(text, "\n")
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike('[.!?"]$')
        & ~F.lower(l).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    n_sentences = F.regexp_count(clean, F.lit("[.!?]")).cast("int")
    has_brace = text.contains("{")
    has_lorem = F.lower(text).contains("lorem ipsum")
    keep = (
        (n_sentences >= min_sentences) & ~has_brace & ~has_lorem
    )
    return docs.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.size(kept).cast("int").alias("n_lines_kept"),
        n_sentences.alias("n_sentences"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        keep.alias("keep"),
    )


def vocab_topk(
    docs,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Corpus vocabulary induction — the first step of tokenizer
    training (word-level counts feeding BPE/WordPiece merges) and the
    standard corpus-health report: the top-``k`` lowercase whitespace
    words by total occurrence count, with document frequency alongside.

    Output: ``(word, n_occurrences, n_docs, rank)`` for rank <= k,
    ordered deterministically (count DESC, word ASC tiebreak).

    Scale shape: occurrence counting is ONE map-side-combined
    groupBy(word) — partial aggregation collapses each partition to its
    local vocabulary before the exchange, so shuffle volume is bounded
    by |vocab| per partition, not corpus tokens; the distinct-doc count
    rides the same aggregate (count distinct ⇒ one expand, still
    word-keyed).  The global top-k is a TakeOrdered over |vocab| rows —
    no full sort materializes."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    words = docs.select(
        F.col(id_col).alias("__doc"),
        F.explode(tokens(text_col)).alias("word"),
    )
    counts = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("__doc").alias("n_docs"),
    )
    # TakeOrdered first (orderBy().limit(k) — per-partition top-k then a
    # k-row merge, never a single-task sort of the full vocabulary),
    # THEN rank the k survivors with the same total order — the global
    # row_number window only ever sees k rows
    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("word").asc()
    ).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
    return top.select(
        "word",
        "n_occurrences",
        "n_docs",
        F.row_number().over(w).alias("rank"),
    )


def corpus_length_stats(
    docs,
    text_col: str = "text",
    tokens_col: Column | None = None,
):
    """Corpus-health length distribution — the summary every dataset
    card reports and every packing/chunking parameter choice starts
    from: count, min/max, mean, sample stddev and EXACT interpolated
    p50/p90/p99 over per-doc token counts (BPE-ish counter by default).

    Exact percentile is deliberately safe here at any corpus size:
    Spark's ``percentile`` aggregate keeps a (value → count) map, and
    token counts are small integers, so the state is bounded by the
    longest document, not the corpus (for continuous-valued columns
    use ``approx_percentile`` instead — documented tradeoff).  The
    interpolation (quantile_cont) and stddev_samp definitions are
    bit-identical across Spark and DuckDB — the oracle proves it."""
    if tokens_col is None:
        tokens_col = bpe_token_count(text_col).cast("long")
    base = docs.select(tokens_col.alias("__t"))
    agg = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("__t").alias("min_tokens"),
        F.max("__t").alias("max_tokens"),
        F.round(F.avg("__t"), 6).alias("mean_tokens"),
        F.round(F.stddev_samp("__t"), 6).alias("std_tokens"),
        F.expr("percentile(__t, array(0.5D, 0.9D, 0.99D))").alias("__p"),
    )
    return agg.select(
        "n_docs",
        "min_tokens",
        "max_tokens",
        "mean_tokens",
        "std_tokens",
        F.round(F.col("__p")[0], 6).alias("p50_tokens"),
        F.round(F.col("__p")[1], 6).alias("p90_tokens"),
        F.round(F.col("__p")[2], 6).alias("p99_tokens"),
    )


def tfidf_keywords(
    docs,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document TF-IDF keywords — the classic corpus-analysis /
    retrieval signal (Sparck Jones 1972 lineage): for each doc the
    top-``k`` lowercase words by ``tf · ln(N/df)`` (score DESC, word
    ASC tiebreak — deterministic).  Words appearing in EVERY doc score
    exactly 0 (ln 1) and still rank below rarer words.

    Output: ``(id, word, tf, df, score, rank)`` with score rounded to
    9 (ln of an integer ratio evaluates to the same IEEE double in
    both engines — the HLL small-range correction relies on the same
    fact).

    Scale shape: tf = ONE map-side-combined groupBy(id, word); df = ONE
    groupBy(word) whose result is |vocab|-sized and joins back
    BROADCAST; the per-doc top-k window partitions by id — all three
    shuffles carry (id/word, count) pairs only, never text."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    words = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(text_col)).alias("word"),
    )
    tf = words.groupBy("__id", "word").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_tbl = words.groupBy("word").agg(
        F.countDistinct("__id").alias("df")
    )
    n_df = docs.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        tf.join(F.broadcast(df_tbl), "word")
        .crossJoin(F.broadcast(n_df))
        .select(
            F.col("__id").alias(id_col),
            "word",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("__n") / F.col("df").cast("double")),
                9,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    return scored.select(
        "*", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= k)


def bigram_logprob(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Corpus-trained bigram language-model score — the closest
    in-sandbox stand-in for KenLM-style perplexity filtering (CCNet,
    Wenzek et al. 2020): per doc, the mean add-one-smoothed bigram log
    probability ``mean ln((C(a,b)+1)/(C(a)+V))`` under counts trained
    on the corpus itself.  Clean text re-uses the corpus's frequent
    transitions; shuffled/gibberish text hits unseen bigrams and
    scores sharply lower — the standard quality-ordering signal.

    Cross-engine exactness: every count is an integer, each per-bigram
    ``ln`` of an integer ratio is the same IEEE double in both
    engines, and the per-doc SUM accumulates as DECIMAL(30,15) —
    order-independent — before the final divide+round(9).

    Scale shape: bigram/unigram count tables are one map-side-combined
    groupBy each (bounded by distinct n-grams, not corpus size); the
    score join is hash-partitioned on the bigram key; V and N ride as
    1-row broadcast aggregates.  Train on a ``hash_sample`` at 100 TB
    (same note as ``char_gram_coverage``)."""
    from pyspark.sql import functions as _F

    toks = tokens(text_col)
    base = docs.select(_F.col(id_col).alias("__id"), toks.alias("toks"))
    bigrams_expr = _F.when(
        _F.size("toks") >= 2,
        _F.expr(
            "transform(sequence(0, size(toks) - 2), "
            "i -> struct(toks[i] AS a, toks[i + 1] AS b))"
        ),
    ).otherwise(
        _F.array().cast("array<struct<a:string,b:string>>")
    )
    occ = base.select(
        "__id", _F.explode_outer(bigrams_expr).alias("bg")
    ).select("__id", _F.col("bg.a").alias("a"), _F.col("bg.b").alias("b"))
    uni = base.select(_F.explode("toks").alias("a")).groupBy("a").agg(
        _F.count(_F.lit(1)).alias("c_a")
    )
    bi = (
        occ.where(_F.col("a").isNotNull())
        .groupBy("a", "b")
        .agg(_F.count(_F.lit(1)).alias("c_ab"))
    )
    v_df = uni.agg(_F.count(_F.lit(1)).cast("double").alias("__v"))
    scored = (
        occ.join(bi, ["a", "b"], "left")
        .join(uni, "a", "left")
        .crossJoin(_F.broadcast(v_df))
        .select(
            "__id",
            _F.when(
                _F.col("a").isNotNull(),
                _F.log(
                    (_F.col("c_ab") + 1).cast("double")
                    / (_F.col("c_a").cast("double") + _F.col("__v"))
                ).cast("decimal(30,15)"),
            ).alias("lp"),
        )
    )
    return scored.groupBy("__id").agg(
        _F.count("lp").cast("long").alias("n_bigrams"),
        _F.round(
            _F.sum("lp").cast("double") / _F.count("lp"), 9
        ).alias("avg_logprob"),
    ).select(
        _F.col("__id").alias(id_col), "n_bigrams", "avg_logprob"
    )
