"""Round-6 optimization pins: every plan-shape change must be
value-invisible.  These tests pin the optimized paths to their
reference twins (the same discipline as the existing udf==expr pins).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"alpha beta gamma delta {i} epsilon zeta eta theta iota kappa")
        for i in range(40)
    ] + [(100, ""), (101, "one"), (102, "x " * 500)]
    rows += [(103, "  padded  words  "), (104, "ONE"), (105, None)]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestUnrolledVectorMath:
    """dot/norm/_dist2 with ``dim`` must equal the interpreted fold
    bit-for-bit — same element order, same IEEE addition sequence —
    including the guarded fallback for vectors of a DIFFERENT width."""

    @pytest.fixture(scope="class")
    def vecs(self, spark):
        import random

        rng = random.Random(7)

        def vec(n):
            return [rng.uniform(-2, 2) for _ in range(n)]

        rows = [(i, vec(64), vec(64)) for i in range(30)]
        # wrong widths exercise the size-guard fallback
        rows += [(100, vec(16), vec(16)), (101, vec(64), vec(16))]
        return spark.createDataFrame(
            rows, "vec_id long, a array<float>, b array<float>"
        )

    def test_dot_norm_dist2_bit_identical(self, vecs):
        from parsel_spark.operators.similarity import (
            _dist2,
            _fold_dist2,
            _fold_dot,
            _fold_sq,
            dot,
            norm,
        )

        checks = vecs.select(
            (dot("a", "b", 64) == _fold_dot(F.col("a"), F.col("b"))).alias(
                "dot_eq"
            ),
            (norm("a", 64) == F.sqrt(_fold_sq(F.col("a")))).alias("n_eq"),
            (
                _dist2("a", "b", 64)
                == _fold_dist2(F.col("a"), F.col("b"))
            ).alias("d2_eq"),
        )
        assert (
            checks.filter(
                ~F.coalesce("dot_eq", F.lit(True))
                | ~F.coalesce("n_eq", F.lit(True))
                | ~F.coalesce("d2_eq", F.lit(True))
            ).count()
            == 0
        )
        # NULL-propagation parity: both forms NULL on mismatched widths
        nulls = vecs.filter(F.col("vec_id") == 101).select(
            dot("a", "b", 64).isNull().alias("u"),
            _fold_dot(F.col("a"), F.col("b")).isNull().alias("f"),
        ).first()
        assert nulls["u"] == nulls["f"]

    def test_qualified_refs_in_self_join(self, vecs):
        from parsel_spark.operators.similarity import _fold_dot, dot

        pair = vecs.alias("x").join(
            vecs.alias("y"), F.col("x.vec_id") < F.col("y.vec_id")
        )
        bad = pair.select(
            (
                dot("x.a", "y.a", 64)
                == _fold_dot(F.col("x.a"), F.col("y.a"))
            ).alias("eq")
        ).filter(~F.coalesce("eq", F.lit(True))).count()
        assert bad == 0


class TestJvmHashedFingerprints:
    """The JVM-md5 + numpy paths must equal the engine-reference
    expressions (the DuckDB oracle replays the expressions)."""

    def test_simhash120_from_hashes_equals_expr(self, spark, docs):
        from parsel_spark.operators.dedup import (
            simhash120_from_hashes_col,
            simhash_expr,
        )

        bad = docs.select(
            simhash120_from_hashes_col().alias("n"),
            simhash_expr().alias("e1"),
            simhash_expr(seg=1).alias("e2"),
        ).filter(
            ~F.col("n.sh1").eqNullSafe(F.col("e1"))
            | ~F.col("n.sh2").eqNullSafe(F.col("e2"))
        ).count()
        assert bad == 0

    def test_minhash_from_hashes_equals_expr(self, spark, docs):
        """Equal also in one Arrow batch holding a NULL text (doc 105)
        beside signature values above 2^53 (compared NULL-safe)."""
        from parsel_spark.operators.dedup import (
            minhash_signatures,
            minhash_signatures_expr,
        )

        one_batch = docs.coalesce(1)
        a = minhash_signatures(one_batch, 16, 3).select("doc_id", "sig")
        b = minhash_signatures_expr(one_batch, 16, 3).select(
            "doc_id", F.col("sig").alias("ref")
        )
        rows = a.join(b, "doc_id").select(
            "doc_id", "sig", F.col("sig").eqNullSafe(F.col("ref")).alias("same")
        ).collect()
        assert len(rows) == docs.count()
        assert [r["doc_id"] for r in rows if not r["same"]] == []
        assert max(max(r["sig"]) for r in rows if r["sig"]) > 2**53


class TestStaticPlanning:
    def test_restores_conf_even_on_error(self, spark):
        from parsel_spark.functions.planning import static_planning

        prev = spark.conf.get("spark.sql.adaptive.enabled")
        with static_planning(spark):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.adaptive.enabled") == prev
        with pytest.raises(RuntimeError):
            with static_planning(spark):
                raise RuntimeError("boom")
        assert spark.conf.get("spark.sql.adaptive.enabled") == prev


class TestMinhashPairShape:
    def test_lsh_pairs_match_carried_shingle_reference(self, spark):
        """The decide-then-attach plan must produce exactly the pairs of
        a straightforward carry-the-shingles reference implementation."""
        from parsel_spark.operators.dedup import (
            _shingle_table,
            minhash_lsh_pairs,
            minhash_signatures_expr,
        )

        rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)]
        rows += [
            (10 + i, f"totally different document number {i} with unique words {i}")
            for i in range(6)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc_a"], r["doc_b"], r["jac"])
            for r in minhash_lsh_pairs(docs, threshold=0.3).collect()
        }

        # reference: bands from the expression signatures, pairs by
        # exact band-slice identity, jaccard from the shingle table
        signed = minhash_signatures_expr(docs, 32, 3).select("doc_id", "sig")
        sh = {r["doc_id"]: r["shingles"] for r in _shingle_table(docs, 3).collect()}
        sigs = {r["doc_id"]: r["sig"] for r in signed.collect()}
        ref = set()
        ids = sorted(sigs)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                bands_a = [tuple(sigs[a][k * 4:(k + 1) * 4]) for k in range(8)]
                bands_b = [tuple(sigs[b][k * 4:(k + 1) * 4]) for k in range(8)]
                if not any(x == y for x, y in zip(bands_a, bands_b)):
                    continue
                sa, sb = set(sh[a]), set(sh[b])
                jac = round(len(sa & sb) / len(set(sh[a]) | set(sh[b])), 6)
                if jac >= 0.3:
                    ref.add((a, b, jac))
        assert {(a, b) for a, b, _ in got} == {(a, b) for a, b, _ in ref}


class TestCommitWriteSizing:
    """Snapshot commits size their output files from the exact row
    counts the loop tracks (guide §6): tiny commits write ONE file per
    table instead of one per plan partition, unknown counts leave the
    plan's partitioning alone, and the sizing never alters state."""

    def test_sized_for_write_math(self, spark):
        from parsel_spark.plans.crawl import (
            COMMIT_ROWS_PER_FILE,
            CrawlRun,
        )

        run = CrawlRun.__new__(CrawlRun)  # helper is state-free
        run.frontier_partitions = 32
        df = spark.range(100).repartition(16)
        # unknown count: untouched plan
        assert run._sized_for_write(df, None) is df
        # small count: one file
        assert run._sized_for_write(df, 5).rdd.getNumPartitions() == 1
        # exactly one file's worth stays one file
        assert (
            run._sized_for_write(df, COMMIT_ROWS_PER_FILE)
            .rdd.getNumPartitions()
            == 1
        )
        # huge count: coalesce above the frame's own partition count is
        # a no-op — the partitioning is untouched
        assert run._sized_for_write(df, 10**9).rdd.getNumPartitions() == 16
        # a frame WIDER than frontier_partitions still gets sized (the
        # multi-wave delta unions are k pinned outputs wide)
        wide = spark.range(100).repartition(48)
        assert run._sized_for_write(wide, 5).rdd.getNumPartitions() == 1

    @staticmethod
    def _initialized(spark, tmp_path, with_rules):
        from parsel_spark.plans.crawl import CrawlRun
        from parsel_spark.sources.snapshots import SnapshotCatalog
        from parsel_spark.sources.synth import (
            SynthConfig,
            robots_rows,
            synth_pages,
            synth_robots,
            synth_seeds,
        )

        cfg = SynthConfig(
            n_pages=120, n_hosts=6, out_degree=4, seed=11, with_images=False
        )
        rules = {
            r["host"]: (tuple(r["deny_prefixes"]), tuple(r["allow_prefixes"]))
            for r in robots_rows(cfg)
        }
        run = CrawlRun(
            spark,
            SnapshotCatalog(str(tmp_path)),
            synth_pages(spark, cfg),
            synth_robots(spark, cfg),
            num_shards=8,
            robots_rules=rules if with_rules else None,
        )
        run.initialize(synth_seeds(spark, cfg, n_seeds=6))
        return run

    @staticmethod
    def _n_files(path):
        import glob
        import os

        return len(glob.glob(os.path.join(path, "part-*")))

    def test_commit_writes_one_file_per_tiny_table(self, spark, tmp_path):
        run = self._initialized(spark, tmp_path, with_rules=True)
        run.run(2)
        snapshot = run.catalog.load_snapshot()
        for name, entry in snapshot.tables.items():
            paths = entry if isinstance(entry, list) else [entry]
            for p in paths:
                n_files = self._n_files(p)
                assert n_files <= 1, (name, p, n_files)

    def test_initialize_sizes_host_state_without_rules(self, spark, tmp_path):
        """Without pre-built ``robots_rules``, ``initialize`` collects
        the rules itself, so the host-state write is sized too."""
        run = self._initialized(spark, tmp_path, with_rules=False)
        path = run.catalog.load_snapshot().tables["host_state"]
        assert self._n_files(path) == 1


class TestTokenizerFastPath:
    """The start/end-tag fast paths must be OBSERVATIONALLY IDENTICAL
    to the stdlib tolerant tokenizer they shortcut: any input the
    narrow grammar matches parses to the same DOM, everything else
    falls back.  Pinned differentially — the same _TreeBuilder with the
    stdlib methods restored is the reference."""

    @staticmethod
    def _builders():
        from html.parser import HTMLParser

        from parsel_spark.selector.htmlparser import _TreeBuilder

        class _StdBuilder(_TreeBuilder):
            parse_starttag = HTMLParser.parse_starttag
            parse_endtag = HTMLParser.parse_endtag
            set_cdata_mode = HTMLParser.set_cdata_mode

        return _TreeBuilder, _StdBuilder

    @classmethod
    def _sig(cls, builder_cls, text):
        from parsel_spark.selector.serializer import serialize

        b = builder_cls()
        try:
            b.feed(text)
            b.close()
        except Exception:
            pass
        b._ensure_html()
        root = b.document.root_element
        return serialize(root) if root is not None else ""

    def _check(self, text):
        fast_cls, std_cls = self._builders()
        assert self._sig(fast_cls, text) == self._sig(std_cls, text), repr(
            text
        )

    @pytest.mark.parametrize(
        "text",
        [
            '<a href=x>t</a>', '<a href="x">t</a>', "<a href='x'>t</a>",
            '<a href=>t</a>', '<a href==x>', '<a href = x>', '<a href ="x">',
            '<a foo bar=1 baz>', '<a /css/x>', '<a/ href=x>',
            '<br/>', '<br />', '<img src=a/>', '<img src=a />',
            '<a b="c>d">', "<a b='c>d'>", '<a b=c>d>', '<a b="c"d>',
            '<a b=`x`>', '<a b=x`y>', '<A HREF=X>', '<a\thref=x>',
            '<a\vhref=x>', '<a\xa0href=x>', '<a b\v=x>', '<a b=\vx>',
            '<a*b>', '<a:b x:y=1>', '<1a>', '<>', '</>',
            '<a "b">', '<a b="&amp;">', '<a b=&amp;>', '<a b="&amp">',
            '<a b="&#65;">', '<a b="">', "<a b=''>", '<a b=x<y>',
            '<script>var a = "</b>";</script>',
            '<script>if (a<b) {}</script>x', '<SCRIPT>a</SCRIPT>b',
            '<script src=x/>after', '<script>a</ script >b',
            '<script>a</scriptx>b</script>c', '<a href=x', '<a href="x',
            '<a >', '<a/>text', '<a =x>', '<a b= c>', '<a ä=1>', '<ä>',
            '</a >', '</ a>', '</a b>', '</a\v>', '</td>x',
            '<script></STYLE></script>x', '<a\x00b>',
        ],
    )
    def test_handcrafted_tag_shapes(self, text):
        self._check(text)
        self._check(f"<html><body>{text}</body></html>")

    def test_fuzz_tag_soup(self):
        import random

        rng = random.Random(20260822)
        alphabet = list("<>/='\"` abAB=&;:xy\t\n\v\xa0\f-._") + [
            "href", "<a", "</a>", "src=", "&amp;", "<script>", "</script>",
        ]
        for _ in range(1500):
            s = "".join(
                rng.choice(alphabet) for _ in range(rng.randrange(1, 60))
            )
            self._check(s)


class TestCanonicalFastPathShapes:
    """The widened canonical fast path (case/default-port/fragment
    normalization without urlsplit) must agree byte-for-byte with the
    slow RFC-3986 path on every shape it accepts — including the raise
    behavior for out-of-range ports it deliberately does NOT accept."""

    CASES = [
        "http://a.test/x", "HTTP://A.TEST/x", "http://a.test",
        "http://a.test#f", "http://a.test:80/x", "https://a.test:443/x",
        "http://a.test:443/x", "https://a.test:80/x", "http://a.test:8080/x",
        "http://a.test:080/x", "http://a.test:0/x",
        "Http://A-b.9.TEST:80/Page/X#frag", "http://a.test/x?b=2&a=1",
        "http://a.test/..", "http://a.test/a/../b", "http://a.test/a//b",
        "http://a.test/%2e%2e/x", "http://u@a.test/x", "http://a.test./x",
        "http://123.45/x", "http://a.test:80", "http://a.test:80#f",
        "HtTpS://X.Y:443", "http://A.TEST", "HTTPS://A.B#",
        # unicode casefold tricksters: must take the SLOW path (IDNA /
        # percent-encoding), which re.ASCII on the fast recognizer
        # guarantees — U+017F long s, U+212A Kelvin sign, U+0131
        "http://te\u017ft.example/x", "http://\u0131.test/x",
        "http://a.test/x\u212a", "http\u017f://a.test/x",
        "HTTP://te\u017ft.example:80/x#f",
    ]

    @pytest.mark.parametrize("url", CASES)
    def test_fast_equals_slow(self, url):
        import re as _re

        from parsel_spark.functions import canonical as C

        def call():
            try:
                return ("ok", C.canonicalize_url(url))
            except Exception as exc:
                return ("raise", type(exc).__name__)

        fast = call()
        never = _re.compile(r"(?!x)x")
        original = C._FAST_RE
        C._FAST_RE = never
        try:
            slow = call()
        finally:
            C._FAST_RE = original
        assert fast == slow


class TestPathResultsAlreadyOrdered:
    """evaluate() skips the final document-order sort for ('path', …)
    ASTs — valid only while every step pipeline output IS doc-ordered.
    Pin the invariant across axis shapes on real parsed documents."""

    QUERIES = [
        "//a/@href", "//a", "//div//a", "//p/text()", "//*",
        "//a/ancestor::*", "//a/parent::*", "//p/preceding-sibling::*",
        "//a/following::a", "//div[@class]//a/@href", "//a[2]",
        "//p/..", "//a/@*", "//body//text()", "descendant::a/@href",
        "//div/child::*", "//a/self::a", "//p/preceding::a",
        "//li/ancestor-or-self::*",
    ]

    def test_path_results_equal_their_doc_order_sort(self):
        from parsel_spark.selector import Selector
        from parsel_spark.selector.dom import sort_document_order
        from parsel_spark.selector.xpath.evaluator import evaluate

        html = (
            "<div class=x><p id=1>a<a href=/1>1</a></p>"
            "<p>b<a href=/2>2</a><a href=/3>3</a></p></div>"
            "<ul><li><a href=/4>4</a><li><a href=/5>5</a></ul>"
            "<div><a href=/6>6</a></div>"
        )
        root = Selector(text=html).root
        for q in self.QUERIES:
            result = evaluate(q, root)
            assert isinstance(result, list), q
            assert result == sort_document_order(result), q


class TestLshBucketSingleParse:
    """``lsh_bucket`` built from one F.expr parse must equal the legacy
    DSL construction (array-of-lits + interpreted fold per plane)
    bit-for-bit — across exact-width, short, long, empty and NULL
    vectors (the fallback branch).  It takes column NAMES only."""

    def _legacy(self, embedding, planes):
        from parsel_spark.operators.similarity import dot

        bucket = F.lit(0)
        for index, plane in enumerate(planes):
            plane_col = F.array(*[F.lit(v) for v in plane])
            bit = F.when(
                dot(embedding, plane_col) > 0, F.lit(1 << index)
            ).otherwise(F.lit(0))
            bucket = bucket + bit
        return bucket

    def test_matches_legacy_all_widths(self, spark):
        import random

        from parsel_spark.operators.similarity import hyperplanes, lsh_bucket

        rng = random.Random(11)
        dim = 8
        planes = hyperplanes(dim, 5, seed=3)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(30)
        ] + [
            (100, [0.5] * 3),            # short -> fallback branch
            (101, [0.25] * (dim + 4)),   # long -> fallback branch
            (102, []),                   # empty
            (103, None),                 # NULL vector
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = df.select(
            "vec_id", lsh_bucket("embedding", planes).alias("b")
        ).collect()
        want = df.select(
            "vec_id", self._legacy(F.col("embedding"), planes).alias("b")
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    def test_rejects_column_input(self, spark):
        from parsel_spark.operators.similarity import hyperplanes, lsh_bucket

        with pytest.raises(TypeError):
            lsh_bucket(F.col("embedding"), hyperplanes(4, 3, seed=5))


class TestCatalogSchemaMemo:
    """read_table with the memoized write schema must return the same
    schema and rows as cold inference (a fresh catalog object)."""

    def test_memo_matches_inference(self, spark, tmp_path):
        from parsel_spark.sources.snapshots import SnapshotCatalog

        root = str(tmp_path / "cat")
        cat = SnapshotCatalog(root)
        df = spark.createDataFrame(
            [(1, "a", 0.5), (2, "b", 1.5)], "id long, s string, x double"
        )
        delta = spark.createDataFrame([(3, "c")], "id long, s string")
        cat.commit(wave=0, tables={"t": df}, appends={"d": delta})
        warm_t = cat.read_table(spark, "t")
        warm_d = cat.read_table(spark, "d")
        cold = SnapshotCatalog(root)  # no memo -> footer inference
        cold_t = cold.read_table(spark, "t")
        cold_d = cold.read_table(spark, "d")
        assert warm_t.schema == cold_t.schema
        assert warm_d.schema == cold_d.schema
        assert sorted(map(tuple, warm_t.collect())) == sorted(
            map(tuple, cold_t.collect())
        )
        assert sorted(map(tuple, warm_d.collect())) == sorted(
            map(tuple, cold_d.collect())
        )

    def test_older_snapshot_keeps_its_schema(self, spark, tmp_path):
        """A table whose schema changes between commits: reading the
        OLDER snapshot must use that snapshot's schema, not the newest."""
        from parsel_spark.sources.snapshots import SnapshotCatalog

        root = str(tmp_path / "cat")
        cat = SnapshotCatalog(root)
        two = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
        one = spark.createDataFrame([(3,)], "id long")
        cat.commit(wave=0, tables={"t": two})
        cat.commit(wave=1, tables={"t": one})
        warm = cat.read_table(spark, "t", snapshot_id=1)
        cold = SnapshotCatalog(root).read_table(spark, "t", snapshot_id=1)
        assert warm.schema == cold.schema
        assert sorted(map(tuple, warm.collect())) == sorted(
            map(tuple, cold.collect())
        )


class TestScanMemo:
    def test_directory_table_part_rewritten_in_place(self, spark, tmp_path):
        """A directory table's own stat does not change when a part file
        is rewritten in place, so ``_read`` must not serve its memoized
        schema; ``spread=True`` still floors its partition count."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        (tmp_path / "t.parquet").mkdir()
        part = tmp_path / "t.parquet" / "part-0.parquet"
        pq.write_table(pa.table({"a": [1]}), part)
        assert entry._read(spark, str(tmp_path), "t").columns == ["a"]
        pq.write_table(pa.table({"a": [1], "b": [2]}), part)
        df = entry._read(spark, str(tmp_path), "t", spread=True)
        assert df.columns == ["a", "b"]
        assert df.collect() == [(1, 2)]
        par = spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() == par


class TestLineageCallable:
    """SnapshotCatalog.commit accepts a zero-arg callable for lineage,
    evaluated after the data writes (the Observation hook)."""

    def test_callable_lineage_lands_in_metadata(self, spark, tmp_path):
        from parsel_spark.sources.snapshots import SnapshotCatalog

        cat = SnapshotCatalog(str(tmp_path / "cat"))
        df = spark.createDataFrame([(1,)], "id long")
        snap = cat.commit(
            wave=0,
            tables={"t": df},
            lineage=lambda: [{"partition_id": 0, "n_items": 1}],
        )
        assert snap.lineage == [{"partition_id": 0, "n_items": 1}]
        reread = cat.load_snapshot(snap.snapshot_id)
        assert reread.lineage == snap.lineage


class TestSortedRunLengthRecount:
    """The stream quality gate's max-2gram-multiplicity fold (sorted
    run-length) must equal the original quadratic distinct×filter-count
    recount on every shape: dup-free, all-same, ties, empty, one-token,
    messy whitespace."""

    def test_matches_quadratic_recount(self, spark):
        from parsel_spark.operators.dedup import seq_tokens_col

        rows = [
            (0, "a b c d e f"),
            (1, "a b a b a b a b"),
            (2, "x x x x x x"),
            (3, ""),
            (4, "one"),
            (5, "p q p q r s r s r s"),
            (6, "  spaced   out  tokens   here  "),
            (7, "t " * 200),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        toks = seq_tokens_col("text")
        grams = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        quadratic = F.aggregate(
            F.array_distinct(grams),
            F.lit(0),
            lambda acc, g: F.greatest(
                acc, F.size(F.filter(grams, lambda x: x == g))
            ),
        )
        runlength = F.aggregate(
            F.sort_array(grams),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, g: F.struct(
                g.alias("prev"),
                F.when(g == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        out = df.select(
            "doc_id", quadratic.alias("q"), runlength.alias("r")
        ).collect()
        for row in out:
            assert row["q"] == row["r"], row
