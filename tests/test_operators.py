"""Operator-level tests: bloom/cuckoo shards, minhash/simhash dedup,
similarity search recall, streaming extraction."""

from __future__ import annotations

import numpy as np
import pytest

from parsel_spark.operators.bloom import BloomShard, CuckooShard


class TestBloomShard:
    def test_no_false_negatives(self) -> None:
        shard = BloomShard(m_bits=1 << 16, k=5)
        hashes = np.arange(-5000, 5000, 7, dtype=np.int64) * 1_234_567_891
        shard.add_hashes(hashes)
        assert shard.maybe_contains(hashes).all()

    def test_false_positive_rate_reasonable(self) -> None:
        shard = BloomShard(m_bits=1 << 20, k=7)
        rng_added = np.arange(10_000, dtype=np.int64) * 2_654_435_761
        shard.add_hashes(rng_added)
        probe = (np.arange(10_000, dtype=np.int64) + 10_000_000) * 40_503
        fp = shard.maybe_contains(probe).mean()
        assert fp < 0.01  # m/n = 100 bits/item, k=7 → far below 1%

    def test_serialization_roundtrip_and_hash(self) -> None:
        shard = BloomShard(m_bits=1 << 12, k=3)
        shard.add_hashes(np.array([1, 2, 3], dtype=np.int64))
        clone = BloomShard(m_bits=1 << 12, k=3, bitmap=shard.to_bytes())
        assert clone.content_hash() == shard.content_hash()
        assert clone.maybe_contains(np.array([1, 2, 3], dtype=np.int64)).all()


class TestCuckooShard:
    def test_add_contains_delete(self) -> None:
        shard = CuckooShard(n_buckets=1 << 10)
        values = [hash(f"url-{i}") & ((1 << 64) - 1) for i in range(500)]
        for v in values:
            assert shard.add(v)
        assert all(shard.contains(v) for v in values)
        # deletion support is the reason cuckoo exists here (bloom cannot)
        for v in values[:100]:
            assert shard.delete(v)
        removed_present = sum(shard.contains(v) for v in values[:100])
        assert removed_present < 10  # only fingerprint collisions remain
        assert all(shard.contains(v) for v in values[100:])

    def test_serialization_roundtrip(self) -> None:
        shard = CuckooShard(n_buckets=256)
        for v in range(100):
            shard.add(v * 977)
        clone = CuckooShard(n_buckets=256, table=shard.to_bytes(), n_items=shard.n_items)
        assert clone.content_hash() == shard.content_hash()
        assert all(clone.contains(v * 977) for v in range(100))


class TestPairStagePin:
    """The three pair operators whose candidate join expands far beyond
    its input keep the pinned pair stage: a REPARTITION_BY_NUM exchange
    on the join keys (AQE cannot coalesce it) feeding a shuffled hash
    self-join, never a broadcast one."""

    @staticmethod
    def _assert_pinned(df, keys: str) -> None:
        import re

        df.collect()
        plan = re.sub(
            r"#\d+L?", "", df._jdf.queryExecution().executedPlan().toString()
        )
        assert re.search(
            rf"Exchange hashpartitioning\({keys}, \d+\), REPARTITION_BY_NUM",
            plan,
        )
        assert f"ShuffledHashJoin [{keys}], [{keys}]" in plan
        assert f"BroadcastHashJoin [{keys}], [{keys}]" not in plan

    def _docs(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [(i, base + f" unique{i % 5}") for i in range(30)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_minhash_pairs(self, spark) -> None:
        from parsel_spark.operators.dedup import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(self._docs(spark), threshold=0.5)
        self._assert_pinned(pairs, "band_idx, band_hash")

    def test_minhash_local_relation_shuffles_bands_once(self, spark) -> None:
        """Shuffle partitions above ``defaultParallelism``: a pin at the
        smaller count is raised by the join planner, and AQE then stacks
        a second band exchange on the first.  The final plan keeps one
        band exchange, read twice through its ReusedExchange."""
        import re

        from parsel_spark.operators.dedup import minhash_lsh_pairs

        base = "the quick brown fox jumps over the lazy dog again and again"
        docs = spark.createDataFrame(
            [(i, base + f" unique{i % 7} w{i % 13}") for i in range(200)],
            "doc_id long, text string",
        )
        n = max(8, 2 * spark.sparkContext.defaultParallelism)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            pairs = minhash_lsh_pairs(docs, threshold=0.5)
            pairs.collect()
            plan = pairs._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        final = re.sub(r"#\d+L?", "", plan.split("== Initial Plan ==")[0])
        band = rf"Exchange hashpartitioning\(band_idx, band_hash, {n}\), REPARTITION_BY_NUM"
        assert len(re.findall(band, final)) == 2, final
        assert len(re.findall(rf"ReusedExchange \[[^\]]*\], {band}", final)) == 1, final

    def test_simhash_pairs(self, spark) -> None:
        from parsel_spark.operators.dedup import simhash_pairs

        pairs = simhash_pairs(self._docs(spark), max_hamming=3)
        self._assert_pinned(pairs, "chunk_idx, chunk")

    def test_semantic_dedup(self, spark) -> None:
        from parsel_spark.operators.similarity import semantic_dedup

        rows = [
            (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)])
            for i in range(24)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        assigned = emb.selectExpr("vec_id", "CAST(vec_id % 3 AS INT) AS cid")
        self._assert_pinned(semantic_dedup(emb, assigned, threshold=0.9), "cid")


class TestDedupSpark:
    def test_minhash_finds_planted_near_dups(self, spark) -> None:
        from parsel_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs

        base = (
            "the quick brown fox jumps over the lazy dog again and again "
            "while the cat watches from the warm windowsill every day"
        )
        rows = []
        for i in range(40):
            rows.append((i, "blk", base + f" unique{i}"))
        rows.append((100, "blk", base + " unique7 tweaked"))  # near-dup of 7
        rows.append((101, "blk", "completely different words entirely here"))
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        pairs = minhash_lsh_pairs(docs, threshold=0.5).collect()
        found = {(r["doc_a"], r["doc_b"]) for r in pairs}
        assert (7, 100) in found
        assert all(a != 101 and b != 101 for a, b in found)

    def test_minhash_null_text_has_no_signature_or_pair(self, spark) -> None:
        """A NULL text is not an empty text: it gets no shingles, no
        signature and no pair, while empty and blank texts (the same
        text after trim) still pair with each other."""
        from parsel_spark.operators.dedup import (
            minhash_lsh_pairs,
            minhash_signatures,
        )

        docs = spark.createDataFrame(
            [(1, None), (2, ""), (3, "   ")], "doc_id long, text string"
        )
        sigs = {
            r["doc_id"]: (r["sig"], r["shingles"])
            for r in minhash_signatures(docs).collect()
        }
        assert sigs[1] == (None, None)
        assert sigs[2] == sigs[3] and sigs[2][1] == [""]
        pairs = {tuple(r) for r in minhash_lsh_pairs(docs, threshold=0.0).collect()}
        assert pairs == {(2, 3, 1.0)}

    @pytest.mark.parametrize("max_hamming", [12], ids=["120-12"])
    def test_simhash_hamming_close_for_near_dups(
        self, spark, max_hamming
    ) -> None:
        from parsel_spark.operators.dedup import simhash_pairs

        base = " ".join(f"word{i}" for i in range(60))
        rows = [
            (0, base),
            (1, base + " extra"),
            (2, " ".join(f"other{i}" for i in range(60))),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = simhash_pairs(docs, max_hamming=max_hamming).collect()
        found = {(r["doc_a"], r["doc_b"]) for r in pairs}
        assert (0, 1) in found
        assert (0, 2) not in found and (1, 2) not in found

    @pytest.mark.parametrize(
        "max_hamming", [3, 6, 9], ids=["3-120", "6-120", "9-120"]
    )
    def test_simhash_banded_recall_equals_bruteforce(
        self, spark, max_hamming
    ) -> None:
        """The banded-LSH plan must recall EVERY pair the all-pairs
        ground truth contains (round-1 regression: fixed 4×16-bit bands
        silently lost the pigeonhole guarantee above k=3 and missed 35%
        of true pairs at k=6)."""
        from pyspark.sql import functions as F

        from parsel_spark.operators.dedup import simhash_expr, simhash_pairs

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        hashed = docs.select(
            "doc_id",
            simhash_expr().alias("sh1"),
            simhash_expr(seg=1).alias("sh2"),
        ).cache()
        a, b = hashed.alias("a"), hashed.alias("b")
        ham = F.bit_count(F.col("a.sh1").bitwiseXOR(F.col("b.sh1"))).cast(
            "long"
        ) + F.bit_count(F.col("a.sh2").bitwiseXOR(F.col("b.sh2"))).cast("long")
        truth = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                ham.alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .collect()
        }
        banded = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_pairs(docs, max_hamming=max_hamming).collect()
        }
        hashed.unpersist()
        assert truth, "fixture must plant at least one near-dup pair"
        assert banded == truth  # zero missed pairs, zero extras

    def test_simhash120_band_width_scale_guard(self) -> None:
        """At the driver query's k=6, the 120-bit fingerprint must keep
        every band ≥ 12 bits wide (≥ 4096 distinct band values) — the
        scale guarantee the 60-bit fingerprint cannot give (its k=6
        bands are 8-9 bits ⇒ ≤512 buckets ⇒ near-all-pairs at 10^9
        docs)."""
        from parsel_spark.operators.dedup import simhash_band_widths

        widths_120 = simhash_band_widths(6)
        assert len(widths_120) == 7 and sum(widths_120) == 120
        assert min(widths_120) >= 12

    def test_simhash120_udf_equals_expressions(self, spark) -> None:
        """The engine 120-bit UDF must be BIT-IDENTICAL per lane to the
        SQL-expressible definitions the DuckDB oracle replays — also in
        an Arrow batch that holds a NULL text (a NULL must not turn the
        batch's lanes into float64, rounding every other value)."""
        from pyspark.sql import functions as F

        from parsel_spark.operators.dedup import (
            simhash120_from_hashes_col,
            simhash_expr,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        extra = spark.createDataFrame(
            [(9000, None), (9001, ""), (9002, "  padded  words  "), (9003, "ONE")],
            "doc_id long, text string",
        )
        # one partition, so the NULL row shares the Arrow batch; collected,
        # not filtered: a filter is pushed below the coalesce
        same = (
            docs.select("doc_id", "text")
            .unionByName(extra)
            .coalesce(1)
            .select(
                "doc_id",
                simhash120_from_hashes_col().alias("udf"),
                simhash_expr().alias("e1"),
                simhash_expr(seg=1).alias("e2"),
            )
            .select(
                "doc_id",
                (
                    F.col("udf.sh1").eqNullSafe(F.col("e1"))
                    & F.col("udf.sh2").eqNullSafe(F.col("e2"))
                ).alias("same"),
            )
            .collect()
        )
        assert [r["doc_id"] for r in same if not r["same"]] == []

    def test_jaccard_lsh_mode_finds_planted_near_dups(self, spark) -> None:
        """block_col=None routes candidates through MinHash banding (the
        100 TB path — no quadratic-within-block self-join) and must
        still find the planted token-set near-dups with the SAME jac
        values the blocked mode computes."""
        from parsel_spark.operators.dedup import jaccard_pairs

        base = (
            "the quick brown fox jumps over the lazy dog again and again "
            "while the cat watches from the warm windowsill every day"
        )
        rows = [(i, "blk", f"{base} unique{i}") for i in range(30)]
        rows.append((100, "blk", base + " unique7 tweaked"))
        rows.append((101, "blk", "completely different words entirely here"))
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        blocked = {
            (r["doc_a"], r["doc_b"]): r["jac"]
            for r in jaccard_pairs(
                docs, threshold=0.5, block_col="source"
            ).collect()
        }
        lsh = {
            (r["doc_a"], r["doc_b"]): r["jac"]
            for r in jaccard_pairs(docs, threshold=0.5, block_col=None).collect()
        }
        assert (7, 100) in lsh
        assert lsh[(7, 100)] == blocked[(7, 100)]  # same exact-jac verify
        assert set(lsh) <= set(blocked)  # LSH candidates, exactly verified
        assert all(a != 101 and b != 101 for a, b in lsh)

    def test_blocked_mode_warns_on_low_block_cardinality(self, spark) -> None:
        """The quadratic-within-block trap: a blocking key whose
        cardinality is a tiny fraction of the row count must raise a
        RuntimeWarning steering users to the LSH default (block_col=None
        — which must NOT warn)."""
        import warnings

        from parsel_spark.operators.dedup import jaccard_pairs

        rows = [(i, "only-block", f"word{i} word{i + 1}") for i in range(200)]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        with pytest.warns(RuntimeWarning, match="quadratic"):
            jaccard_pairs(docs, threshold=0.9, block_col="source")
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            jaccard_pairs(docs, threshold=0.9)  # LSH default: no warning

    def test_blocked_mode_extreme_ratio_raises_unless_forced(self, spark) -> None:
        """Below min_block_ratio/10 the blocked mode must REFUSE (the
        self-join is effectively all-pairs) unless force=True, which
        downgrades it to the grey-zone warning."""
        from parsel_spark.operators.dedup import jaccard_pairs

        rows = [(i, "only-block", f"word{i} word{i + 1}") for i in range(200)]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        # ratio 1/200 = 0.005 < 0.06/10 → extreme zone for min_block_ratio=0.06
        with pytest.raises(ValueError, match="force=True"):
            jaccard_pairs(
                docs, threshold=0.9, block_col="source", min_block_ratio=0.06
            )
        with pytest.warns(RuntimeWarning, match="quadratic"):
            jaccard_pairs(
                docs, threshold=0.9, block_col="source", min_block_ratio=0.06,
                force=True,
            )

    def test_block_guard_memoizes_per_plan(self, spark) -> None:
        """The guard's aggregate job runs ONCE per (plan, column):
        repeated calls on the same input hit the memo (proven by
        poisoning the memo entry and observing the poisoned verdict)."""
        import warnings

        from parsel_spark.operators import dedup

        rows = [(i, "only-block", f"w{i}") for i in range(50)]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        dedup._BLOCK_GUARD_MEMO.clear()
        with pytest.warns(RuntimeWarning):
            dedup.check_block_cardinality(docs, "source", "t", 0.5, force=True)
        assert len(dedup._BLOCK_GUARD_MEMO) == 1
        (key,) = dedup._BLOCK_GUARD_MEMO
        dedup._BLOCK_GUARD_MEMO[key] = (50, 50)  # poison: ratio 1.0 → silent
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            dedup.check_block_cardinality(docs, "source", "t", 0.5, force=True)
        dedup._BLOCK_GUARD_MEMO.clear()

    def test_embedding_blocked_mode_warns(self, spark) -> None:
        from pyspark.sql import functions as F

        from parsel_spark.operators.similarity import embedding_near_dup_pairs

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        one_label = emb.withColumn("label", F.lit("all"))
        with pytest.warns(RuntimeWarning, match="block_col=None"):
            embedding_near_dup_pairs(one_label, threshold=0.99, block_col="label")

    def test_embedding_near_dup_lsh_mode(self, spark) -> None:
        """block_col=None uses hyperplane-LSH buckets as the join key;
        planted exact duplicates share every hyperplane sign, so recall
        on them is guaranteed and sims must match the blocked mode."""
        from pyspark.sql import functions as F

        from parsel_spark.operators.similarity import embedding_near_dup_pairs

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        # plant exact twins of 5 vectors (ids shifted by 10000)
        twins = emb.filter(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            "label",
            "embedding",
        )
        docs = emb.unionByName(twins.select(*emb.columns))
        pairs = {
            (r["vec_a"], r["vec_b"]): r["sim"]
            for r in embedding_near_dup_pairs(
                docs, threshold=0.999, block_col=None
            ).collect()
        }
        for i in range(5):
            assert (i, i + 10000) in pairs
            assert pairs[(i, i + 10000)] == 1.0

    def test_minhash_udf_equals_expression(self, spark) -> None:
        from pyspark.sql import functions as F

        from parsel_spark.operators.dedup import (
            minhash_signatures,
            minhash_signatures_expr,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        fast = minhash_signatures(docs).withColumnRenamed("sig", "sig_udf")
        ref = minhash_signatures_expr(docs).select(
            "doc_id", F.col("sig").alias("sig_expr")
        )
        joined = fast.join(ref, "doc_id")
        assert (
            joined.filter(F.col("sig_udf") != F.col("sig_expr")).count() == 0
        )

    def test_simhash_band_widths_pigeonhole(self) -> None:
        from parsel_spark.operators.dedup import (
            SIMHASH120_BITS,
            simhash_band_widths,
        )

        assert SIMHASH120_BITS == 120
        for k in (*range(0, 20), SIMHASH120_BITS - 1):
            widths = simhash_band_widths(k)
            assert len(widths) == k + 1
            assert sum(widths) == SIMHASH120_BITS
            assert min(widths) >= 1
        with pytest.raises(ValueError):
            simhash_band_widths(SIMHASH120_BITS)  # 121 bands


class TestDupClusters:
    def test_chain_clique_singleton(self, spark) -> None:
        """Min-label fixpoint: a 3-chain (diameter 2 — needs >1 round),
        a 2-clique and a singleton; every node labeled, cluster_id =
        min reachable doc_id."""
        from parsel_spark.operators.dedup import dup_clusters

        pairs = spark.createDataFrame(
            [(1, 5), (5, 9), (20, 21)], "doc_a long, doc_b long"
        )
        nodes = spark.createDataFrame(
            [(i,) for i in (1, 5, 9, 20, 21, 30)], "doc_id long"
        )
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dup_clusters(pairs, nodes).collect()
        }
        assert got == {1: 1, 5: 1, 9: 1, 20: 20, 21: 20, 30: 30}

    def test_long_path_converges(self, spark) -> None:
        """A 12-node path (diameter 11) exercises the multi-round loop;
        the whole path collapses to the smallest endpoint."""
        from parsel_spark.operators.dedup import dup_clusters

        n = 12
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = dup_clusters(pairs, nodes).collect()
        assert {r["cluster_id"] for r in got} == {0}
        assert len(got) == n

    def test_no_pairs_all_singletons(self, spark) -> None:
        from parsel_spark.operators.dedup import dup_clusters

        pairs = spark.createDataFrame([], "doc_a long, doc_b long")
        nodes = spark.createDataFrame([(3,), (7,)], "doc_id long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dup_clusters(pairs, nodes).collect()
        }
        assert got == {3: 3, 7: 7}

    def test_unconverged_raises_not_silent(self, spark) -> None:
        """Exhausting max_iters before the fixpoint must RAISE — the
        partial labels would be wrong cluster ids (one true component
        reported as several) with no signal otherwise."""
        import pytest

        from parsel_spark.operators.dedup import dup_clusters

        n = 8  # path diameter 7 > max_iters=2
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        with pytest.raises(RuntimeError, match="did not converge"):
            dup_clusters(pairs, nodes, max_iters=2).collect()
        # and a sufficient budget still converges to the true component
        got = dup_clusters(pairs, nodes, max_iters=n).collect()
        assert {r["cluster_id"] for r in got} == {0}

    def test_embedding_pair_columns(self, spark) -> None:
        """vec_a/vec_b pair outputs (embedding_near_dup_pairs) feed the
        same operator via the column fallback."""
        from parsel_spark.operators.dedup import dup_clusters

        pairs = spark.createDataFrame([(2, 4)], "vec_a long, vec_b long")
        nodes = spark.createDataFrame(
            [(2,), (4,), (6,)], "vec_id long"
        )
        got = {
            r["vec_id"]: r["cluster_id"]
            for r in dup_clusters(pairs, nodes, id_col="vec_id").collect()
        }
        assert got == {2: 2, 4: 2, 6: 6}


class TestSimilaritySpark:
    def test_ivf_recall_vs_bruteforce(self, spark) -> None:
        from parsel_spark.operators.similarity import knn_bruteforce, knn_ivf

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact = {r["vec_id"] for r in knn_bruteforce(emb, 0, k=10).collect()}
        approx = knn_ivf(emb, 0, k=10).collect()
        approx_ids = {r["vec_id"] for r in approx}
        # probing 4/16 clusters must surface genuinely similar vectors
        assert len(approx_ids & exact) >= 3
        assert all(r["sim"] <= 1.0 for r in approx)

    def test_ivf_assignment_deterministic(self, spark) -> None:
        """Two independent index builds produce identical assignments
        (decimal-exact centroid sums are partitioning-independent)."""
        from parsel_spark.operators.similarity import ivf_index

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        a1, _ = ivf_index(emb)
        a2, _ = ivf_index(emb.repartition(7))
        assert a1.exceptAll(a2).count() == 0
        assert a2.exceptAll(a1).count() == 0

    def test_lsh_recall_vs_bruteforce(self, spark) -> None:
        from parsel_spark.operators.similarity import knn_bruteforce, knn_lsh

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact = {r["vec_id"] for r in knn_bruteforce(emb, 0, k=10).collect()}
        approx = knn_lsh(emb, 0, k=10, n_planes=4).collect()
        approx_ids = {r["vec_id"] for r in approx}
        # bucket scan must return genuinely similar vectors; recall>0
        assert len(approx_ids & exact) >= 1
        assert all(r["sim"] <= 1.0 for r in approx)

    def test_lsh_multiprobe_pinned_recall(self, spark) -> None:
        """Multi-probe (hamming-1 neighbor buckets) vs single-bucket
        probing, PINNED: everything here is deterministic (fixed planes,
        fixed data), so the bounds are exact floors, not noise-bounded.
        Single-probe exhausts the query bucket (returned 4/10 rows for
        vec 0 at sf0.001) and its summed recall@10 over three queries is
        0.1; multi-probe must fill k and dominate per-query."""
        from parsel_spark.operators.similarity import knn_bruteforce, knn_lsh

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        single_sum = multi_sum = 0.0
        for qid in (0, 1, 7):
            exact = {r["vec_id"] for r in knn_bruteforce(emb, qid, k=10).collect()}
            single = {
                r["vec_id"]
                for r in knn_lsh(emb, qid, k=10, max_probe_hamming=0).collect()
            }
            multi = {
                r["vec_id"]
                for r in knn_lsh(emb, qid, k=10, max_probe_hamming=1).collect()
            }
            assert len(multi) == 10  # probe set can always fill k here
            assert len(multi & exact) >= len(single & exact)
            single_sum += len(single & exact) / 10
            multi_sum += len(multi & exact) / 10
        assert multi_sum >= 0.7  # measured 0.8; floor with slack
        assert multi_sum > single_sum  # the cliff single-probe pays

    def test_lsh_multiprobe_planted_twins_guaranteed(self, spark) -> None:
        """Exact twins of the query share its bucket bit-for-bit, so ANY
        probe set containing the query bucket must recall them all."""
        from pyspark.sql import functions as F

        from parsel_spark.operators.similarity import knn_lsh

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        planted = emb
        for i in range(5):
            planted = planted.unionByName(
                emb.filter(F.col("vec_id") == 0).withColumn(
                    "vec_id", F.lit(10000 + i)
                )
            )
        got = knn_lsh(planted, 0, k=10).collect()
        ids = {r["vec_id"] for r in got}
        sims = {r["vec_id"]: r["sim"] for r in got}
        for i in range(5):
            assert 10000 + i in ids
            assert sims[10000 + i] == 1.0

    def test_ivf_persisted_index_probe_equals_rebuild(
        self, spark, tmp_path
    ) -> None:
        """build_ivf_index → snapshot catalog → load_ivf_index →
        knn_ivf(index=...) must return EXACTLY the inline-rebuild
        results (the k-means is deterministic, so parquet round-tripping
        the index is invisible) — without re-running k-means."""
        from parsel_spark.operators.similarity import (
            build_ivf_index,
            knn_ivf,
            load_ivf_index,
        )
        from parsel_spark.sources.snapshots import SnapshotCatalog

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        catalog = SnapshotCatalog(str(tmp_path / "ivf"))
        build_ivf_index(catalog, emb, n_centroids=16, iters=2)
        index = load_ivf_index(spark, catalog)

        rebuilt = knn_ivf(emb, 0, k=10).collect()
        probed = knn_ivf(emb, 0, k=10, index=index).collect()
        assert [tuple(r) for r in probed] == [tuple(r) for r in rebuilt]

        # probe-only plan contains no aggregation (the k-means update's
        # groupBy) — the index really is reused, not recomputed
        plan = (
            knn_ivf(emb, 0, k=10, index=index)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "Aggregate" not in plan


class TestStreaming:
    def test_politeness_stream_state(self, spark, tmp_path) -> None:
        """Stateful token-bucket gate over a page-request stream
        (applyInPandasWithState): per-host budgets carry across rows."""
        import pandas as pd

        from parsel_spark.streaming.stream_crawl import politeness_stream

        input_dir = tmp_path / "pin"
        input_dir.mkdir()
        rows = [
            {"host": "a.test", "url": f"http://a.test/{i}"} for i in range(6)
        ] + [{"host": "b.test", "url": "http://b.test/0"}]
        spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.parquet(
            str(input_dir / "b0")
        )
        stream = spark.readStream.schema("host string, url string").parquet(
            str(input_dir / "b0")
        )
        gated = politeness_stream(stream, crawl_delay_s=1.0)
        query = (
            gated.writeStream.format("memory")
            .queryName("politeness_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(120)
        out = spark.sql("select * from politeness_out").collect()
        by_host: dict[str, list[bool]] = {}
        for r in out:
            by_host.setdefault(r["host"], []).append(r["allowed"])
        # host a: initial 1 token + 1 refill = 2 allowed, rest denied
        assert sum(by_host["a.test"]) == 2 and len(by_host["a.test"]) == 6
        assert by_host["b.test"] == [True]

    def test_stream_extract_links(self, spark) -> None:
        import pandas as pd

        from parsel_spark.streaming.stream_crawl import (
            extract_link_stream,
            stream_once,
        )

        rows = []
        for i in range(20):
            rows.append(
                {
                    "url": f"http://s.test/p/{i}",
                    "host": "s.test",
                    "html": f'<a href="/p/{i + 1}">n</a><a href="HTTP://S.TEST/p/{i + 2}#x">m</a>',
                    "fetched_at": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=i),
                }
            )
        pages = spark.createDataFrame(pd.DataFrame(rows)).coalesce(1)
        out = stream_once(pages, extract_link_stream)
        urls = {r["url"] for r in out.collect()}
        assert "http://s.test/p/1" in urls
        assert "http://s.test/p/21" in urls  # canonicalized uppercase+fragment form
        assert len(urls) == 21  # /p/1 .. /p/21 deduped


class TestStreamOnce:
    """The one streaming runner: a batch frame in, the operator run as
    one availableNow query, a batch frame out."""

    def test_schema_round_trips(self, spark) -> None:
        from parsel_spark.streaming.stream_crawl import stream_once

        df = spark.sql(
            "SELECT id AS n, CAST(id AS STRING) AS s, "
            "TIMESTAMP'2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS t, "
            "array(CAST(id AS STRING), 'x') AS a FROM range(5)"
        )
        out = stream_once(df, lambda s: s)
        # the file source reads every field nullable; names and types stay
        assert out.schema.simpleString() == df.schema.simpleString()
        assert sorted(out.collect()) == sorted(df.collect())

    def test_complete_mode_returns_table(self, spark) -> None:
        from pyspark.sql import functions as F

        from parsel_spark.streaming.stream_crawl import stream_once

        df = spark.range(10).select((F.col("id") % 3).alias("k"))
        views = {t.name for t in spark.catalog.listTables()}
        out = stream_once(df, lambda s: s.groupBy("k").count(), "complete")
        assert sorted((r["k"], r["count"]) for r in out.collect()) == [
            (0, 4), (1, 3), (2, 3),
        ]
        # the memory sink's view is dropped: no call leaves one behind
        assert {t.name for t in spark.catalog.listTables()} == views

    @pytest.mark.parametrize("mode", ["append", "complete"])
    def test_leaves_only_the_parquet_sink(
        self, spark, tmp_path, monkeypatch, mode
    ) -> None:
        import tempfile

        from parsel_spark.streaming.stream_crawl import stream_once

        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        df = spark.range(6).selectExpr("id % 2 AS k")
        op = (lambda s: s) if mode == "append" else (
            lambda s: s.groupBy("k").count()
        )
        out = stream_once(df, op, mode)
        runs = list(tmp_path.iterdir())
        if mode == "append":
            assert len(runs) == 1
            assert [p.name for p in runs[0].iterdir()] == ["out"]
            assert len(out.collect()) == 6
        else:
            assert runs == []
            assert len(out.collect()) == 2

    def test_single_trigger_politeness(self, spark) -> None:
        """A ``coalesce(1)`` input reaches ``politeness_stream`` as ONE
        trigger, so each host gets exactly one refill: admits
        ``min(floor(min(CAP, INITIAL + 1/delay)), max_fetch, n,
        MAX_FETCH_CAP)`` — the closed form the stream_politeness_gate and
        stream_crawl_pipeline oracles state."""
        from parsel_spark.operators.frontier import (
            INITIAL_TOKENS,
            MAX_FETCH_CAP,
            TOKEN_CAP,
        )
        from parsel_spark.streaming.stream_crawl import (
            politeness_stream,
            stream_once,
        )

        hosts = {  # host: (crawl_delay, max_fetch_per_wave, candidates)
            "a.test": (1.0, 8, 6),
            "b.test": (0.25, 8, 9),
            "c.test": (0.25, 2, 9),
            "d.test": (3.0, 8, 4),
            "e.test": (0.5, 8, 1),
        }
        rows = [
            (h, f"http://{h}/{i}", float(i % 3), i, delay, mf)
            for h, (delay, mf, n) in hosts.items()
            for i in range(n)
        ]
        pages = spark.createDataFrame(
            rows,
            "host string, url string, priority double, seq long, "
            "crawl_delay double, max_fetch_per_wave int",
        ).repartition(4)
        out = stream_once(pages.coalesce(1), politeness_stream).collect()
        admitted = {h: 0 for h in hosts}
        for r in out:
            admitted[r["host"]] += r["allowed"]
        assert len(out) == len(rows)
        assert admitted == {
            h: min(
                int(min(TOKEN_CAP, INITIAL_TOKENS + 1.0 / delay)),
                mf,
                n,
                MAX_FETCH_CAP,
            )
            for h, (delay, mf, n) in hosts.items()
        }


class TestRepeatedNgramSpans:
    """Substring-level cross-document dedup (Lee-et-al-style repeated
    n-gram spans) — planted boilerplate must be found and removed;
    original content must survive untouched."""

    BOILER = "all rights reserved contact us for licensing terms"  # 8 toks

    def _docs(self, spark):
        rows = [
            (1, f"unique alpha text one {self.BOILER} tail one"),
            (2, f"different beta words {self.BOILER} closing two"),
            (3, "totally original content with no repeats at all here"),
            (4, self.BOILER),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_planted_boilerplate_spans(self, spark) -> None:
        from parsel_spark.operators.dedup import repeated_ngram_spans

        got = {
            r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
            for r in repeated_ngram_spans(
                self._docs(spark), n=5, min_docs=2
            ).collect()
        }
        # the 8-token boilerplate = 4 overlapping 5-grams, merged to ONE
        # span per doc at the planted offsets
        assert got == {1: (4, 11, 8), 2: (3, 10, 8), 4: (0, 7, 8)}

    def test_single_doc_repeat_not_flagged_cross_doc(self, spark) -> None:
        """A doc repeating its own phrase is NOT cross-document
        contamination at min_docs=2."""
        from parsel_spark.operators.dedup import repeated_ngram_spans

        docs = spark.createDataFrame(
            [(1, "la la la la la la la la"), (2, "other words entirely here now")],
            "doc_id long, text string",
        )
        assert repeated_ngram_spans(docs, n=5, min_docs=2).count() == 0

    def test_adjacent_islands_merge(self, spark) -> None:
        """Two shared phrases separated by ONE unique token: the spans
        stay separate; with zero separation they merge."""
        from parsel_spark.operators.dedup import repeated_ngram_spans

        p1 = "one two three four five"
        p2 = "six seven eight nine ten"
        docs = spark.createDataFrame(
            [
                (1, f"{p1} UNIQ{0} {p2}"),
                (2, f"{p1} filler filler filler filler filler filler {p2}"),
            ],
            "doc_id long, text string",
        )
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in repeated_ngram_spans(docs, n=5, min_docs=2).collect()
        )
        assert got == [(1, 0, 4), (1, 6, 10), (2, 0, 4), (2, 11, 15)]

    def test_removal_strips_all_occurrences(self, spark) -> None:
        from parsel_spark.operators.dedup import remove_repeated_ngrams

        got = {
            r["doc_id"]: (r["clean_text"], r["removed_tokens"])
            for r in remove_repeated_ngrams(
                self._docs(spark), n=5, min_docs=2
            ).collect()
        }
        assert got[1] == ("unique alpha text one tail one", 8)
        assert got[2] == ("different beta words closing two", 8)
        assert got[3] == (
            "totally original content with no repeats at all here",
            0,
        )
        assert got[4] == ("", 8)  # pure boilerplate vanishes entirely

    def test_deterministic_across_partitionings(self, spark) -> None:
        from parsel_spark.operators.dedup import repeated_ngram_spans

        docs = self._docs(spark)
        a = {tuple(r) for r in repeated_ngram_spans(docs, 5, 2).collect()}
        b = {
            tuple(r)
            for r in repeated_ngram_spans(docs.repartition(7), 5, 2).collect()
        }
        assert a == b


class TestDecontaminate:
    EVAL = "what is the capital of france paris is the capital"

    def _fit(self, spark):
        from parsel_spark.operators.decontam import decontaminate

        rows = [
            (1, f"training doc copying the benchmark {self.EVAL} verbatim"),
            (2, "a clean training document about cooking pasta at home"),
            (3, self.EVAL),
            (4, "tiny doc"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        ev = spark.createDataFrame(
            [(100, self.EVAL)], "eval_id long, text string"
        )
        return {
            r["doc_id"]: r
            for r in decontaminate(docs, ev, n=5, threshold=0.3).collect()
        }

    def test_planted_contamination_flagged(self, spark) -> None:
        got = self._fit(spark)
        assert got[3]["contaminated"] and got[3]["overlap_frac"] == 1.0
        assert got[1]["contaminated"] and got[1]["overlap_ngrams"] == 6
        assert not got[2]["contaminated"] and got[2]["overlap_ngrams"] == 0

    def test_short_doc_never_flagged(self, spark) -> None:
        got = self._fit(spark)
        assert got[4]["total_ngrams"] == 0
        assert got[4]["overlap_frac"] == 0.0
        assert not got[4]["contaminated"]

    def test_eval_text_col_override(self, spark) -> None:
        """Benchmark tables usually name their text column differently
        (question/prompt); eval_text_col maps it without renaming."""
        from parsel_spark.operators.decontam import decontaminate

        docs = spark.createDataFrame(
            [(1, self.EVAL), (2, "other words about something else here")],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(100, self.EVAL)], "eval_id long, question string"
        )
        got = {
            r["doc_id"]: r["contaminated"]
            for r in decontaminate(
                docs, ev, n=5, threshold=0.3, eval_text_col="question"
            ).collect()
        }
        assert got == {1: True, 2: False}


class TestRepetitionStats:
    """Gopher-style within-doc repetition signals (planted repetition —
    the natural test corpus has none, its oracle rows check the zero
    path; these prove the nonzero path)."""

    def _docs(self, spark):
        rows = [
            (1, "buy now buy now buy now limited offer"),
            (2, "a varied sentence with mostly different words"),
            (3, "la la la la la la"),
            (4, "ab"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_top_ngram_counts(self, spark) -> None:
        from parsel_spark.operators.dedup import top_ngram_stats

        got = {
            r["doc_id"]: (r["total_tokens"], r["top_ngram_count"],
                          r["top_ngram_frac"])
            for r in top_ngram_stats(self._docs(spark), n=2).collect()
        }
        assert got[1] == (8, 3, 0.75)       # 'buy now' x3
        assert got[2] == (7, 1, 0.285714)   # no repeats
        # occurrence-weighted: self-overlapping 'la la' counts 5 times
        # over 6 tokens -> frac > 1 by design (public impl parity)
        assert got[3] == (6, 5, 1.666667)
        assert got[4] == (1, 0, 0.0)        # shorter than n

    def test_dup_ngram_coverage_spans(self, spark) -> None:
        from parsel_spark.operators.dedup import dup_ngram_coverage

        got = {
            r["doc_id"]: (r["covered_tokens"], r["dup_coverage_frac"])
            for r in dup_ngram_coverage(self._docs(spark), n=3).collect()
        }
        # repeated 3-grams in doc 1 cover tokens 0..5 (merged span)
        assert got[1] == (6, 0.75)
        assert got[2] == (0, 0.0)
        assert got[3] == (6, 1.0)   # whole doc is one repeated span
        assert got[4] == (0, 0.0)

    def test_coverage_never_exceeds_doc(self, spark) -> None:
        """Unlike the occurrence-weighted top-gram frac, span coverage
        is a true fraction: union of positions <= total tokens."""
        from pyspark.sql import functions as F

        from parsel_spark.operators.dedup import dup_ngram_coverage

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", F.concat("text", F.lit(" "), "text").alias("text"))
        out = dup_ngram_coverage(docs, n=5)
        bad = out.filter(
            (F.col("covered_tokens") > F.col("total_tokens"))
            | (F.col("dup_coverage_frac") > 1.0)
        ).count()
        assert bad == 0
        # doubled docs are self-repeating: coverage must actually fire
        assert out.filter(F.col("covered_tokens") > 0).count() > 0


class TestGopherQualityFlags:
    def test_each_gate_fires_on_planted_failures(self, spark) -> None:
        from pyspark.sql import functions as F

        from parsel_spark.functions.textstats import gopher_quality_flags

        rows = [
            (1, "the quick brown foxes jumped over the lazy sleeping dogs"
                " in warm summer weather today"),
            (2, "too short"),                                  # word count
            (3, " ".join(["supercalifragilistic"] * 20)),      # mean len high
            (4, " ".join(["a", "b"] * 10)),                    # mean len low
            (5, "x " * 10 + "@#$%^&*()!! @#$%^&*()!!"),        # symbols
            (6, ""),                                           # empty
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r
            for r in docs.select(
                "doc_id", *gopher_quality_flags(min_words=5)
            ).collect()
        }
        assert got[1]["keep"]
        assert not got[2]["ok_word_count"] and not got[2]["keep"]
        assert not got[3]["ok_mean_word_len"]
        assert not got[4]["ok_mean_word_len"]
        assert not got[5]["ok_symbol_ratio"]
        # empty doc fails every gate, no 0/0 reaches the output
        assert not any(
            got[6][c]
            for c in ("ok_word_count", "ok_mean_word_len", "ok_stopwords",
                      "ok_symbol_ratio", "keep")
        )

    def test_stopword_floor_opt_in(self, spark) -> None:
        from parsel_spark.functions.textstats import gopher_quality_flags

        docs = spark.createDataFrame(
            [(1, "words without any common stopwords whatsoever present")],
            "doc_id long, text string",
        )
        loose = docs.select(
            "doc_id", *gopher_quality_flags(min_words=3)
        ).first()
        strict = docs.select(
            "doc_id",
            *gopher_quality_flags(min_words=3, min_stopword_ratio=0.05),
        ).first()
        assert loose["ok_stopwords"] and not strict["ok_stopwords"]


class TestLineDedup:
    """CCNet-style line-level dedup: the normalized-line hash decides,
    boilerplate goes everywhere it appears, unique lines keep their
    exact bytes, blank/punct-only lines never count."""

    FOOTER = "Copyright ACME Corp -- All Rights Reserved."

    def _docs(self, spark):
        rows = [
            (1, f"{self.FOOTER}\nunique alpha content line\n***\nTail one."),
            # same footer but different case + punctuation: SAME key
            (2, f"copyright acme corp all rights reserved\nother beta line\nTail two!"),
            (3, "totally original page\nwith no shared lines\n***"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_normalized_boilerplate_removed_everywhere(self, spark) -> None:
        from parsel_spark.operators.dedup import line_dedup

        got = {r["doc_id"]: r for r in line_dedup(self._docs(spark)).collect()}
        # the two footer variants normalize to one key -> both removed
        assert got[1]["clean_text"] == "unique alpha content line\n***\nTail one."
        assert got[1]["removed_lines"] == 1 and got[1]["total_lines"] == 4
        assert got[2]["clean_text"] == "other beta line\nTail two!"
        assert got[2]["removed_lines"] == 1 and got[2]["total_lines"] == 3
        # '***' normalizes to '' in docs 1 and 3: shared but never counted
        assert got[3]["clean_text"] == "totally original page\nwith no shared lines\n***"
        assert got[3]["removed_lines"] == 0

    def test_min_docs_threshold(self, spark) -> None:
        from parsel_spark.operators.dedup import line_dedup

        docs = self._docs(spark)
        got = {r["doc_id"]: r for r in line_dedup(docs, min_docs=3).collect()}
        # footer appears in only 2 docs -> survives at min_docs=3
        assert all(got[i]["removed_lines"] == 0 for i in (1, 2, 3))

    def test_fully_boilerplate_doc_empties(self, spark) -> None:
        from parsel_spark.operators.dedup import line_dedup

        rows = [(1, "same line"), (2, "Same LINE!"), (3, "same line\nextra")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in line_dedup(docs).collect()}
        assert got[1]["clean_text"] == "" and got[1]["removed_lines"] == 1
        assert got[2]["clean_text"] == ""
        assert got[3]["clean_text"] == "extra"

    def test_partitioning_invariance(self, spark) -> None:
        from parsel_spark.operators.dedup import line_dedup

        docs = self._docs(spark)
        a = {tuple(r) for r in line_dedup(docs).collect()}
        b = {tuple(r) for r in line_dedup(docs.repartition(7)).collect()}
        assert a == b


class TestHostQualityPriority:
    def test_rollup_and_rank(self, spark) -> None:
        from parsel_spark.operators.frontier import host_quality_priority

        rows = [
            ("a.test", True), ("a.test", True), ("a.test", False),
            ("b.test", True), ("b.test", True),
            ("c.test", False),
        ]
        got = {
            r["host"]: r
            for r in host_quality_priority(
                spark.createDataFrame(rows, "host string, keep boolean")
            ).collect()
        }
        assert got["b.test"]["priority_rank"] == 1  # 2/2 keep rate
        assert got["a.test"]["priority_rank"] == 2  # 2/3
        assert got["c.test"]["priority_rank"] == 3  # 0/1
        assert got["a.test"]["n_docs"] == 3 and got["a.test"]["n_keep"] == 2
        assert got["b.test"]["keep_rate"] == 1.0

    def test_tie_breaks_on_host_with_rank_semantics(self, spark) -> None:
        from parsel_spark.operators.frontier import host_quality_priority

        rows = [("x.test", True), ("w.test", True), ("z.test", False)]
        got = {
            r["host"]: r["priority_rank"]
            for r in host_quality_priority(
                spark.createDataFrame(rows, "host string, keep boolean")
            ).collect()
        }
        # equal rates rank by host ascending; rank() (not dense_rank)
        assert got == {"w.test": 1, "x.test": 2, "z.test": 3}
