"""Round-5 training-pipeline operators: bucketed IVF partition pruning,
corpus-level span removal, semantic-dedup survivors, deterministic training
shuffle, TF-IDF / entropy, embedding quantization / standardization.

The IVF test closes the round-4 verdict gap: ``ivf_topk``'s docstring
claims the at-scale layout makes the probe partition pruning — here the
bucketed layout actually exists on disk and the pruned scan is pinned in
the executed plan, not prose.
"""

from __future__ import annotations

import math
import shutil
import tempfile

import pytest
from pyspark.sql import Row, functions as F

from tests.conftest import SF_SMALL
from weather_api_automate_etl_spark.operators import (
    corpus,
    dedup,
    embeddings as emb_ops,
    similarity,
    textops,
)
from weather_api_automate_etl_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings")


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents")


# ---------------------------------------------------------------------------
# bucketed IVF index: the probe must be partition pruning, not a full scan
# ---------------------------------------------------------------------------


def test_ivf_bucketed_partition_pruning(spark, emb):
    corp = emb.filter(F.col("vec_id") != 0)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    path = tempfile.mkdtemp(prefix="ivf_test_")
    try:
        similarity.build_ivf_index(corp, path, "embedding", "label")
        probed = similarity.ivf_probe_lists(spark, path, qvec, nprobe=2)
        assert len(probed) == 2
        subset = spark.read.parquet(f"{path}/lists").filter(
            F.col("label").isin(probed)
        )
        plan = _plan(subset)
        # the list filter lands in PartitionFilters (planning-time pruning),
        # NOT in PushedFilters (which would still open every file)
        assert "PartitionFilters: [" in plan
        assert "label" in plan.split("PartitionFilters: [", 1)[1].split("]")[0]
        # pruning is real: the planned scan reads exactly the probed
        # directories' files, a strict subset of the index
        probed_files = {
            f
            for lst in probed
            for f in spark.read.parquet(f"{path}/lists/label={lst}").inputFiles()
        }
        all_files = set(spark.read.parquet(f"{path}/lists").inputFiles())
        assert len(all_files) > len(probed_files)
        n_direct = sum(
            spark.read.parquet(f"{path}/lists/label={lst}").count()
            for lst in probed
        )
        assert subset.count() == n_direct

        # end to end: the on-disk probe returns the in-memory path's answer
        from_index = similarity.ivf_topk_from_index(
            spark, path, qvec, list_col="label", k=10, nprobe=2
        ).collect()
        in_memory = similarity.ivf_topk(
            corp, "embedding", "label", qvec, k=10, nprobe=2
        ).collect()
        assert [(r.vec_id, r.score) for r in from_index] == [
            (r.vec_id, r.score) for r in in_memory
        ]
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# corpus-level duplicated-span removal
# ---------------------------------------------------------------------------


def test_remove_duplicated_spans_removes_shared_span_only(spark):
    shared = "alpha beta gamma delta epsilon"  # the 5-token duplicated span
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"one two {shared} three"),
            Row(doc_id=2, text=f"{shared} four five six seven"),
            Row(doc_id=3, text="totally unique words nothing shared here"),
        ]
    )
    out = {
        r.doc_id: r
        for r in dedup.remove_duplicated_spans(df, k=5, min_docs=2).collect()
    }
    assert out[1].clean_text == "one two three"
    assert out[1].n_removed == 5
    assert out[2].clean_text == "four five six seven"
    assert out[2].n_removed == 5
    assert out[3].clean_text == "totally unique words nothing shared here"
    assert out[3].n_removed == 0


def test_remove_duplicated_spans_edges(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e"),  # fully duplicated → empty
            Row(doc_id=2, text="a b c d e"),
            Row(doc_id=3, text="too short"),  # < k tokens → untouched
        ]
    )
    out = {
        r.doc_id: r
        for r in dedup.remove_duplicated_spans(df, k=5, min_docs=2).collect()
    }
    assert out[1].clean_text == "" and out[1].n_removed == 5
    assert out[2].clean_text == "" and out[2].n_removed == 5
    assert out[3].clean_text == "too short" and out[3].n_removed == 0


def test_remove_duplicated_spans_overlapping_covers_union(spark):
    # spans overlap: 'b c d e f' and 'c d e f g' both duplicated; covered
    # positions are the UNION, words removed once each
    t1 = "a b c d e f g h"
    t2 = "b c d e f g"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=t1), Row(doc_id=2, text=t2)]
    )
    out = {
        r.doc_id: r
        for r in dedup.remove_duplicated_spans(df, k=5, min_docs=2).collect()
    }
    assert out[1].clean_text == "a h" and out[1].n_removed == 6
    assert out[2].clean_text == "" and out[2].n_removed == 6


def test_span_inventory_wide_input_tokenizes_once(spark, monkeypatch):
    """Round-13 size guard (guide §2.4): _span_inventory's base feeds
    3-4 plan branches, so on a WIDE input (Catalyst size estimate ≥
    dedup._WIDE_BYTES_PER_CORE per core) it is lazily localCheckpointed
    and the tokenize + upstream chain executes exactly ONCE; below the
    threshold it keeps the recompute form (measured faster at fixture
    scale). The threshold is lowered to 1 byte/core to drive the
    guarded branch on fixture-sized data; execution count pinned with
    an accumulator inside the input DAG, plus result equality both
    ways. The guard must also be CHEAP: it reads the optimized-plan
    size estimate, never df.rdd (which compiles the full physical plan
    — a measured 1.7-7 s driver stall on q_corpus_pipeline's chain)."""
    calls = spark.sparkContext.accumulator(0)

    def counting(it):
        for batch in it:
            calls.add(batch.num_rows)
            yield batch

    rows = [
        (1, "one two alpha beta gamma delta epsilon three"),
        (2, "alpha beta gamma delta epsilon four five six"),
        (3, "totally unique words nothing shared here at all"),
    ] * 4
    base = spark.createDataFrame(
        [(i * 10 + d, t) for i, (d, t) in enumerate(rows)],
        "doc_id long, text string",
    ).mapInArrow(counting, "doc_id long, text string")

    monkeypatch.setattr(dedup, "_wide_input", lambda df: True)
    got_wide = sorted(
        (r.doc_id, r.clean_text, r.n_removed)
        for r in dedup.remove_duplicated_spans(base, k=5, min_docs=2).collect()
    )
    assert calls.value == len(rows), "guarded branch must execute base once"

    calls.value = 0
    monkeypatch.setattr(dedup, "_wide_input", lambda df: False)
    got_narrow = sorted(
        (r.doc_id, r.clean_text, r.n_removed)
        for r in dedup.remove_duplicated_spans(base, k=5, min_docs=2).collect()
    )
    assert calls.value > len(rows), "narrow input keeps the recompute form"
    assert got_wide == got_narrow


def test_wide_input_guard_reads_catalyst_estimate(spark, tmp_path, monkeypatch):
    """The width guard itself: parquet-rooted plans (even under
    filters/projections) get a REAL Catalyst size estimate — tiny file
    → not wide; threshold lowered → wide — while RDD/Python-backed
    sources report the defaultSizeInBytes sentinel and must stay NOT
    wide (conservative), never 'wide because unknown'."""
    p = str(tmp_path / "tiny.parquet")
    spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(p)
    scan = spark.read.parquet(p).filter("doc_id >= 0")
    assert not dedup._wide_input(scan)
    monkeypatch.setattr(dedup, "_WIDE_BYTES_PER_CORE", 1)
    assert dedup._wide_input(scan)
    # a mapInArrow OVER the scan still propagates the child's estimate
    assert dedup._wide_input(
        scan.mapInArrow(lambda it: it, "doc_id long, text string")
    )
    # an RDD-rooted source (Arrow createDataFrame) has no estimate —
    # Catalyst reports the defaultSizeInBytes sentinel, which must read
    # NOT wide even with the threshold floored, never 'wide because
    # unknown'
    rdd_rooted = spark.createDataFrame(
        [(1, "alpha")], "doc_id long, text string"
    )
    assert not dedup._wide_input(rdd_rooted), (
        "unknown-size sources must not read as wide"
    )


def test_estimated_bytes_owns_the_size_estimate(spark, tmp_path):
    """``layout.estimated_bytes`` is the one reader of Catalyst's size
    estimate: a real byte count for a parquet-rooted plan, None for the
    un-sizable sentinel. Its two consumers keep their own unknown-size
    policy: the narrow guard leaves an unknown frame alone, the wide
    guard reads it as not wide (pinned above)."""
    from weather_api_automate_etl_spark.functions.layout import (
        estimated_bytes,
        spread_if_narrow,
    )

    p = str(tmp_path / "tiny.parquet")
    spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(p)
    scan = spark.read.parquet(p)
    est = estimated_bytes(scan)
    assert isinstance(est, int) and 0 < est < 1 << 20
    par = spark.sparkContext.defaultParallelism
    assert spread_if_narrow(scan).rdd.getNumPartitions() == par
    rdd_rooted = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
    assert estimated_bytes(rdd_rooted) is None
    assert spread_if_narrow(rdd_rooted) is rdd_rooted


# ---------------------------------------------------------------------------
# semantic-dedup survivors
# ---------------------------------------------------------------------------


def test_neardup_survivors_dominated_id_removal(spark):
    df = spark.createDataFrame(
        [Row(vec_id=i, payload=f"p{i}") for i in range(5)]
    )
    pairs = spark.createDataFrame(
        [Row(id_a=0, id_b=3), Row(id_a=1, id_b=4), Row(id_a=0, id_b=4)]
    )
    kept = sorted(
        r.vec_id for r in dedup.neardup_survivors(df, pairs, "vec_id").collect()
    )
    assert kept == [0, 1, 2]


def test_neardup_survivors_is_conservative_not_greedy(spark):
    # chain (0,3),(3,5): dominated-id removal drops BOTH 3 and 5 (5's only
    # neighbor 3 is itself dropped) — the documented conservative superset
    # of greedy SemDeDup deletion, which would keep 5
    df = spark.createDataFrame([Row(vec_id=i) for i in (0, 3, 5)])
    pairs = spark.createDataFrame([Row(id_a=0, id_b=3), Row(id_a=3, id_b=5)])
    kept = sorted(
        r.vec_id for r in dedup.neardup_survivors(df, pairs, "vec_id").collect()
    )
    assert kept == [0]


def test_semdedup_survivors_drop_higher_id_of_each_pair(spark, emb):
    buckets = similarity.hyperplane_lsh_buckets(
        emb, "embedding", dim=64, n_planes=8
    )
    blocked = emb.join(buckets, "vec_id").select("vec_id", "embedding", "bucket")
    pairs = dedup.embedding_neardup_pairs(
        blocked, "vec_id", "embedding", block_col="bucket", threshold=0.3
    )
    survivors = {
        r.vec_id for r in dedup.neardup_survivors(emb, pairs, "vec_id").collect()
    }
    dropped = {r.id_b for r in pairs.collect()}
    total = emb.count()
    assert survivors.isdisjoint(dropped)
    assert len(survivors) + len(dropped) == total
    # every pair's lower id survives unless itself dominated
    for p in pairs.collect():
        assert p.id_a in survivors or p.id_a in dropped


# ---------------------------------------------------------------------------
# deterministic training shuffle
# ---------------------------------------------------------------------------


def test_train_shuffle_dense_positions_and_replayable(spark, docs):
    out = corpus.train_shuffle(docs, n_shards=4, seed="epoch0")
    rows = out.collect()
    assert len(rows) == docs.count()
    assert {r.shard for r in rows} <= set(range(4))
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.pos)
        # dense 0..n-1 positions, ordered by sort_key
        assert [r.pos for r in shard_rows] == list(range(len(shard_rows)))
        keys = [r.sort_key for r in shard_rows]
        assert keys == sorted(keys)
    # replayable: a different physical layout yields the identical plan
    again = corpus.train_shuffle(
        docs.repartition(7), n_shards=4, seed="epoch0"
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
    # a different seed is a genuinely different permutation
    other = corpus.train_shuffle(docs, n_shards=4, seed="epoch1").collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, rows))


# ---------------------------------------------------------------------------
# TF-IDF + entropy
# ---------------------------------------------------------------------------


def test_tfidf_top_terms_shape_and_ranking(spark, docs):
    out = textops.tfidf_top_terms(docs, k=3)
    rows = out.collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert len(per_doc) == docs.count()
    for doc_rows in per_doc.values():
        doc_rows.sort(key=lambda r: r.rk)
        assert 1 <= len(doc_rows) <= 3
        scores = [r.tfidf for r in doc_rows]
        assert scores == sorted(scores, reverse=True)


def test_tfidf_rare_term_outranks_common(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="common rareword rareword common"),
            Row(doc_id=2, text="common common other"),
            Row(doc_id=3, text="common thing else"),
        ]
    )
    top = {
        r.doc_id: r
        for r in textops.tfidf_top_terms(df, k=1).collect()
    }
    # 'common' appears in every doc (idf floor); the doc-1 top term is its
    # unique word despite lower tf than 'common'
    assert top[1].term == "rareword"


def test_token_entropy_bounds(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="x x x x x x"),          # zero entropy
            Row(doc_id=2, text="a b c d"),              # ln(4), all distinct
        ]
    )
    out = {r.doc_id: r for r in textops.token_entropy(df).collect()}
    assert out[1].entropy == 0.0
    assert abs(out[2].entropy - round(math.log(4), 6)) < 1e-9
    assert out[2].n_tokens == 4 and out[2].n_distinct == 4


# ---------------------------------------------------------------------------
# embedding quantization + standardization
# ---------------------------------------------------------------------------


def test_quantize_int8_reconstruction_bound(spark, emb):
    out = emb_ops.quantize_int8(emb, "vec_id", "embedding").collect()
    assert len(out) == emb.count()
    for r in out:
        assert all(-127 <= c <= 127 for c in r.q)
        # symmetric quantization: per-component error ≤ scale/2, so
        # mse ≤ scale²/4
        assert r.mse <= r.scale * r.scale / 4 + 1e-12
        assert r.scale >= 0


def test_quantize_int8_zero_vector(spark):
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[0.0, 0.0, 0.0])]
    )
    r = emb_ops.quantize_int8(df, "vec_id", "embedding").head()
    assert r.scale == 0.0 and r.mse == 0.0 and list(r.q) == [0, 0, 0]


def test_standardize_dims_unit_stats(spark, emb):
    std = emb_ops.standardize_dims(emb, "vec_id", "embedding")
    stats = (
        std.select(F.posexplode("z_vec").alias("pos", "z"))
        .groupBy("pos")
        .agg(F.avg("z").alias("mu"), F.stddev_pop("z").alias("sd"))
        .collect()
    )
    assert len(stats) == 64
    for s in stats:
        assert abs(s.mu) < 1e-9
        assert abs(s.sd - 1.0) < 1e-9


def test_standardize_dims_zero_variance_guard(spark):
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 2.0]),
            Row(vec_id=2, embedding=[1.0, 4.0]),
        ]
    )
    out = {
        r.vec_id: list(r.z_vec)
        for r in emb_ops.standardize_dims(df, "vec_id", "embedding").collect()
    }
    assert out[1][0] == 0.0 and out[2][0] == 0.0  # constant dim → 0
    assert out[1][1] == -1.0 and out[2][1] == 1.0


# ---------------------------------------------------------------------------
# intra-document repeated-span removal
# ---------------------------------------------------------------------------


def test_intradoc_repeats_removes_later_occurrences(spark):
    df = spark.createDataFrame(
        [
            # 'x y z' repeats at positions 0 and 4 (≥ k after first)
            Row(doc_id=1, text="x y z q x y z w"),
            Row(doc_id=2, text="all distinct words here now"),
        ]
    )
    out = {
        r.doc_id: r
        for r in dedup.remove_intradoc_repeats(df, k=3).collect()
    }
    assert out[1].clean_text == "x y z q w"
    assert out[1].n_removed == 3
    assert out[2].n_removed == 0
    assert out[2].clean_text == "all distinct words here now"


def test_intradoc_repeats_overlap_is_not_repetition(spark):
    # 'a a a a' with k=2: span 'a a' occurs at 0,1,2; only start 2 is
    # ≥ first+k → positions 2,3 removed, the leading 'a a' survives
    df = spark.createDataFrame([Row(doc_id=1, text="a a a a")])
    r = dedup.remove_intradoc_repeats(df, k=2).head()
    assert r.clean_text == "a a"
    assert r.n_removed == 2


def test_intradoc_repeats_cross_doc_blind(spark):
    # identical text in two docs: intra-doc removal never looks across
    # documents (that's remove_duplicated_spans' job)
    df = spark.createDataFrame(
        [Row(doc_id=i, text="p q r s t") for i in (1, 2)]
    )
    for r in dedup.remove_intradoc_repeats(df, k=3).collect():
        assert r.clean_text == "p q r s t" and r.n_removed == 0


# ---------------------------------------------------------------------------
# curriculum ordering
# ---------------------------------------------------------------------------


def test_curriculum_order_buckets_and_positions(spark, docs):
    out = corpus.curriculum_order(docs, score_col="n_chars", n_buckets=4)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert {r.bucket for r in rows} <= {0, 1, 2, 3}
    # monotone: every doc in a higher bucket is at least as long as every
    # doc in a lower bucket boundary-wise (quantile buckets)
    max_per = {}
    min_per = {}
    for r in rows:
        max_per[r.bucket] = max(max_per.get(r.bucket, -1), r.n_chars)
        min_per[r.bucket] = min(min_per.get(r.bucket, 1 << 60), r.n_chars)
    buckets = sorted(max_per)
    for lo, hi in zip(buckets, buckets[1:]):
        assert max_per[lo] <= min_per[hi]
    # positions dense per bucket
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r.pos)
    for poss in by_bucket.values():
        assert sorted(poss) == list(range(len(poss)))
    # replayable across physical layouts
    again = corpus.curriculum_order(
        docs.repartition(11), score_col="n_chars", n_buckets=4
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


# ---------------------------------------------------------------------------
# composed corpus pipeline
# ---------------------------------------------------------------------------


def test_corpus_pipeline_invariants(spark):
    from weather_api_automate_etl_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    rows = REGISTRY["q_corpus_pipeline"].fn(spark, SF_SMALL).collect()
    n_docs = load_table(spark, SF_SMALL, "documents").count()
    assert 0 < len(rows) < n_docs          # gate + dedup both dropped rows
    assert len({r.doc_id for r in rows}) == len(rows)
    assert len({r.clean_text for r in rows}) == len(rows)  # exact-deduped
    assert all("<email>" in r.clean_text for r in rows)  # redaction ran
    # (clean_text is the normalized rebuild — lowercased — by contract)
    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.shard < 4 and r.n_removed >= 0
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))


# ---------------------------------------------------------------------------
# property tests: span removal vs pure-Python reference models
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings as hyp_settings, strategies as st

_HSETTINGS = hyp_settings(
    max_examples=6,  # each example is a Spark job
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# tiny vocabulary forces genuine span collisions within/across docs
_doc_st = st.lists(
    st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
).map(" ".join)


def _model_dup_spans(texts: dict[int, str], k: int, min_docs: int):
    toks = {i: t.strip().lower().split() if t.strip() else [""] for i, t in texts.items()}
    owners: dict[str, set] = {}
    for i, ts in toks.items():
        for s in range(len(ts) - k + 1):
            owners.setdefault(" ".join(ts[s : s + k]), set()).add(i)
    dup = {sh for sh, ds in owners.items() if len(ds) >= min_docs}
    out = {}
    for i, ts in toks.items():
        cov: set = set()
        for s in range(len(ts) - k + 1):
            if " ".join(ts[s : s + k]) in dup:
                cov.update(range(s, s + k))
        kept = [w for p, w in enumerate(ts) if p not in cov]
        out[i] = (" ".join(kept), len(ts) - len(kept))
    return out


@given(texts=st.lists(_doc_st, min_size=2, max_size=5), k=st.integers(2, 3))
@_HSETTINGS
@pytest.mark.slow
def test_remove_duplicated_spans_matches_model(spark, texts, k):
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in dedup.remove_duplicated_spans(df, k=k, min_docs=2).collect()
    }
    expect = _model_dup_spans({i: t for i, t in enumerate(texts)}, k, 2)
    assert got == expect


def _model_intradoc(text: str, k: int):
    ts = text.strip().lower().split() if text.strip() else [""]
    first: dict[str, int] = {}
    cov: set = set()
    for s in range(len(ts) - k + 1):
        sh = " ".join(ts[s : s + k])
        if sh not in first:
            first[sh] = s
        if s >= first[sh] + k:
            cov.update(range(s, s + k))
    kept = [w for p, w in enumerate(ts) if p not in cov]
    return " ".join(kept), len(ts) - len(kept)


@given(texts=st.lists(_doc_st, min_size=1, max_size=4), k=st.integers(2, 3))
@_HSETTINGS
@pytest.mark.slow
def test_intradoc_repeats_matches_model(spark, texts, k):
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in dedup.remove_intradoc_repeats(df, k=k).collect()
    }
    expect = {i: _model_intradoc(t, k) for i, t in enumerate(texts)}
    assert got == expect


# ---------------------------------------------------------------------------
# vectorized cosine pairs: set parity with the HOF join path + speed story
# ---------------------------------------------------------------------------


def test_vectorized_pairs_match_hof_pairs(spark, emb):
    hof = dedup.embedding_neardup_pairs(
        emb, "vec_id", "embedding", block_col="label", threshold=0.35
    )
    vec = dedup.embedding_neardup_pairs_vectorized(
        emb, "vec_id", "embedding", block_col="label", threshold=0.35
    )
    hof_set = {(r.id_a, r.id_b) for r in hof.collect()}
    vec_set = {(r.id_a, r.id_b) for r in vec.collect()}
    assert hof_set == vec_set and len(hof_set) > 0


def test_vectorized_pairs_singleton_and_zero_norm(spark):
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0], label=1),   # singleton bucket
            Row(vec_id=2, embedding=[0.0, 0.0], label=2),   # zero-norm pair
            Row(vec_id=3, embedding=[1.0, 1.0], label=2),
            Row(vec_id=4, embedding=[2.0, 2.0], label=2),   # parallel to 3
        ]
    )
    got = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_neardup_pairs_vectorized(
            df, "vec_id", "embedding", block_col="label", threshold=0.5
        ).collect()
    }
    assert got == {(3, 4)}  # zero-norm row pairs with nothing


# ---------------------------------------------------------------------------
# dynamic partition pruning: runtime pruning of a partitioned fact by a
# filtered dim — the other half of the partition-layout story (static
# pruning is pinned in test_scale_plans / the IVF test above)
# ---------------------------------------------------------------------------


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    from weather_api_automate_etl_spark.operators import marts

    ev = load_table(spark, SF_SMALL, "events").withColumn(
        "extraction_date", F.to_date("ts")
    )
    fact_path = str(tmp_path / "fact")
    dim_path = str(tmp_path / "dim")
    marts.write_mart(ev, fact_path, partition_by="extraction_date")
    # calendar dim: one row per date with a non-key attribute; the query
    # filters on the ATTRIBUTE, so the matching partition set is only
    # known at runtime — the DPP case, not static pruning
    # the dim filter must be a LIKELY-SELECTIVE predicate (equality/IN —
    # PartitionPruning's hasSelectivePredicate) for the optimizer to
    # consider injection; a bare boolean attribute does not qualify
    ev.select("extraction_date").distinct().withColumn(
        "day_kind",
        F.when(
            F.dayofweek("extraction_date").isin(1, 7), F.lit("weekend")
        ).otherwise(F.lit("weekday")),
    ).write.mode("overwrite").parquet(dim_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path)
    n_parts = fact.select("extraction_date").distinct().count()
    assert n_parts > 1
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    joined = fact.join(
        dim.filter(F.col("day_kind") == "weekend"), "extraction_date"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "the partition filter must be injected at runtime (DPP), "
        "not read the whole fact"
    )
    weekend = [
        r[0] for r in dim.filter(F.col("day_kind") == "weekend").collect()
    ]
    expect = fact.filter(F.col("extraction_date").isin(weekend)).count()
    assert 0 < expect < fact.count()
    assert joined.count() == expect


# ---------------------------------------------------------------------------
# compression-ratio quality signal (rows-only query → invariants here)
# ---------------------------------------------------------------------------


def test_compression_ratio_invariants(spark, docs):
    out = textops.compression_ratio(docs).collect()
    assert len(out) == docs.count()
    for r in out:
        assert 0 < r.ratio < 1.2 and r.raw_bytes > 0


def test_compression_ratio_orders_redundancy(spark):
    import random

    rng = random.Random(7)
    rand_text = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
        for _ in range(60)
    )
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam ham " * 240),          # highly repetitive
            Row(doc_id=2, text=rand_text),                   # incompressible
        ]
    )
    got = {r.doc_id: r.ratio for r in textops.compression_ratio(df).collect()}
    assert got[1] < 0.05 < got[2]
    assert got[2] > 0.5


def test_compression_ratio_bucket_is_version_robust(spark, docs):
    """The decile bucket is the version-portable contract (round-5 advice
    item): (a) bucket == floor(ratio*10)/10 exactly; (b) regime anchors —
    repeated text buckets to 0.0, incompressible text to >= 0.5 — hold for
    ANY deflate implementation, not just this zlib build; (c) buckets are
    insensitive to the compression level for the overwhelming share of
    real documents (level 6 vs 9 on the fixture corpus)."""
    import math
    import zlib

    out = textops.compression_ratio(docs).collect()
    for r in out:
        assert r.ratio_bucket == math.floor(r.ratio * 10) / 10
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    same_bucket = 0
    for r in out:
        b = texts[r.doc_id].encode("utf-8")
        lvl9 = math.floor(round(len(zlib.compress(b, 9)) / len(b), 6) * 10) / 10
        same_bucket += lvl9 == r.ratio_bucket
    assert same_bucket / len(out) >= 0.95
    anchors = spark.createDataFrame(
        [Row(doc_id=1, text="spam ham " * 240),
         Row(doc_id=2, text="9f8e7d6c5b4a" * 2)]  # short: header dominates
    )
    got = {r.doc_id: r.ratio_bucket for r in
           textops.compression_ratio(anchors).collect()}
    assert got[1] == 0.0 and got[2] >= 0.5


# ---------------------------------------------------------------------------
# the FULL ANN lifecycle: k-means codebook → assignment → bucketed store
# → partition-pruned probe → recall vs the exact baseline
# ---------------------------------------------------------------------------


def test_ann_end_to_end_kmeans_store_probe(spark, emb, tmp_path):
    cents, n_iter, moved = similarity.kmeans_fit(
        emb, k=8, max_iter=4, tol=0.0
    )
    assigned = similarity.nearest_centroid(emb, cents)
    indexed = emb.select("vec_id", "embedding").join(
        assigned.select("vec_id", "list_id"), "vec_id"
    )
    path = str(tmp_path / "ann")
    similarity.build_ivf_index(indexed, path, "embedding", "list_id")
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    approx = similarity.ivf_topk_from_index(
        spark, path, qvec, list_col="list_id", k=10, nprobe=3
    ).collect()
    exact = similarity.topk_cosine(emb, "embedding", qvec, k=10).collect()
    assert len(approx) == 10
    # the probed scan is a strict subset of the index
    all_files = set(spark.read.parquet(f"{path}/lists").inputFiles())
    probed = similarity.ivf_probe_lists(spark, path, qvec, nprobe=3)
    probed_files = {
        f
        for lst in probed
        for f in spark.read.parquet(f"{path}/lists/list_id={lst}").inputFiles()
    }
    assert probed_files < all_files
    # recall@10 vs exact: nprobe 3 of 8 learned lists must recover most
    # of the true neighborhood (the query vector's own list + neighbors)
    recall = len({r.vec_id for r in approx} & {r.vec_id for r in exact}) / 10
    assert recall >= 0.6, f"recall@10 {recall} too low for nprobe=3/8"


def test_hashing_vectorizer_dimensions_and_mass(spark, docs):
    out = textops.hashing_vectorizer(docs, dim=16).collect()
    assert len(out) == docs.count()
    for r in out:
        assert len(r.tf_vec) == 16
        assert sum(r.tf_vec) == r.n_tokens  # every token lands in a bucket


def test_hashing_vectorizer_deterministic_and_collision_free_case(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="x x y")])
    a = textops.hashing_vectorizer(df, dim=16).head()
    b = textops.hashing_vectorizer(df.repartition(3), dim=16).head()
    assert list(a.tf_vec) == list(b.tf_vec)
    assert sorted(v for v in a.tf_vec if v) in ([1, 2], [3])  # x:2,y:1 (or collide)


def test_vectorized_pairs_duplicate_ids_no_self_pair(spark):
    # two rows with the SAME id (dedup-shaped corpora have these): the
    # gemm path must not emit (5,5); the HOF twin's id_a < id_b filter
    # never does
    df = spark.createDataFrame(
        [
            Row(vec_id=5, embedding=[1.0, 0.0], label=1),
            Row(vec_id=5, embedding=[1.0, 0.0], label=1),
            Row(vec_id=9, embedding=[1.0, 0.1], label=1),
        ]
    )
    got = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_neardup_pairs_vectorized(
            df, "vec_id", "embedding", block_col="label", threshold=0.5
        ).collect()
    }
    assert got == {(5, 9)}


def test_vectorized_pairs_string_ids(spark):
    df = spark.createDataFrame(
        [
            Row(vec_id="a", embedding=[1.0, 0.0], label=1),
            Row(vec_id="b", embedding=[2.0, 0.0], label=1),
        ]
    )
    out = dedup.embedding_neardup_pairs_vectorized(
        df, "vec_id", "embedding", block_col="label", threshold=0.5
    ).collect()
    assert [(r.id_a, r.id_b) for r in out] == [("a", "b")]


def test_compression_ratio_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text=""), Row(doc_id=3, text="hi")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.compression_ratio(df).collect()}
    assert out[1].ratio is None and out[1].raw_bytes == 0
    assert out[2].ratio is None and out[2].raw_bytes == 0
    assert out[3].ratio is not None and out[3].raw_bytes == 2


def test_hashing_vectorizer_empty_doc_zero_vector(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="   "), Row(doc_id=2, text="word")]
    )
    out = {r.doc_id: r for r in textops.hashing_vectorizer(df, dim=8).collect()}
    assert sum(out[1].tf_vec) == 0 and out[1].n_tokens == 0
    assert sum(out[2].tf_vec) == 1 and out[2].n_tokens == 1


def test_holdout_split_rejects_bad_fractions(spark, docs):
    from weather_api_automate_etl_spark.operators import sampling

    with pytest.raises(ValueError, match="invalid split fractions"):
        sampling.holdout_split(docs, "doc_id", train=0.9, val=0.2)


# ---------------------------------------------------------------------------
# two-pass Misra-Gries heavy hitters
# ---------------------------------------------------------------------------


def test_heavy_hitters_exact_vs_bruteforce(spark, docs):
    got = {
        (r.term, r.cnt)
        for r in textops.heavy_hitters(docs, m=50).collect()
    }
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t")
    ).filter(F.col("t") != "")
    n = tok.count()
    exact = {
        (r.t, r.c)
        for r in tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > n / 50)
        .collect()
    }
    assert got == exact and len(exact) > 0


def test_heavy_hitters_skewed_stream_tiny_m(spark):
    # 1 dominant token among 40 distinct noise tokens, m far below the
    # vocabulary: the dominant token must survive the decrements
    rows = [Row(doc_id=i, text="dominant " + f"noise{i % 40}") for i in range(200)]
    df = spark.createDataFrame(rows)
    out = {r.term: (r.cnt, r.n_total) for r in textops.heavy_hitters(df, m=5).collect()}
    assert "dominant" in out
    assert out["dominant"] == (200, 400)
    # every reported term genuinely exceeds N/m — no false positives
    for term, (cnt, n_total) in out.items():
        assert cnt > n_total / 5


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------


def test_pmi_pairs_matches_python_model(spark):
    import math
    from collections import Counter

    texts = [
        "new york is a big city",
        "new york has a big port",
        "a city has a port",
        "new york new york",
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        (r.a, r.b): (r.c_ab, r.pmi)
        for r in textops.pmi_pairs(df, window=2, min_count=2).collect()
    }
    co, left, right = Counter(), Counter(), Counter()
    for t in texts:
        ts = t.split()
        for i, a in enumerate(ts):
            for b in ts[i + 1 : i + 3]:
                co[(a, b)] += 1
                left[a] += 1
                right[b] += 1
    n = sum(co.values())
    expect = {
        p: (c, math.log(n * c / (left[p[0]] * right[p[1]])))
        for p, c in co.items()
        if c >= 2
    }
    # counts exact; pmi compared to 1e-6 (Python round() is banker's,
    # Spark round is HALF_UP — don't couple the test to tie behavior)
    assert set(got) == set(expect)
    for p in expect:
        assert got[p][0] == expect[p][0]
        assert abs(got[p][1] - expect[p][1]) <= 1e-6
    assert ("new", "york") in got  # the collocation scores positive PMI
    assert got[("new", "york")][1] > 0


def test_pq_encode_codes_shape_and_range(spark, emb):
    cbs = emb_ops.pq_sampled_codebooks(emb, "vec_id", "embedding", 4, 8)
    assert len(cbs) == 4 and len(cbs[0]) == 8 and len(cbs[0][0]) == 16
    codes = emb_ops.pq_encode(emb, "vec_id", "embedding", cbs).collect()
    assert all(len(r.pq_codes) == 4 for r in codes)
    assert all(1 <= c <= 8 for r in codes for c in r.pq_codes)
    # codebook rows encode with a zero-distance first subspace match:
    # row j's subvector IS centroid j, so its code must be j itself
    by_id = {r.vec_id: r.pq_codes for r in codes}
    ids = sorted(by_id)[:8]
    for j, vid in enumerate(ids, start=1):
        assert by_id[vid] == [j, j, j, j]


def test_pq_adc_ranks_query_row_first(spark, emb):
    cbs = emb_ops.pq_sampled_codebooks(emb, "vec_id", "embedding", 4, 8)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    codes = emb_ops.pq_encode(emb, "vec_id", "embedding", cbs)
    top = emb_ops.pq_adc_topk(codes, "vec_id", qvec, cbs, 10).collect()
    assert len(top) == 10
    assert [r.adc_dist for r in top] == sorted(r.adc_dist for r in top)
    # vec 0 is the query itself; under ADC it scores the distance between
    # q and its own reconstruction — the minimum is its centroid cell, so
    # it must appear in the top-k
    assert 0 in {r.vec_id for r in top}


def test_pq_contracts(spark, emb):
    with pytest.raises(ValueError, match="not divisible"):
        emb_ops.pq_sampled_codebooks(emb, "vec_id", "embedding", 7, 8)
    with pytest.raises(ValueError, match="at least"):
        emb_ops.pq_sampled_codebooks(
            emb.limit(3), "vec_id", "embedding", 4, 8
        )
