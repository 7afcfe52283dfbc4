"""Hand-case invariants for the round-5 second-wave operators: triangle
counting, materialized sequence packing, EWMA folding, IQR fences, and the
moment-sum regression formulas."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F


@pytest.mark.slow
def test_triangle_counts_hand_case(spark):
    # K4 on {1,2,3,4} (4 triangles, 3 per node) + pendant edge 4-5 (in no
    # triangle) + isolated pair 6-7
    from weather_api_automate_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (6, 7)],
        "id_a long, id_b long",
    )
    got = {
        x.doc_id: x.n_triangles
        for x in graph.triangle_counts(edges).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_skewed_hub(spark):
    # hub 0 connected to 1..10, plus one edge (1,2): exactly one triangle.
    # Degree orientation must not blow up or double-count around the hub.
    from weather_api_automate_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 11)] + [(1, 2)], "id_a long, id_b long"
    )
    got = {
        x.doc_id: x.n_triangles
        for x in graph.triangle_counts(edges).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1}


def test_pack_sequences_covers_all_tokens_in_order(spark):
    # 3 docs in one stratum, 7 tokens total, ctx=4 → seqs of 4 and 3 tokens;
    # doc boundaries straddle: doc B starts at gpos 2 inside seq 0
    from weather_api_automate_etl_spark.operators import corpus

    docs = spark.createDataFrame(
        [
            (1, "s", "a b"),
            (2, "s", "c d e"),
            (3, "s", "f g"),
        ],
        "doc_id long, source string, text string",
    )
    out = corpus.pack_sequences(docs, ctx_len=4, vocab_size=97).orderBy(
        "seq_id"
    )
    rows = out.collect()
    assert [r.seq_id for r in rows] == [0, 1]
    assert [r.n_tokens for r in rows] == [4, 3]
    assert [r.n_docs for r in rows] == [2, 2]
    # ids are the md5-hash buckets of tokens in corpus order a..g
    ids = (
        spark.createDataFrame(
            [(t,) for t in ["a", "b", "c", "d", "e", "f", "g"]], "tok string"
        )
        .select(
            (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % 97)
            .cast("int")
            .alias("tid")
        )
        .collect()
    )
    want = [r.tid for r in ids]
    got = rows[0].input_ids + rows[1].input_ids
    assert got == want


def test_pack_sequences_empty_and_whitespace_docs(spark):
    # whitespace-only docs contribute zero tokens and shift nothing
    from weather_api_automate_etl_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "s", "   "), (2, "s", "x y z"), (3, "s", "")],
        "doc_id long, source string, text string",
    )
    rows = corpus.pack_sequences(docs, ctx_len=8, vocab_size=13).collect()
    assert len(rows) == 1
    assert rows[0].n_tokens == 3
    assert rows[0].n_docs == 1


def test_ewma_fold_matches_direct_formula(spark, monkeypatch):
    from weather_api_automate_etl_spark import queries_timeseries as qa

    # single user, values 1..5: trailing-8 frame covers the whole prefix
    rows = [(i, 1, float(i), f"2024-01-01 00:00:0{i}") for i in range(1, 6)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, value double, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    monkeypatch.setattr(
        "weather_api_automate_etl_spark.queries_timeseries.t",
        lambda s, d, n: df,
    )
    got = {
        r.event_id: r.ewma for r in qa.q_ewma(spark, "unused").collect()
    }
    a = 0.3
    for t_i in range(1, 6):
        num = sum((1 - a) ** (t_i - j) * j for j in range(1, t_i + 1))
        den = sum((1 - a) ** (t_i - j) for j in range(1, t_i + 1))
        assert math.isclose(got[t_i], round(num / den, 6), abs_tol=1e-6)
    # smoothing pulls toward history: ewma < raw value on a rising series
    assert got[5] < 5.0


def test_linreg_exact_line_and_constant_group(spark, monkeypatch):
    from weather_api_automate_etl_spark import queries_agg as qa

    # group A: exact line y = 3x + 2 → slope 3, intercept 2, r2 = 1
    # group B: constant x → degenerate variance, slope NULL (var_x = 0)
    rows = [("A", float(x), 3.0 * x + 2.0) for x in range(1, 8)] + [
        ("B", 5.0, float(y)) for y in range(1, 4)
    ]
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    )
    monkeypatch.setattr(
        "weather_api_automate_etl_spark.queries_agg.t",
        lambda s, d, n: df,
    )
    got = {r.l_returnflag: r for r in qa.q_linreg_by_group(spark, "x").collect()}
    assert got["A"].slope == 3.0
    assert got["A"].intercept == 2.0
    assert got["A"].r2 == 1.0
    assert got["A"].corr_xy == 1.0
    assert got["B"].slope is None


def test_anomaly_iqr_flags_only_fence_breakers(spark, monkeypatch):
    from weather_api_automate_etl_spark import queries_agg as qa

    # 1..11 plus one far outlier 100: Q1=3.75, Q3=9.25, IQR=5.5 → hi=17.5
    rows = [(i, "e", float(i)) for i in range(1, 12)] + [(99, "e", 100.0)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    monkeypatch.setattr(
        "weather_api_automate_etl_spark.queries_agg.t",
        lambda s, d, n: df,
    )
    got = {r.event_id: r for r in qa.q_anomaly_iqr(spark, "x").collect()}
    assert got[99].is_outlier
    assert not any(got[i].is_outlier for i in range(1, 12))
    # fences derive from quartiles of the full column (outlier included)
    assert got[1].lo == got[99].lo and got[1].hi == got[99].hi


def test_k_core_peels_chains_keeps_cliques(spark):
    """Triangle {1,2,3} with a pendant path 3-4-5: the 2-core must keep
    exactly the triangle (each vertex at core-degree 2). Node 5 peels in
    round 1, node 4 only becomes a violator AFTER 5 is gone — a genuine
    multi-round fixpoint, not a single filter."""
    from weather_api_automate_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.core_degree for r in graph.k_core(edges, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # k=3: the triangle itself dissolves (no vertex has 3 in-core neighbors)
    assert graph.k_core(edges, k=3).count() == 0


def test_k_core_empty_graph(spark):
    from weather_api_automate_etl_spark.operators import graph

    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert graph.k_core(edges, k=2).count() == 0


@pytest.mark.slow
def test_k_core_long_chain_converges(spark):
    """Round-6 advice regression: a 120-node path is the adversarial shape
    for synchronous peeling (only the two endpoints strip per round, so
    the fixpoint needs ~n/2 rounds — the old fixed max_rounds=50 raised a
    spurious RuntimeError). The data-derived budget must let it reach the
    legitimately empty 2-core; an explicit stricter budget still raises."""
    import pytest

    from weather_api_automate_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    assert graph.k_core(edges, k=2).count() == 0
    with pytest.raises(RuntimeError, match="fixpoint"):
        graph.k_core(edges, k=2, max_rounds=5)


@pytest.mark.slow
def test_round10_graph_embeddings_review_fixes(spark):
    """Regression pins for the round-10 graph/embeddings review findings."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from weather_api_automate_etl_spark.operators import embeddings, graph

    # (1) sssp rejects fractional weights instead of truncating per hop
    e = spark.createDataFrame(
        [(1, 2, 0.5), (2, 3, 0.5)], "src long, dst long, w double"
    )
    s = spark.createDataFrame([(1,)], "node long")
    with _pytest.raises(ValueError, match="fractional"):
        graph.sssp_bounded(e, s, src="src", dst="dst", weight="w",
                           node_id="node", rounds=2)

    # (2) self-loops don't inflate common-neighbor degrees
    e2 = spark.createDataFrame(
        [(10, 10), (10, 1), (10, 2)], "id_a long, id_b long"
    )
    got = graph.common_neighbor_scores(
        e2, src="id_a", dst="id_b", min_common=1
    ).collect()
    assert len(got) == 1
    r = got[0]
    # pair (1,2) via x=10: deg(10)=2 (self-loop excluded), deg(1)=deg(2)=1
    # jaccard = 1 / (1 + 1 + ... union) — the key pin: adamic_adar uses
    # ln(deg=2), not ln(3)
    import math

    assert r.adamic_adar == round(1.0 / math.log(2.0), 6)

    # (3) constant corpus: pca power raises instead of silent NaN
    const = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [1.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="constant"):
        embeddings.pca_power_project(const, "embedding", rounds=3)
    # (4) pca_power_project honors a custom id column
    renamed = const.withColumnRenamed("vec_id", "doc_id").union(
        spark.createDataFrame(
            [(4, [2.0, -1.0])], "doc_id long, embedding array<double>"
        )
    )
    out = embeddings.pca_power_project(
        renamed, "embedding", rounds=3, id_col="doc_id"
    )
    assert out.columns == ["doc_id", "pc1"]

    # (5) pq query-dim validation
    cbs = embeddings.pq_sampled_codebooks(
        spark.createDataFrame(
            [(i, [float(i), float(-i), 1.0, 0.0]) for i in range(8)],
            "vec_id long, embedding array<double>",
        ),
        "vec_id", "embedding", m_sub=2, k=2,
    )
    with _pytest.raises(ValueError, match="query dim"):
        embeddings.pq_adc_expr([1.0, 2.0], cbs)

    # (6) non-numeric ALS item ids rejected loudly
    ratings = spark.createDataFrame(
        [(1, "A", 3.0)], "u long, i string, r double"
    )
    with _pytest.raises(ValueError, match="non-numeric"):
        embeddings.als_factorize_k2(ratings, "u", "i", "r")


def test_pq_sql_text_builders_match_column_composition(spark):
    """Round-12 optimization pin: pq_encode / pq_adc_expr render their
    expression trees as SQL text (one parse) instead of per-node py4j
    Column composition (~2.3 s of driver time per call on the 4x8
    codebook). The rendered tree must be SEMANTICALLY IDENTICAL to the
    old composition — replicated here as the reference — on awkward
    doubles (negative, tiny-exponent, half-boundary)."""
    from weather_api_automate_etl_spark.operators import embeddings

    cbs = [
        [[0.1, -3.25], [1e-07, 2.0], [-0.5, 0.30000000000000004]],
        [[7.25, -1e-12], [0.0, 4.5], [2.5, 2.5]],
    ]
    qvec = [0.1, 2.0, -1.5, 2.5]
    df = spark.createDataFrame(
        [(1, [0.1, -3.25, 7.25, -1e-12]),
         (2, [1e-07, 2.0, 0.0, 4.5]),
         (3, [-0.5, 0.3, 2.5, 2.5]),
         (4, [0.05, -1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )

    def sq(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x,
        )

    # reference: the pre-round-12 Column-composed encode
    sub, scale = 2, float(10 ** 9)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    ref_codes = []
    for m in range(2):
        s = F.slice(e, m * sub + 1, sub)
        cand = [
            F.floor(sq(s, F.array(*[F.lit(float(x)) for x in c]))
                    * F.lit(scale) + F.lit(0.5)).cast("long")
            for c in cbs[m]
        ]
        dists = F.array(*cand)
        ref_codes.append(F.array_position(dists, F.array_min(dists)).cast("int"))
    ref = df.select("vec_id", F.array(*ref_codes).alias("pq_codes"))
    got = embeddings.pq_encode(df, "vec_id", "embedding", cbs, clamp_digits=9)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    # reference: the pre-round-12 Column-composed ADC distance
    adc_ref = F.lit(0.0)
    for m in range(2):
        q_m = F.array(*[F.lit(float(x)) for x in qvec[m * sub:(m + 1) * sub]])
        table_m = F.array(
            *[sq(q_m, F.array(*[F.lit(float(x)) for x in c])) for c in cbs[m]]
        )
        adc_ref = adc_ref + F.element_at(table_m, F.element_at("pq_codes", m + 1))
    adc_ref = F.floor(adc_ref * F.lit(scale) + F.lit(0.5)).cast("long") / F.lit(scale)
    ref_d = ref.select("vec_id", adc_ref.alias("adc_dist"))
    got_d = got.select(
        "vec_id",
        embeddings.pq_adc_expr(qvec, cbs, clamp_digits=9).alias("adc_dist"),
    )
    assert sorted(map(tuple, got_d.collect())) == sorted(map(tuple, ref_d.collect()))
