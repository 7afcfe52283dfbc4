"""Embedding-column transforms for training-data pipelines: int8
quantization (storage/ANN compression) and per-dimension standardization
(feature normalization before clustering / linear probes).

Scale notes:
- ``quantize_int8`` is a pure projection (higher-order array functions,
  JVM-side, codegen'd) — zero shuffle, scan-speed at any corpus size.
- ``standardize_dims`` needs per-dimension corpus statistics: one
  posexplode → groupBy(pos) aggregation (dim × N rows in, dim rows out,
  map-side partial aggregation does the heavy lifting) and a broadcast
  join of the dim-row stats table back onto the vectors. No row×row
  shuffle anywhere.

Engine parity: the quantize step uses ``floor(x/scale + 0.5)`` (round half
toward +inf) instead of ``round()`` so Spark and the DuckDB oracle agree
bit-for-bit on .5 boundaries; per-vector folds run in double in array
order on both engines. Per-dimension AVG/VAR are aggregation-order
sensitive in the last ulp, so standardized outputs are compared rounded
(same convention as the IVF centroid probe, queries_similarity.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from weather_api_automate_etl_spark.functions.vectors import (
    sql_dlit,
    sql_ident,
    sql_vec_lit,
)


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = absmax/127,
    qᵢ = clamp(floor(vᵢ/scale + 0.5), -127, 127).

    Returns ``id_col, scale, q`` (array<int>) plus the reconstruction MSE —
    the quality signal a pipeline monitors before switching ANN search to
    the quantized representation. Zero vectors get scale 0 and an all-zero
    code (guarded division)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    absmax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = absmax / F.lit(127.0)
    q = F.when(scale > 0, F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.floor(x / scale + 0.5))
        ).cast("int"),
    )).otherwise(F.transform(v, lambda x: F.lit(0)))
    recon_sq = F.zip_with(
        v, q, lambda x, c: (x - c.cast("double") * scale) * (x - c.cast("double") * scale)
    )
    # greatest(size, 1) guards the empty-vector row: [] quantizes to
    # scale 0 / code [] / mse 0.0, never a 0/0 NULL
    mse = F.aggregate(recon_sq, F.lit(0.0), lambda acc, x: acc + x) / F.greatest(
        F.size(F.col(vec_col)), F.lit(1)
    )
    return df.select(
        id_col,
        scale.alias("scale"),
        q.alias("q"),
        mse.alias("mse"),
    )


def dim_stats(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension corpus mean / population stddev: posexplode →
    groupBy(pos). dim × N rows collapse to dim rows; partial aggregation
    keeps the shuffle tiny."""
    exploded = df.select(
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "pos", "val"
        )
    )
    return exploded.groupBy("pos").agg(
        F.avg("val").alias("mu"),
        F.stddev_pop("val").alias("sigma"),
    )


def standardize_dims(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-dimension z-score ((vᵢ − μᵢ)/σᵢ) over the whole corpus —
    feature standardization before k-means / linear probing.

    The dim-row stats table broadcasts back onto the exploded vectors;
    reassembly is a per-row groupBy on ``id_col`` (one shuffle keyed by the
    id — at scale this is the same key the table is already laid out on).
    Zero-variance dimensions standardize to 0.0 (guarded division).
    NOTE: rows with NULL or empty vectors emit no exploded rows and are
    ABSENT from the output (unlike quantize_int8, which preserves them);
    left-join back on the id for a full census.
    """
    stats = dim_stats(df, vec_col)
    exploded = df.select(
        F.col(id_col),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "pos", "val"
        ),
    )
    z = exploded.join(F.broadcast(stats), "pos").select(
        id_col,
        "pos",
        F.when(F.col("sigma") > 0, (F.col("val") - F.col("mu")) / F.col("sigma"))
        .otherwise(F.lit(0.0))
        .alias("z"),
    )
    return (
        z.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "z"))),
                lambda s: s["z"],
            ).alias("z_vec")
        )
    )


def _vector_dim(df: DataFrame, vec_col: str) -> int:
    """Vector width from one row (a 1-row probe, the IVF-probe-list
    discipline — index arithmetic below needs the dim at plan time)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer vector dim from column {vec_col!r}")
    return int(row["d"])


def _merged_gram(df: DataFrame, vec_col: str, d: int) -> DataFrame:
    """The shared distributed pass behind covariance/PCA: each partition
    reduces to ONE augmented Gram matrix ``[x,1]ᵀ[x,1]`` (a (d+1)² double
    array holding Σxxᵀ, Σx and n in one accumulator) via an Arrow-batched
    NumPy gemm; partials merge by elementwise sum (a
    (d+1)²·n_partitions-row aggregate, metadata-scale). ONE corpus scan;
    nothing row-scale ever shuffles. Returns the merged ``(idx, g)``
    frame with ``idx = i·(d+1) + j``."""
    w = d + 1

    def gram_partial(batches):
        import numpy as np
        import pandas as pd

        acc = np.zeros((w, w), dtype="float64")
        for pdf in batches:
            if not len(pdf):
                continue
            # validate per-vector BEFORE np.stack so ragged/null batches
            # raise the documented contract error, not numpy's
            # shape-mismatch or len(None) (batch-layout-dependent)
            if any(v is None for v in pdf[vec_col]):
                raise ValueError("null embedding vector in input")
            bad = {len(v) for v in pdf[vec_col]} - {d}
            if bad:
                raise ValueError(
                    f"ragged vectors: expected dim {d}, got {sorted(bad)[0]}"
                )
            x = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            aug = np.hstack([x, np.ones((x.shape[0], 1))])
            acc += aug.T @ aug
        yield pd.DataFrame({"g": [acc.ravel().tolist()]})

    return (
        df.select(vec_col)
        .mapInPandas(gram_partial, "g array<double>")
        .select(F.posexplode("g").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("g"))
    )


def covariance_matrix(df: DataFrame, vec_col: str, dim: int | None = None) -> DataFrame:
    """Sample covariance matrix of an embedding column as the upper
    triangle ``(i, j, cov)`` with ``i <= j`` — the input to PCA/whitening
    and the correlation screen feature pipelines run before training.

    Shape at 100 TB — the mergeable-moments pattern at its purest (see
    ``_merged_gram``): the covariance derives from the merged sums
    alone; the final arithmetic runs over metadata-scale frames.
    """
    d = dim or _vector_dim(df, vec_col)
    w = d + 1
    merged = _merged_gram(df, vec_col, d)
    # split the merged frame into moments: n (corner), sums (last column),
    # and raw second moments — all metadata-scale ((d+1)² rows total)
    n_row = merged.filter(F.col("idx") == d * w + d).select(
        F.col("g").alias("n")
    )
    sums = merged.filter(
        (F.col("idx") % w == d) & (F.col("idx") < d * w)
    ).select((F.col("idx") / w).cast("int").alias("i"), F.col("g").alias("s"))
    second = merged.filter(
        (F.col("idx") % w != d) & (F.col("idx") < d * w)
    ).select(
        (F.col("idx") / w).cast("int").alias("i"),
        (F.col("idx") % w).cast("int").alias("j"),
        F.col("g").alias("gij"),
    )
    return (
        second.filter(F.col("i") <= F.col("j"))
        .join(F.broadcast(sums.withColumnRenamed("i", "i_").withColumnRenamed("s", "si")),
              F.col("i") == F.col("i_"))
        .join(F.broadcast(sums.withColumnRenamed("i", "j_").withColumnRenamed("s", "sj")),
              F.col("j") == F.col("j_"))
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            # + 0.0 after the round: IEEE −0.0 + 0.0 = +0.0, so a
            # near-zero covariance that rounds to negative zero can't
            # hash-differ from the oracle's positive zero
            (
                F.round(
                    (F.col("gij") - F.col("si") * F.col("sj") / F.col("n"))
                    / F.when(F.col("n") > 1, F.col("n") - 1).otherwise(
                        # pca_fit raises for the same n<2 input; the
                        # distributed twin must not silently NULL d²/2
                        # covariances instead (round-10 review)
                        F.raise_error(
                            F.lit(
                                "covariance_matrix needs at least 2 vectors"
                            )
                        ).cast("double")
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def pca_fit(
    df: DataFrame, vec_col: str, k: int = 8, dim: int | None = None
):
    """Top-``k`` principal components of an embedding column.

    Returns ``(mean, components, explained_var)`` as NumPy arrays:
    ``components`` is (k, d) with rows sorted by eigenvalue descending and
    sign-fixed so each row's largest-|entry| is positive (the deterministic
    convention — eigenvectors are otherwise sign-ambiguous across LAPACK
    builds).

    The distributed work is ONE ``_merged_gram`` corpus scan — the
    augmented Gram already holds Σx (last column) and n (corner), so the
    mean vector costs nothing extra (the round-5 review finding: the
    previous version re-scanned the corpus for μ). Covariance and mean
    both derive driver-side from the collected (d+1)² sums; the
    eigendecomposition runs on the driver over the d×d matrix — d is
    feature-width (64…4096), never corpus-scale, the same
    metadata-at-the-driver boundary as the IVF probe list.
    """
    import numpy as np

    d = dim or _vector_dim(df, vec_col)
    if not 1 <= k <= d:
        raise ValueError(f"invalid k={k} for dim {d}")
    w = d + 1
    g = np.zeros((w, w))
    for r in _merged_gram(df, vec_col, d).collect():
        g[r["idx"] // w, r["idx"] % w] = r["g"]
    n = g[d, d]
    if n < 2:
        raise ValueError(
            "pca_fit needs at least 2 vectors (covariance undefined)"
        )
    sums = g[:d, d]
    mu = sums / n
    # sample covariance from the merged moments, rounded to 6dp exactly
    # like covariance_matrix's distributed twin (same eigh input either way)
    cov = np.round((g[:d, :d] - np.outer(sums, sums) / n) / (n - 1), 6)
    cov = (cov + cov.T) / 2  # symmetrize the rounded matrix
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()  # (k, d)
    for row in comps:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1.0
    return mu, comps, vals[order]


def pca_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components:
    ``proj[c] = (x − μ)·comp_c``. Returns ``(id_col, proj array<double>)``.

    The (k, d) component matrix and mean come from ``pca_fit`` and are
    inlined as literal arrays (k·d doubles — metadata, the broadcast-
    centroid discipline of similarity.nearest_centroid); the projection
    itself is a pure zip_with fold per row — map-only, scan-speed, no
    Python in the projection path.
    """
    mu, comps, _ = pca_fit(df, vec_col, k=k, dim=dim)
    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    centered = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        mu_lit,
        lambda x, m: x - m,
    )
    projs = [
        F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(c)) for c in comp]),
                lambda x, c: x * c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for comp in comps
    ]
    return df.select(F.col(id_col), F.array(*projs).alias("proj"))


def pca_power_project(
    df: DataFrame,
    vec_col: str,
    rounds: int = 40,
    dim: int | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Projection onto the TOP principal axis via fixed-round power
    iteration — the hash-oracle-able member of the PCA family (pca_fit's
    full eigh is not SQL-expressible; a fixed number of v ← Cv/‖Cv‖
    steps is, as a recursive CTE, the q_pagerank_converged discipline).

    Determinism without convergence assumptions: BOTH engines run exactly
    ``rounds`` identical steps from the same start (1/√d ones vector) over
    the same round-6-clamped covariance (covariance_matrix's exact twin),
    so the axes agree to summation-order ulps regardless of the spectral
    gap; the axis is clamped to 6 digits before projecting, making the
    map-only projection bit-stable. Scale shape: ONE _merged_gram corpus
    scan; the iteration runs driver-side on the d×d matrix (metadata
    scale, the pca_fit boundary); the projection is a broadcast-literal
    dot product — no second scan, no shuffle."""
    import numpy as np

    d = dim or _vector_dim(df, vec_col)
    w = d + 1
    g = np.zeros((w, w))
    for r in _merged_gram(df, vec_col, d).collect():
        g[r["idx"] // w, r["idx"] % w] = r["g"]
    n = g[d, d]
    if n < 2:
        raise ValueError("pca_power_project needs at least 2 vectors")
    sums = g[:d, d]
    mu = np.round(sums / n, 6)
    cov = np.round((g[:d, :d] - np.outer(sums, sums) / n) / (n - 1), 6)
    cov = np.triu(cov) + np.triu(cov, 1).T  # mirror the rounded upper triangle
    v = np.ones(d) / np.sqrt(float(d))
    for _ in range(rounds):
        v = cov @ v
        nrm = float(v @ v)
        if nrm == 0.0:
            # constant corpus: cov rounds to exactly 0 and 0/0 would
            # silently NaN every projection (round-10 review)
            raise ValueError(
                "pca_power_project: covariance is zero (constant "
                "vectors) — no principal axis exists"
            )
        v = v / np.sqrt(nrm)
    v = np.round(v, 6)
    offset = float(mu @ v)
    from weather_api_automate_etl_spark.functions.vectors import dot_product

    axis = F.array(*[F.lit(float(c)) for c in v])
    return df.select(
        id_col,
        (
            F.round(dot_product(F.col(vec_col), axis) - F.lit(offset), 6)
            + F.lit(0.0)
        ).alias("pc1"),
    )


def pca_power_project_k(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    rounds: int = 100,
    dim: int | None = None,
) -> DataFrame:
    """Projection onto the top-``k`` principal axes via fixed-round power
    iteration with Hotelling deflation — the multi-component member of the
    hash-oracle-able PCA family (``pca_power_project`` is the k=1 case;
    ``pca_fit``'s full eigh stays the non-oracle-able reference path,
    invariant-pinned in tests).

    Component ``c`` runs exactly ``rounds`` v ← Cv/‖Cv‖ steps from the
    same 1/√d ones start over the CURRENT matrix, clamps the axis to 6
    digits, then deflates C ← round(C − λ v̂v̂ᵀ, 6) with the Rayleigh
    quotient λ = round(v̂ᵀCv̂, 4). Every cross-engine interface is
    round-clamped: the covariance (6dp, covariance_matrix's twin), each
    axis (6dp), λ (4dp — the reduction over d² terms gets ~12 orders of
    magnitude of margin against summation-order ulps), and each deflated
    matrix entry (6dp, computed as the single multiply-subtract
    ``cov − (λ·vᵢ)·vⱼ`` in BOTH engines so association order matches the
    SQL left-fold). Deflation precision does not need to be exact for
    agreement — both engines only need the SAME matrix, and a λ within
    5e-5 of the true eigenvalue leaves the next component's spectral gap
    intact.

    Scale shape: ONE ``_merged_gram`` corpus scan (the same Arrow gemm
    partials as covariance_matrix); the k·rounds iteration runs
    driver-side on the d×d matrix (feature-width metadata, the pca_fit
    boundary); the projection is a single map-only pass with the k·d
    clamped axes inlined as broadcast literals — no second scan, no
    shuffle, no Python in the projection path."""
    import numpy as np

    d = dim or _vector_dim(df, vec_col)
    if not 1 <= k <= d:
        raise ValueError(f"invalid k={k} for dim {d}")
    w = d + 1
    g = np.zeros((w, w))
    for r in _merged_gram(df, vec_col, d).collect():
        g[r["idx"] // w, r["idx"] % w] = r["g"]
    n = g[d, d]
    if n < 2:
        raise ValueError("pca_power_project_k needs at least 2 vectors")
    sums = g[:d, d]
    mu = np.round(sums / n, 6)
    cov = np.round((g[:d, :d] - np.outer(sums, sums) / n) / (n - 1), 6)
    cov = np.triu(cov) + np.triu(cov, 1).T  # mirror the rounded upper triangle
    axes: list[np.ndarray] = []
    for _ in range(k):
        v = np.ones(d) / np.sqrt(float(d))
        for _ in range(rounds):
            v = cov @ v
            v = v / np.sqrt(float(v @ v))
        v = np.round(v, 6)
        axes.append(v)
        lam = round(float(v @ cov @ v), 4)
        # entrywise (λ·vᵢ)·vⱼ, matching the oracle's left-assoc product
        cov = np.round(cov - (lam * v)[:, None] * v[None, :], 6)
    from weather_api_automate_etl_spark.functions.vectors import dot_product

    cols = [F.col(id_col)]
    for c, v in enumerate(axes, start=1):
        offset = float(mu @ v)
        axis = F.array(*[F.lit(float(x)) for x in v])
        cols.append(
            (
                F.round(dot_product(F.col(vec_col), axis) - F.lit(offset), 6)
                + F.lit(0.0)
            ).alias(f"pc{c}")
        )
    return df.select(*cols)


# ---------------------------------------------------------------------------
# product quantization (PQ): compressed codes + asymmetric-distance scan
# ---------------------------------------------------------------------------


def pq_sampled_codebooks(
    df: DataFrame, id_col: str, vec_col: str, m_sub: int, k: int
) -> list[list[list[float]]]:
    """Deterministic sampled PQ codebooks: for each of ``m_sub``
    subspaces, the centroids are the corresponding subvectors of the
    ``k`` rows with the smallest ids — the random-sampling codebook
    initialization of PQ (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011), made order-deterministic so
    both engines derive the identical codebook from the data alone. The
    production path swaps this for per-subspace ``kmeans_fit``
    (operators/similarity.py) — encode/scan below are codebook-agnostic.

    Returns ``[m][j] -> centroid subvector`` (driver-side: m_sub·k·(d/m)
    floats — filter metadata, same class as a broadcast dim)."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need at least {k} vectors, have {len(rows)}")
    d = len(rows[0][vec_col])
    if d % m_sub:
        raise ValueError(f"dim {d} not divisible by m_sub={m_sub}")
    sub = d // m_sub
    return [
        [[float(x) for x in r[vec_col][m * sub : (m + 1) * sub]] for r in rows]
        for m in range(m_sub)
    ]


def _sq_dist(a: F.Column, b: F.Column) -> F.Column:
    """Sequential left-to-right sum of squared differences — the one
    float-addition order both engines share (DuckDB list_sum over
    list_transform), so distances are bit-identical cross-engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# --- SQL-text expression builders -----------------------------------------
# The PQ encode/ADC expressions are wide literal trees (k candidates x
# m_sub subspaces x sub-dim folds). Composing them Column-by-Column costs
# one py4j round trip per node — measured 2.3 s of pure driver-side
# construction PER CALL on the 4x8 codebook (guide §7.3: plan
# construction is driver work). Rendering the SAME tree as one SQL string
# and parsing it in a single F.expr call produces an equivalent analyzed
# plan for ~30 ms. The builders below mirror _sq_dist/pq_encode/
# pq_adc_expr node for node; tests pin RESULT equality against the old
# Column composition on awkward doubles (analyzed-plan strings differ
# in lambda-variable/expr-id naming, so byte equality is not the pin).
# Identifiers and literals render through functions/vectors.py (sql_ident,
# sql_dlit, sql_vec_lit), the one owner of SQL-text rendering.


def _sq_dist_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    clamp_digits: int | None = None,
) -> DataFrame:
    """Encode every vector into ``m_sub`` small integer codes — the PQ
    compression step: at d=64 float32 a vector is 256 bytes, its codes
    are m_sub bytes (16-64x), which is what lets a 100 TB corpus keep
    its ENTIRE ANN index scannable. Entirely whole-stage-codegen
    expression arithmetic: per subspace, squared distance to each
    codebook centroid (literal arrays) and first-index argmin
    (array_position of array_min — deterministic tie-break on the
    lowest code). No shuffle, no Python; the codes column is
    ``array<int>`` with 1-based codes (element_at-friendly).

    ``clamp_digits`` rounds each candidate distance to
    floor(d·10^digits + 0.5) — an INTEGER — before the argmin, so the
    comparison carries no floating-point ulp sensitivity at all: the
    oracle-parity clamp discipline (same trick as kmeans_fit)."""
    m_sub = len(codebooks)
    sub = len(codebooks[0][0])
    # one SQL string instead of per-node py4j Column composition — same
    # expression tree, ~100x cheaper to build (see the SQL-text block above)
    e = f"transform({sql_ident(vec_col)}, x -> CAST(x AS DOUBLE))"
    code_cols = []
    for m in range(m_sub):
        s = f"slice({e}, {m * sub + 1}, {sub})"
        cand = [_sq_dist_sql(s, sql_vec_lit(c)) for c in codebooks[m]]
        if clamp_digits is not None:
            scale = float(10 ** clamp_digits)
            cand = [
                f"CAST(floor({d} * {sql_dlit(scale)} + 0.5D) AS BIGINT)"
                for d in cand
            ]
        dists = "array(" + ", ".join(cand) + ")"
        code_cols.append(
            f"CAST(array_position({dists}, array_min({dists})) AS INT)"
        )
    codes = "array(" + ", ".join(code_cols) + ")"
    return df.select(
        F.col(id_col), F.expr(codes).alias("pq_codes")
    )


def pq_adc_topk(
    codes_df: DataFrame,
    id_col: str,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k_top: int,
    clamp_digits: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    exact, each row's distance is the sum over subspaces of the
    PRECOMPUTED distance from the query subvector to the row's chosen
    centroid — a literal-table lookup per subspace (element_at on an
    m_sub x k literal grid) inside codegen, scanning m_sub bytes per row
    instead of the vector. The scan is map-only; the global top-k is a
    TakeOrdered — no shuffle. Ties break on the id for a deterministic
    result set."""
    adc = pq_adc_expr(query_vec, codebooks, clamp_digits=clamp_digits)
    out = codes_df.select(F.col(id_col), adc.alias("adc_dist"))
    return out.orderBy("adc_dist", id_col).limit(k_top)


def pq_adc_expr(
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    clamp_digits: int | None = None,
    codes_col: str = "pq_codes",
) -> F.Column:
    """The ADC distance as a reusable Column over a ``codes_col``
    (array<int>, 1-based): sum over subspaces of the precomputed
    query-subvector→centroid distance, a literal-table ``element_at``
    per subspace inside codegen. Factored out of ``pq_adc_topk`` so
    residual-quantization callers (IVFADC — the query vector differs PER
    COARSE CELL) can branch between per-cell tables with ``F.when``."""
    if len(query_vec) != len(codebooks) * len(codebooks[0][0]):
        raise ValueError(
            f"query dim {len(query_vec)} != codebook grid "
            f"{len(codebooks)} x {len(codebooks[0][0])} — a short query "
            "would NULL every distance and return arbitrary top-k"
        )
    m_sub = len(codebooks)
    sub = len(codebooks[0][0])
    # SQL-text construction (see the SQL-text block): same tree as the old
    # Column composition, one parse instead of ~m_sub·k·sub py4j calls
    adc = "0.0D"
    for m in range(m_sub):
        q_m = sql_vec_lit(query_vec[m * sub : (m + 1) * sub])
        # distance table row for subspace m, constant-folded JVM-side
        table_m = (
            "array("
            + ", ".join(_sq_dist_sql(q_m, sql_vec_lit(c)) for c in codebooks[m])
            + ")"
        )
        adc = (
            f"({adc} + element_at({table_m}, "
            f"element_at({sql_ident(codes_col)}, {m + 1})))"
        )
    if clamp_digits is not None:
        # integer nanos: the ranking key carries no double-compare ulp
        scale = float(10 ** clamp_digits)
        adc = (
            f"(CAST(floor({adc} * {sql_dlit(scale)} + 0.5D) AS BIGINT)"
            f" / {sql_dlit(scale)})"
        )
    return F.expr(adc)


def als_factorize_k2(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    rounds: int = 2,
    reg: float = 0.1,
) -> tuple[DataFrame, DataFrame]:
    """Alternating least squares with rank k=2 — the canonical
    distributed matrix-factorization recommender (Koren/Bell/Volinsky
    2009; Zhou et al. 2008 for the ALS-on-a-cluster formulation MLlib
    implements). Each half-round solves, PER ENTITY, the 2x2 ridge
    normal equations against the other side's current factors:

        p_u = (Q_uᵀ Q_u + λI)⁻¹ Q_uᵀ r_u

    With k=2 the solve is closed-form (a 2x2 inverse), so an ALS round
    is nothing but GROUP-BY aggregates over the ratings joined to the
    opposite factor table — five mergeable sums per entity
    (Σq₁², Σq₁q₂, Σq₂², Σq₁r, Σq₂r) and scalar arithmetic. Zero Python,
    zero driver state beyond the loop counter; factor tables are
    entity-cardinality and join RATING-KEYED (never broadcast at
    catalog scale — the item side of a real catalog is huge). That is
    exactly MLlib's data movement with the per-entity LAPACK solve
    replaced by codegen arithmetic; for k>2 swap the closed form for an
    Arrow-batched ``applyInPandas`` normal-equation solve — the
    documented plug point, same join topology.

    Item factors initialize deterministically from the item id
    (1 + (id%7)/7, 1 − (id%5)/10 — full rank across any id set), so the
    whole fit is a pure function of the ratings and an unrolled-CTE
    oracle can replay every round. λI (ridge, λ·n_u scaling per
    Zhou et al.) keeps every 2x2 invertible even for single-rating
    entities. Returns (user_factors, item_factors) as
    (id, f1, f2) — UNROUNDED; callers round at their comparison
    boundary."""
    if rounds < 1:
        raise ValueError(f"als_factorize_k2 needs rounds >= 1, got {rounds}")
    from pyspark.sql.types import NumericType

    if not isinstance(ratings.schema[item_col].dataType, NumericType):
        raise ValueError(
            f"als_factorize_k2 initializes item factors from {item_col} % 7 "
            "— non-numeric item ids would silently NULL every factor; "
            "map ids to integers first"
        )
    r = ratings.select(
        F.col(user_col).alias("u"),
        F.col(item_col).alias("i"),
        F.col(rating_col).cast("double").alias("r"),
    ).localCheckpoint(eager=True)

    items = r.select("i").distinct().select(
        "i",
        (1.0 + (F.col("i") % 7).cast("double") / 7.0).alias("f1"),
        (1.0 - (F.col("i") % 5).cast("double") / 10.0).alias("f2"),
    )

    def solve(side: str, other: DataFrame, other_key: str) -> DataFrame:
        """One half-round: solve ``side``'s factors from ``other``'s."""
        o = other.select(F.col(other_key).alias("_k"), "f1", "f2")
        j = r.join(o, r[other_key] == o["_k"])
        agg = j.groupBy(side).agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("f1") * F.col("f1")).alias("a"),
            F.sum(F.col("f1") * F.col("f2")).alias("b"),
            F.sum(F.col("f2") * F.col("f2")).alias("c"),
            F.sum(F.col("f1") * F.col("r")).alias("d1"),
            F.sum(F.col("f2") * F.col("r")).alias("d2"),
        )
        # ridge: (A + λ·n·I) per Zhou et al.'s weighted-λ ALS
        a = F.col("a") + F.lit(reg) * F.col("n")
        c = F.col("c") + F.lit(reg) * F.col("n")
        b = F.col("b")
        det = a * c - b * b
        return agg.select(
            F.col(side),
            ((c * F.col("d1") - b * F.col("d2")) / det).alias("f1"),
            ((a * F.col("d2") - b * F.col("d1")) / det).alias("f2"),
        )

    users = None
    for rnd in range(rounds):
        users = solve("u", items, "i").localCheckpoint(eager=True)
        # Loop-carried state stays EAGER (shallow DAG per half-round);
        # the LAST item half-round checkpoints lazily — it is never
        # consumed inside the loop, so a caller that only reads the
        # user side (q_als_factors) never executes its join+aggregate
        # at all (guide §1.2: don't compute what you throw away). A
        # caller that does read items materializes it on first use
        # with the identical plan.
        items = solve("i", users, "u").localCheckpoint(
            eager=rnd < rounds - 1
        )
    return (
        users.select(F.col("u").alias(user_col), "f1", "f2"),
        items.select(F.col("i").alias(item_col), "f1", "f2"),
    )


def jl_sign_matrix(out_dim: int, in_dim: int, seed: str = "jl") -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss sign matrix (Achlioptas
    2003: Rademacher entries satisfy the JL lemma with the same
    distortion bound as Gaussians): entry (j, i) is +1 iff the first
    hex nibble of md5("{seed}:{j}:{i}") is even. Pure stdlib, identical
    on any host — the projection is reproducible across engines,
    re-runs, and cluster restarts without persisting a model artifact."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16
            )
            % 2
            == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    signs: list[list[int]],
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: v ∈ ℝᵈ → (S·v)/√k with
    S the ±1 matrix from ``jl_sign_matrix`` — the dimensionality-
    reduction front end for ANN/dedup at 100 TB (d=64 → k=16 cuts every
    downstream shuffle and distance kernel 4×, while the JL lemma
    bounds pairwise-distance distortion). Unlike ``pca_project`` it
    needs NO training pass, no Gram aggregate, no eigh: the matrix is a
    broadcast literal baked into the plan.

    Shape: pure projection — higher-order array expressions (zip_with
    multiply, ordered aggregate fold), JVM-side, zero shuffle,
    scan-rate at any corpus size. Returns
    ``(id, proj, orig_norm, proj_norm, distortion)`` with the projected
    coordinates and norms rounded to 6; distortion = ‖Sv/√k‖/‖v‖ is the
    per-vector JL quality readout (→ 1 for well-spread vectors).
    """
    if not signs or not signs[0]:
        raise ValueError("jl_project needs a non-empty sign matrix")
    k = len(signs)
    inv_sqrt_k = 1.0 / math.sqrt(float(k))
    vec = F.col(vec_col)
    rows = []
    for j in range(k):
        srow = F.array(*[F.lit(float(s)) for s in signs[j]])
        dot = F.aggregate(
            F.zip_with(vec, srow, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        rows.append(dot * F.lit(inv_sqrt_k))
    proj = F.array(*rows)
    sq = lambda a: F.aggregate(  # noqa: E731 — local fold helper
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    orig_norm = F.sqrt(sq(vec))
    proj_norm = F.sqrt(sq(proj))
    return df.select(
        F.col(id_col),
        F.transform(proj, lambda x: F.round(x, 6)).alias("proj"),
        F.round(orig_norm, 6).alias("orig_norm"),
        F.round(proj_norm, 6).alias("proj_norm"),
        F.round(
            proj_norm / F.nullif(orig_norm, F.lit(0.0)), 6
        ).alias("distortion"),
    )


def embedding_drift(
    df: DataFrame,
    vec_col: str,
    is_current,
) -> DataFrame:
    """Embedding-distribution drift monitor between a reference and a
    current cohort (model-ops: did the encoder, the corpus mix, or an
    upstream preprocessing change move the embedding cloud?): per
    dimension, the two cohort means and their delta; riding every row,
    the two whole-cloud summaries — the L2 norm of the mean-shift
    vector and the cosine between the two mean vectors (→ 1 when only
    scale, not direction, changed).

    Shape: the ``standardize_dims`` recipe — one posexplode to
    (dim, cohort) grain where map-side partial aggregation collapses
    each partition to ≤ 2·d rows before the one shuffle; summary stats
    are window sums over the d-row result. Cohort flags come from the
    caller (a snapshot tag, a time cut), so the operator never assumes
    how "current" is defined. Returns one row per dimension
    ``(dim, n_ref, n_cur, mean_ref, mean_cur, delta, l2_shift,
    cosine_means)`` rounded to 6; cosine is NULL if either mean vector
    is numerically zero.
    """
    cur = is_current.cast("int")
    base = df.select(
        cur.alias("__cur"),
        F.posexplode(F.col(vec_col)).alias("dim", "__x"),
    ).select("__cur", "dim", F.col("__x").cast("double").alias("__x"))
    per = base.groupBy("dim").agg(
        F.count(F.when(F.col("__cur") == 0, 1)).cast("long").alias("n_ref"),
        F.count(F.when(F.col("__cur") == 1, 1)).cast("long").alias("n_cur"),
        F.avg(F.when(F.col("__cur") == 0, F.col("__x"))).alias("__mr"),
        F.avg(F.when(F.col("__cur") == 1, F.col("__x"))).alias("__mc"),
    )
    tw = Window.partitionBy()
    delta = F.col("__mc") - F.col("__mr")
    l2 = F.sqrt(F.sum(delta * delta).over(tw))
    dot = F.sum(F.col("__mr") * F.col("__mc")).over(tw)
    nr = F.sqrt(F.sum(F.col("__mr") * F.col("__mr")).over(tw))
    nc = F.sqrt(F.sum(F.col("__mc") * F.col("__mc")).over(tw))
    return per.select(
        F.col("dim").cast("int").alias("dim"),
        "n_ref",
        "n_cur",
        F.round(F.col("__mr"), 6).alias("mean_ref"),
        F.round(F.col("__mc"), 6).alias("mean_cur"),
        F.round(delta, 6).alias("delta"),
        F.round(l2, 6).alias("l2_shift"),
        F.round(
            dot / F.nullif(nr * nc, F.lit(0.0)), 6
        ).alias("cosine_means"),
    )
