"""Deduplication operators for large-scale training-data pipelines.

Five strategies, each scale-shaped for Spark (extension surface mandated by
the north star in BASELINE.json; absent from the reference, SURVEY.md §2.7):

- **exact** — hash-keyed keep-first; one hash aggregate (map-side combined).
- **MinHash + LSH** — shingle → minhash signature → banded buckets →
  candidate pairs by bucket join. Signatures are **map-only** (higher-order
  array functions, no explode/shuffle); the only shuffle is the final
  self-join on (band, bucket), whose fan-out is bounded by bucket size.
- **SimHash** — 16-bit near-dup fingerprint, also map-only per document.
- **n-gram Jaccard** — exact set-overlap within a blocking key; the classic
  token-inverted-index join. Blocked so pair fan-out stays bounded.
- **embedding cosine** — near-dup by vector similarity within a block
  (see similarity.py for the LSH-bucketed scale path).

Hashes are md5-based everywhere (not Spark's ``hash()``/xxhash) so results
are engine-portable and oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from weather_api_automate_etl_spark.functions.layout import estimated_bytes
from weather_api_automate_etl_spark.functions.text import tokens, word_shingles
from weather_api_automate_etl_spark.functions.vectors import (
    cosine_from_norms,
    dot_product,
    l2_norm,
)


def dedup_exact(df: DataFrame, keys: Sequence[Column | str], order_by: str) -> DataFrame:
    """Keep the first row (by ``order_by``) per duplicate-key group.

    ``row_number() OVER (PARTITION BY keys ORDER BY order_by) = 1`` — one
    shuffle on the dedup key. Deterministic, unlike ``dropDuplicates`` whose
    survivor depends on partition order."""
    w = Window.partitionBy(*keys).orderBy(order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_incremental(
    batch: DataFrame,
    known_hashes: DataFrame,
    id_col: str,
    text_col: str = "text",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Incremental exact dedup — the shape a CONTINUOUS ingestion pipeline
    runs: keep only batch rows whose content hash is (a) absent from the
    already-ingested corpus (``known_hashes``: one ``hash_col`` column)
    and (b) the first occurrence within the batch itself (deterministic
    lowest-``id_col`` survivor).

    Scale shape: one anti-join + one window, both keyed on the content
    hash. The known-hash table is corpus-sized, so it is deliberately NOT
    broadcast; at 100 TB both sides bucket-write on the hash and the
    anti-join (and the batch's survivor window) run shuffle-free. The
    caller appends ``md5(text)`` of the survivors back to the hash table
    afterward — the pipeline's state update. NULL text hashes like the
    empty string: md5(NULL) is NULL, a NULL join key never anti-matches,
    and the row would re-ingest every batch (round-10 review)."""
    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    novel = batch.withColumn("__h", h).join(
        known_hashes.select(F.col(hash_col).alias("__h")), "__h", "left_anti"
    )
    w = Window.partitionBy("__h").orderBy(id_col)
    return (
        novel.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__h")
    )


def _shingles_with_fallback(text_col: str, k: int) -> Column:
    """k-word shingles; documents shorter than k tokens contribute their
    whole normalized text as a single shingle (so they can still collide
    with exact duplicates of themselves)."""
    sh = word_shingles(tokens(text_col), k)
    return F.when(F.size(sh) > 0, sh).otherwise(
        F.array(F.lower(F.trim(F.col(text_col))))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature matrix, banded for LSH: (id, band_id, bucket).

    The j-th hash of a document is ``min over shingles of md5(j ':' shingle)``
    (md5 hex min is a valid permutation-min surrogate and is reproducible in
    any engine). A band's bucket is the md5 of its member hashes joined in
    order. Everything up to the output is per-row array math — **zero
    shuffles** — so signature build streams at scan speed at any scale.
    """
    if num_hashes % band_size:
        raise ValueError("num_hashes must be a multiple of band_size")
    n_bands = num_hashes // band_size
    sh = _shingles_with_fallback(text_col, shingle_k)

    # The whole banded signature is ONE nested higher-order expression, with
    # the shingle array bound to a lambda variable via a single-element
    # array wrapper. Without the binding, Catalyst's projection collapse
    # inlines the shingle construction into every per-hash column and
    # recomputes it num_hashes times (measured 3.5× slower at sf0.1).
    # NB: higher-order-function lambdas must take exactly the declared
    # arity — pyspark binds extra (even defaulted) params to the element
    # index — hence nested closures, never `lambda s, j=j`.
    def bucket(shv: Column, b: Column) -> Column:
        minhashes = F.transform(
            F.sequence(b * band_size, b * band_size + (band_size - 1)),
            lambda j: F.array_min(
                F.transform(
                    shv, lambda s: F.md5(F.concat(j.cast("string"), F.lit(":"), s))
                )
            ),
        )
        return F.md5(F.array_join(minhashes, ","))

    banded = F.transform(
        F.array(sh),
        lambda shv: F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band_id"), bucket(shv, b).alias("bucket")
            ),
        ),
    )[0]
    return df.select(F.col(id_col), F.explode(banded).alias("__band")).select(
        id_col, "__band.band_id", "__band.bucket"
    )


def minhash_candidate_pairs(signatures: DataFrame, id_col: str) -> DataFrame:
    """LSH candidate pairs: ids sharing at least one (band, bucket).

    The join key is (band_id, bucket) — pair fan-out is quadratic only in
    per-bucket occupancy, which banding keeps small; this is the standard
    way pairwise near-dup survives 100 TB (never all-pairs)."""
    a = signatures.select(
        F.col(id_col).alias("id_a"), "band_id", "bucket"
    )
    b = signatures.select(
        F.col(id_col).alias("id_b"), "band_id", "bucket"
    )
    return (
        a.join(b, ["band_id", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint: (id, simhash) with a ``bits``-wide signature.

    Each distinct token votes ±1 per bit position according to its md5-derived
    hash; the signature takes the sign of each bit's tally. Near-duplicate
    documents land within small Hamming distance. Map-only per document
    (token hash via md5-hex → int, tallies via ``aggregate``). ``bits``
    must be a multiple of 4 in [4, 60]: the hash word comes from bits/4
    hex chars, and 2^63 cannot live in a signed long."""
    if not (4 <= bits <= 60 and bits % 4 == 0):
        raise ValueError(f"bits must be a multiple of 4 in [4, 60], got {bits}")
    toks = F.array_distinct(tokens(text_col))
    hashes = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, bits // 4), 16, 10).cast("long"),
    )
    def bit_vote(b: int):
        # binary lambda exactly (see lambda-arity note in minhash_signatures)
        return lambda acc, h: acc + (
            F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1
        )

    def signature(hs: Column) -> Column:
        sig = None
        for b in range(bits):
            vote = F.aggregate(hs, F.lit(0).cast("long"), bit_vote(b))
            term = F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
            sig = term if sig is None else sig + term
        return sig

    # Bind the token-hash array once (array-wrapper trick, see
    # minhash_signatures) so md5/conv work isn't re-inlined per bit.
    sig = F.transform(F.array(hashes), signature)[0]
    return df.select(F.col(id_col), sig.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
    shingle_k: int = 1,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within a blocking key.

    Inverted-index join: explode each document's distinct shingles, self-join
    on (block, shingle) to count intersections, then Jaccard = |∩|/(|A|+|B|−|∩|).
    The block column bounds the candidate space (at 100 TB you block on
    LSH buckets or metadata, never cross-join)."""
    sh = (
        _shingles_with_fallback(text_col, shingle_k)
        if shingle_k > 1
        else tokens(text_col)
    )
    toks = df.select(
        F.col(id_col), F.col(block_col).alias("__blk"), F.explode(F.array_distinct(sh)).alias("__t")
    )
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    a = toks.select(F.col(id_col).alias("id_a"), "__blk", "__t")
    b = toks.select(F.col(id_col).alias("id_b"), "__blk", "__t")
    inter = (
        a.join(b, ["__blk", "__t"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    jac = F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i"))
    # sizes is one row per document — never broadcast it (at corpus scale it
    # is as big as the corpus); shuffle-join and let AQE pick the strategy.
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine within a blocking key.

    Blocked self-join + JVM-side cosine (functions/vectors.py). For
    unblocked corpora use similarity.hyperplane_lsh_buckets to derive the
    block first — all-pairs cosine does not exist at scale."""
    # Precompute each row's norm BEFORE the self-join: a pair then costs one
    # dot-product fold instead of three (dot + two norms) — 3× less vector
    # math on the quadratic side. Values are bit-identical (same fold).
    with_norm = df.select(
        F.col(id_col), F.col(block_col).alias("__blk"), F.col(vec_col).alias("__v"),
        l2_norm(vec_col).alias("__n"),
    )
    a = with_norm.select(
        F.col(id_col).alias("id_a"), "__blk",
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = with_norm.select(
        F.col(id_col).alias("id_b"), "__blk",
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    cos = cosine_from_norms(
        dot_product(F.col("__va"), F.col("__vb")), F.col("__na"), F.col("__nb")
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def duplicated_shingle_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document fraction of its distinct word-``k``-shingles that also
    occur in at least one OTHER document — the corpus-contamination
    diagnostic behind C4/Gopher-style partial-duplication filters (a doc
    can be 80% boilerplate shared with thousands of docs without being a
    near-dup of any single one; MinHash misses that, this catches it).

    Shape: explode distinct shingles per doc → shingle-frequency aggregate
    (shuffle on shingle) → join back (co-partitioned on shingle) → per-doc
    aggregate (shuffle on doc). Shingle strings can be md5'd before the
    shuffle to bound row width at scale; kept raw here for oracle parity.

    Documents with fewer than ``k`` tokens (or NULL text) produce no
    shingles and hence NO output row — by design, the oracle mirrors the
    same explode. A caller needing a full census left-joins this back to
    the id table with dup_frac defaulted to 0 (round-10 review note).
    """
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(tokens(text_col), k))).alias(
            "shingle"
        ),
    )
    # one row per (doc, shingle) ⇒ COUNT(*) per shingle == distinct-doc count
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(freq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.round(
                F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Label the connected components of a pair graph: (id, comp) where
    ``comp`` is the smallest id reachable from ``id``.

    The step real dedup pipelines run after LSH candidate generation —
    near-dup pairs are transitive in practice, so survivors must be chosen
    per CLUSTER, not per pair (RefinedWeb/SlimPajama both do MinHash → CC).

    Pregel-style min-label propagation: each round every node takes the min
    label among itself and its neighbors (one join + one min-aggregate,
    both on the node id — fully distributed, no driver-side graph).
    Converges in O(component diameter) rounds; near-dup clusters are
    near-cliques so 2-3 rounds is typical. ``localCheckpoint`` truncates
    the growing lineage each round; convergence is detected from the label
    SUM (monotonically decreasing under min-propagation), costing one
    aggregate per round rather than a self-join.
    """
    sym = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).unionAll(
        edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    # Materialize the edge set ONCE: it joins into every round, and leaving
    # it lazy re-executes the whole upstream candidate-generation pipeline
    # (shingle → minhash → LSH self-join) per iteration — measured 10× on
    # the 20× corpus stress. Edges are fan-out-bounded by construction, so
    # the checkpoint is small relative to the corpus.
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    labels = labels.localCheckpoint(eager=True)
    # The cheap convergence probe (label-sum delta, below) is only sound for
    # numeric ids: non-numeric comp would make sum() NULL (or raise under
    # ANSI), and NULL == NULL would declare false convergence — silent wrong
    # labels. String/other id types fall back to the type-agnostic join probe.
    from pyspark.sql.types import NumericType

    # INTEGRAL ids only: the probe sums labels cast to decimal(38,0),
    # and a fractional label change can round to the SAME sum — a silent
    # early "converged". Fractional id types take the exact join probe.
    from pyspark.sql.types import DecimalType, FractionalType

    ctype = labels.schema["comp"].dataType
    numeric_ids = isinstance(ctype, NumericType) and not (
        isinstance(ctype, FractionalType)
        or (isinstance(ctype, DecimalType) and ctype.scale != 0)
    )
    # seed None: round 1 always relabels any graph with an edge, so paying a
    # pre-loop aggregate job just to compare against it buys nothing
    label_sum = None
    changed = 1
    for _ in range(max_iterations):
        msgs = sym.join(labels, sym["src"] == labels["id"]).select(
            F.col("dst").alias("id"), "comp"
        )
        new_labels = (
            labels.unionByName(msgs).groupBy("id").agg(F.min("comp").alias("comp"))
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        if numeric_ids:
            # Convergence probe without a join: labels only ever DECREASE
            # under min-propagation, so the label sum strictly decreases iff
            # any label changed — one agg over the checkpointed (small)
            # label table per round instead of a self-join. Summed in
            # decimal(38,0) so huge-id corpora cannot overflow-wrap a long
            # into a false "unchanged".
            new_sum = new_labels.agg(
                F.sum(F.col("comp").cast("decimal(38,0)"))
            ).collect()[0][0]
            changed = 0 if (label_sum is not None and new_sum == label_sum) else 1
            label_sum = new_sum
        else:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .limit(1)
                .count()
            )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # Returning silently here would hand out WRONG labels (long-chain
        # components with diameter > max_iterations are still merging).
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (component diameter exceeds the round budget); "
            "raise max_iterations"
        )
    return labels


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Full-corpus duplicate-cluster map: every document labeled with its
    cluster id (= min doc id in its near-dup component; singletons label
    themselves). Survivor selection is then ``cluster_id = doc_id``."""
    comp = connected_components(pairs)
    return (
        docs.select(id_col)
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("comp", F.col(id_col)).alias("cluster_id"),
        )
    )


def cluster_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    length_col: str = "n_chars",
) -> DataFrame:
    """End-to-end dedup survivorship: cluster the pair graph, then keep ONE
    document per cluster by policy (longest content, ties to the lowest id
    — the keep-longest rule common in LLM corpus dedup, vs the min-id rule
    dedup_exact uses). Returns (cluster_id, survivor_id, n_docs).

    One window over the cluster id after the CC label map — survivors are
    chosen per CLUSTER, not per pair, which is the whole point of running
    connected components after LSH (transitive near-dups)."""

    labeled = docs.join(dedup_clusters(docs, pairs, id_col), id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(length_col), F.asc(id_col)
    )
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_docs", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
        )
        .filter(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("survivor_id"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )


def simhash_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = 16,
    chunks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, without an all-pairs scan.

    Pigeonhole blocking: split the ``bits``-wide signature into ``chunks``
    equal slices — two signatures within Hamming distance < ``chunks`` must
    agree EXACTLY on at least one slice, so an equi-join on (slice_id,
    slice_value) finds every such pair (complete, no recall loss), and the
    residual ``bit_count(xor) <= max_hamming`` filter removes false
    candidates. Same shape Google's original SimHash dedup used at crawl
    scale; the only shuffle is the slice equi-join.

    Requires ``max_hamming < chunks`` for completeness.
    """
    if max_hamming >= chunks:
        raise ValueError("pigeonhole completeness needs max_hamming < chunks")
    width = bits // chunks
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.shiftright(F.col(sig_col), c * width).bitwiseAND(F.lit(mask))
            for c in range(chunks)
        ]
    )
    ch = sigs.select(F.col(id_col), F.col(sig_col), F.posexplode(slices))
    a = ch.select(
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("__sig_a"), "pos", "col"
    )
    b = ch.select(
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("__sig_b"), "pos", "col"
    )
    hamming = F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("__sig_b")))
    return (
        a.join(b, ["pos", "col"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ~2 scan splits (at the 128 MB default) per core: the width at which a
# re-executed upstream clearly dominates one materialization. Module
# constant so tests can pin the guarded branch's behavior directly.
_WIDE_BYTES_PER_CORE = 256 * 1024 * 1024


def _wide_input(df) -> bool:
    """True when Catalyst's size estimate (``layout.estimated_bytes``)
    says ``df``'s scan would arrive with roughly ≥ 2x the session
    parallelism in splits. Single-file fixtures and the sf bench layouts
    stay far below the threshold while a 100 TB corpus is orders of
    magnitude above it."""
    est = estimated_bytes(df)
    if est is None:
        # a source Catalyst cannot size. Conservative = not wide (keep the
        # recompute form rather than checkpoint an unknown, possibly
        # tiny frame); every registry consumer is parquet-rooted and
        # gets a real estimate.
        return False
    return est >= df.sparkSession.sparkContext.defaultParallelism * _WIDE_BYTES_PER_CORE


def _span_inventory(df, id_col: str, text_col: str, k: int):
    """Shared span-removal front end: (base, spans) where ``base`` is the
    tokenized frame (id, __toks, __n) and ``spans`` the map-only k-token
    span inventory (id, st, sh) — md5 of each of the n−k+1 windows; the
    HASH, never the span text, is what shuffles downstream.

    ``base`` feeds 3-4 plan branches in both consumers (spans twice, the
    rebuild twice), so the regex tokenize + upstream chain re-executes
    per branch. On a WIDE input (``_wide_input``: Catalyst-estimated
    bytes ≥ ~2 scan splits per core — a real multi-file corpus, never
    the single-file fixtures) ``base`` is lazily localCheckpointed so
    the chain runs once and every branch reads the materialization
    (guide §2.4: eliminate recomputation; §5: localCheckpoint as the
    cheap lineage cut). Below the threshold the checkpoint is skipped —
    measured at sf0.1 the token-array materialization costs what the
    re-execution saves (round-12 A/B), so small inputs keep the
    recompute form."""
    base = df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).withColumn(
        # NULL text counts 0 tokens: size(NULL) is -1 (legacy) or NULL
        # (ANSI), either of which corrupts n_removed (round-10 review)
        "__n", F.greatest(F.coalesce(F.size("__toks"), F.lit(0)), F.lit(0))
    )
    if _wide_input(df):
        base = base.localCheckpoint(eager=False)
    spans = base.filter(F.col("__n") >= k).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("__n") - k),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, k))
                ),
            )
        ).alias("st", "sh"),
    )
    return base, spans


def _rebuild_without(base, covered, id_col: str):
    """Shared span-removal back end: drop the ``covered`` (id, pos) token
    positions and re-join the survivors in position order —
    array_sort(collect_list(struct)) restores order from positions, never
    from shuffle order. Returns (id, clean_text, n_removed) for EVERY
    input document (fully-covered docs come back as '').

    NOTE the rebuild normalizes: clean_text is lowercased with collapsed
    single-space separators (the ``tokens()`` normalization) even for
    documents nothing was removed from — the contract is 'normalized
    tokens minus covered spans', not byte preservation."""
    words = base.select(
        F.col(id_col), F.posexplode("__toks").alias("pos", "w")
    )
    kept = words.join(covered, [id_col, "pos"], "left_anti")
    cleaned = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    return (
        base.select(id_col, "__n")
        .join(cleaned, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("__n") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-span removal (the C4/RefinedWeb "remove
    repeated substrings" pass): every k-token span that occurs in at least
    ``min_docs`` distinct documents is deleted from ALL of them; the
    surviving tokens are re-joined in order.

    Returns ``id_col, clean_text, n_removed`` for every input document.
    Fully-duplicated documents come back as an empty string; documents
    shorter than k tokens lose no tokens but — like every output row —
    get the normalized form of their text (lowercased, single-space
    separators; see ``_rebuild_without``), not the original bytes.

    Shape at scale (no step is corpus-quadratic):
    1. span inventory — map-only (``_span_inventory``);
    2. duplicated-span set — one shingle-keyed aggregate
       (count-distinct docs ≥ min_docs);
    3. cover — spans ⋈ dup-set on the hash (plain shuffle join: the dup
       set is corpus-sized, deliberately NOT broadcast), exploded to
       (doc, position) and de-duplicated;
    4. rebuild — ``_rebuild_without`` (posexploded tokens LEFT ANTI
       cover + position-ordered re-join).
    """
    base, spans = _span_inventory(df, id_col, text_col, k)
    dup = (
        spans.groupBy("sh")
        .agg(F.count_distinct(F.col(id_col)).alias("__ndocs"))
        .filter(F.col("__ndocs") >= min_docs)
        .select("sh")
    )
    covered = (
        spans.join(dup, "sh")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("st"), F.col("st") + (k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    return _rebuild_without(base, covered, id_col)


def neardup_survivors(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Dominated-id removal over a near-dup ``pairs`` frame (id_a < id_b):
    drop every id that appears as the HIGHER side of any pair — one
    distinct + one LEFT ANTI join, both id-keyed.

    This is deliberately NOT greedy SemDeDup: an id whose only lower-id
    neighbor was itself dropped is still removed (pairs {(0,3),(3,5)}
    keep {0}, where greedy would keep {0,5}) — a conservative superset
    of the greedy deletion, chosen because it is join-expressible with
    no iteration. For transitive-closure survivorship (one
    representative per connected component — keeps {0} here too, but by
    cluster reasoning) see ``cluster_survivors``; for exact greedy
    semantics you need the iterative closure anyway."""
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


def remove_intradoc_repeats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """WITHIN-document repeated-span removal (the Gopher/quality-filter
    complement to corpus-level ``remove_duplicated_spans``): every k-token
    span that already occurred EARLIER in the same document is deleted;
    the first occurrence stays. Catches looping/boilerplate generation
    inside a single document. Output rows carry the normalized rebuild
    (see ``_rebuild_without``), not the original bytes.

    Per-doc semantics: a span occurrence at start s is a repeat iff it
    begins at least k tokens after the span's FIRST occurrence in the
    document (s ≥ min_start + k) — true non-overlapping repetition, so
    'a a a a' with k=2 keeps 'a a'. One (doc, span-hash)-keyed min
    aggregate decides; no window, no self-join.
    """
    base, spans = _span_inventory(df, id_col, text_col, k)
    # per (doc, span): the min start is the canonical first occurrence;
    # any occurrence ≥ k after it is non-overlapping repetition. ONE
    # (doc, span)-keyed aggregate carries both the min and the occurrence
    # list — no join back, no window (per-span occurrence lists are
    # bounded by the doc's own length, so collect_list here is safe).
    repeats = (
        spans.groupBy(id_col, "sh")
        .agg(
            F.min("st").alias("min_st"),
            F.collect_list("st").alias("sts"),
        )
        .select(
            F.col(id_col),
            F.explode(
                F.filter(
                    F.col("sts"), lambda s: s >= F.col("min_st") + k
                )
            ).alias("st"),
        )
    )
    covered = repeats.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("st"), F.col("st") + (k - 1))).alias("pos"),
    ).distinct()
    return _rebuild_without(base, covered, id_col)


def embedding_neardup_pairs_vectorized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
) -> DataFrame:
    """Arrow/NumPy twin of ``embedding_neardup_pairs`` for DENSE buckets:
    one ``applyInPandas`` per blocking key computes the whole in-bucket
    cosine matrix as a single BLAS gemm (X·Xᵀ / outer norms) instead of
    per-pair fold expressions, and emits qualifying (id_a, id_b) pairs
    with id_a < id_b.

    When to prefer which: the HOF version keeps everything JVM-side and
    wins for small buckets (no Python round-trip); this one wins when
    per-bucket occupancy is large enough that the d-length fold per pair
    dominates (gemm is ~d× less instruction traffic per pair). Same
    blocking contract — per-bucket memory is O(occupancy²), so the
    blocking key must keep buckets bounded, exactly as for the join path.

    Emits the PAIR SET only (no score column): NumPy's pairwise-summation
    dot differs from the sequential JVM/DuckDB fold in the last ulp, so
    scores are not bit-comparable across engines — membership at a fixed
    threshold is (rounded to 6dp before comparing, like the join path).
    Duplicate ids inside a bucket never yield a (x, x) self-pair, and the
    id columns keep the input id type — both matching the HOF twin.
    """
    id_type = dict(df.dtypes)[id_col]  # preserve the caller's id type

    def pairs_fn(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        V = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        if len(ids) < 2:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})
        n = np.linalg.norm(V, axis=1)
        denom = np.outer(n, n)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.round((V @ V.T) / denom, 6)
        cos[denom == 0] = -np.inf  # zero-norm rows pair with nothing
        ia, ib = np.nonzero(np.triu(cos >= threshold, k=1))
        a, b = ids[ia], ids[ib]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        keep = lo != hi  # duplicate ids in a bucket are not a self-pair
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    # no distinct needed: each row carries exactly one block value, so a
    # pair can only materialize inside its one shared bucket. NULL
    # blocks/vectors drop up front to MATCH the join twin (equi-joins
    # never match NULL keys) — groupBy would otherwise pool every
    # unblockable row into one giant bucket, and np.array over mixed
    # None/array raises.
    return (
        df.select(F.col(block_col).alias("__blk"), id_col, vec_col)
        .filter(F.col("__blk").isNotNull() & F.col(vec_col).isNotNull())
        .groupBy("__blk")
        .applyInPandas(pairs_fn, schema=f"id_a {id_type}, id_b {id_type}")
    )


def fuzzy_match_blocked(
    df: DataFrame,
    key_col: str,
    block_col: str,
    name_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Fuzzy name matching inside blocks: row pairs whose ``name_col``
    Levenshtein distance is ≤ ``max_dist`` — the entity-resolution
    primitive (dirty catalog/vendor/customer names) that exact and
    shingle dedup both miss. BLOCKED on ``block_col`` so the quadratic
    pair set is per-block only (the LSH-bucket discipline — never
    all-pairs; with no natural block, LSH over name shingles provides
    one). ``levenshtein`` is the JVM built-in, evaluated only on
    in-block pairs. Input is repartitioned to the session parallelism
    first: the probe side of the (typically broadcast) block join
    inherits SCAN partitioning, and a single-file table would otherwise
    enumerate every pair on one core (measured 20× wall-time parity in
    SCALING.md's fifth-wave table).

    Returns ``(p1, p2, block_col, dist)`` with ``p1 < p2``.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    a = df.select(
        F.col(key_col).alias("p1"), block_col, F.col(name_col).alias("name_a")
    )
    b = df.select(
        F.col(key_col).alias("p2"), block_col, F.col(name_col).alias("name_b")
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, block_col)
        .filter(F.col("p1") < F.col("p2"))
        .filter(dist <= max_dist)
        .select("p1", "p2", block_col, dist.cast("int").alias("dist"))
    )


def fellegi_sunter_link(
    a: DataFrame,
    b: DataFrame,
    key_a: str,
    key_b: str,
    block_cols: Sequence[str],
    fields: Sequence[tuple[str, float, float]],
    min_score: float | None = None,
) -> DataFrame:
    """Probabilistic record linkage (Fellegi–Sunter 1969): blocked
    candidate pairs scored by summed per-field log-likelihood weights —
    agreement on field i contributes log2(m_i/u_i), disagreement
    log2((1−m_i)/(1−u_i)) — the principled upgrade over a single edit
    distance (fuzzy_match_blocked) when fields have very different
    discriminating power (an account-balance match is worth far more
    than a market-segment match). ``fields`` is (column, w_agree,
    w_disagree) with the weights precomputed from the m/u probabilities
    — estimating m/u (EM over the match/unmatch mixture) is upstream
    model fitting, not engine work.

    Same 100 TB shape as every ER operator here: the quadratic explosion
    is contained by the block equi-join (never all-pairs); the score is a
    pure per-pair column expression; a missing field on EITHER side
    compares as a normal disagreement, never a NULL score — including
    the both-NULL case, which carries zero information and must not earn
    agreement weight (the eqNullSafe(NULL, NULL)=true trap, round-10
    review). Returns (key_a, key_b, score) filtered to score ≥
    min_score. ``key_a`` and ``key_b`` must differ — the output carries
    both as columns, so identical names would be ambiguous."""
    if not block_cols:
        raise ValueError(
            "fellegi_sunter_link requires blocking columns — an unblocked "
            "linkage is an all-pairs cartesian, which never survives scale"
        )
    if not fields:
        raise ValueError("fellegi_sunter_link requires at least one field")
    if key_a == key_b:
        raise ValueError(
            f"key_a and key_b must differ (both {key_a!r}): the output "
            "carries both key columns — rename one side first"
        )
    av = a.select(
        F.col(key_a),
        *[F.col(c).alias(f"__ba_{c}") for c in block_cols],
        *[F.col(f).alias(f"__a_{f}") for f, _, _ in fields],
    )
    bv = b.select(
        F.col(key_b),
        *[F.col(c).alias(f"__bb_{c}") for c in block_cols],
        *[F.col(f).alias(f"__b_{f}") for f, _, _ in fields],
    )
    cond = None
    for c in block_cols:
        eq = F.col(f"__ba_{c}") == F.col(f"__bb_{c}")
        cond = eq if cond is None else cond & eq
    score = None
    for f, w_agree, w_disagree in fields:
        term = F.when(
            F.col(f"__a_{f}").eqNullSafe(F.col(f"__b_{f}"))
            & F.col(f"__a_{f}").isNotNull(),
            F.lit(float(w_agree)),
        ).otherwise(F.lit(float(w_disagree)))
        score = term if score is None else score + term
    out = av.join(bv, cond).select(
        key_a, key_b, F.round(score, 6).alias("score")
    )
    if min_score is not None:
        out = out.filter(F.col("score") >= float(min_score))
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
    shingle_k: int = 1,
) -> DataFrame:
    """Exact token/shingle-set CONTAINMENT pairs within a blocking key —
    the asymmetric complement to ``ngram_jaccard_pairs`` above: Jaccard
    misses a document embedded in a much larger one (|A ∩ B|/|A ∪ B| is
    dragged down by the big doc), while containment c(A→B) = |A ∩ B|/|A|
    is 1.0 whenever A's content is fully inside B regardless of B's size
    — the doc-inside-doc signal behind quote/boilerplate detection and
    the reason Broder defined BOTH resemblance and containment in the
    original shingling paper (Broder 1997, "On the resemblance and
    containment of documents").

    Same inverted-index join shape as the Jaccard operator (explode
    distinct shingles, equi-join on (block, shingle), count — candidate
    space bounded by the block, never all-pairs), emitting both
    directions plus their max; pairs are kept when the MAX containment
    clears ``threshold`` (either direction mostly-inside the other).
    Returns (id_a, id_b, c_ab, c_ba, containment), rounded to 6."""
    sh = (
        _shingles_with_fallback(text_col, shingle_k)
        if shingle_k > 1
        else tokens(text_col)
    )
    toks = df.select(
        F.col(id_col), F.col(block_col).alias("__blk"),
        F.explode(F.array_distinct(sh)).alias("__t"),
    )
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    a = toks.select(F.col(id_col).alias("id_a"), "__blk", "__t")
    b = toks.select(F.col(id_col).alias("id_b"), "__blk", "__t")
    inter = (
        a.join(b, ["__blk", "__t"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    c_ab = F.round(F.col("__i") / F.col("__na"), 6)
    c_ba = F.round(F.col("__i") / F.col("__nb"), 6)
    # sizes is corpus-cardinality: shuffle-join it (never broadcast)
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a", "id_b",
            c_ab.alias("c_ab"),
            c_ba.alias("c_ba"),
            F.greatest(c_ab, c_ba).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def lsh_recall_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Recall/precision audit of the MinHash-LSH banding scheme against
    EXACT shingle-set Jaccard — the measure-your-dedup step every
    corpus pipeline needs before trusting a banding config: theory says
    a (bands, rows) scheme catches a J-similar pair with probability
    1−(1−J^rows)^bands; this measures it on the actual corpus.

    Truth side: exact Jaccard ≥ ``threshold`` pairs over the SAME
    k-shingle sets the sketch hashes (inverted-index join on the
    shingle — candidate space bounded by shared shingles, never
    all-pairs). Candidate side: ``minhash_signatures`` →
    ``minhash_candidate_pairs`` with the audited (num_hashes,
    band_size). One full-outer join on the pair key classifies every
    pair as hit / miss / false-candidate; all counts are exact.

    Returns ONE row ``(threshold, n_true, n_candidates, n_hit, recall,
    precision)`` — recall = hits/true (NULL when no true pairs),
    precision = hits/candidates (NULL when no candidates; it is
    expected to be well below 1: sub-threshold candidates are the
    verify stage's job, recall is what banding must deliver).
    """
    truth = ngram_jaccard_pairs(
        df.withColumn("__all", F.lit(1)),
        id_col,
        text_col,
        block_col="__all",
        threshold=threshold,
        shingle_k=shingle_k,
    ).select("id_a", "id_b", F.lit(1).alias("__t"))
    cand = minhash_candidate_pairs(
        minhash_signatures(
            df,
            id_col,
            text_col,
            num_hashes=num_hashes,
            band_size=band_size,
            shingle_k=shingle_k,
        ),
        id_col,
    ).select("id_a", "id_b", F.lit(1).alias("__c"))
    tagged = truth.join(cand, ["id_a", "id_b"], "full")
    agg = tagged.agg(
        F.count("__t").cast("long").alias("n_true"),
        F.count("__c").cast("long").alias("n_candidates"),
        F.count(F.when(F.col("__t").isNotNull() & F.col("__c").isNotNull(), 1))
        .cast("long")
        .alias("n_hit"),
    )
    return agg.select(
        F.lit(float(threshold)).alias("threshold"),
        "n_true",
        "n_candidates",
        "n_hit",
        F.round(
            F.col("n_hit")
            / F.nullif(F.col("n_true").cast("double"), F.lit(0.0)),
            6,
        ).alias("recall"),
        F.round(
            F.col("n_hit")
            / F.nullif(F.col("n_candidates").cast("double"), F.lit(0.0)),
            6,
        ).alias("precision"),
    )
